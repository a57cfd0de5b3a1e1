"""Seeded input tables for the benchmark.

Every table the catalog reads is drawn here from ``numpy.random`` with the
run's seed, so the same seed gives byte-identical parquet and a fresh seed
gives an independent draw of the same model. The model follows the
repository's scale generators (``scripts/make_scale_*.py``): uniform keys
and values over the ranges of the sf0.1 test tables, the same label
sets, and a 30-word document vocabulary, but with fixed parameters instead
of sampling an existing draw, so nothing outside the checkout is read.

Scales are TPC-H scale factors (sf1 = 6M lineitem rows): ``tpch_scale``
sizes the TPC-H and events tables, ``text_scale`` the documents and
embeddings.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
NAME_WORDS = "anvil blue bolt cold gear hot large old plate red ring rod widget".split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "en", "en", "es", "fr", "zh")
DIMS = 64

# Row counts at sf1, in the proportions of the TPC-H and test tables.
ROWS_SF1 = {
    "supplier": 10_000,
    "customer": 150_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}


def _dates(rng, lo: str, hi: str, n: int, unit: str = "s") -> np.ndarray:
    start = np.datetime64(lo, "us")
    span = int((np.datetime64(hi, "us") - start) / np.timedelta64(1, unit))
    step = np.timedelta64(1, unit).astype("timedelta64[us]")
    return start + rng.integers(0, span, n) * step


def _pick(rng, labels, n: int) -> np.ndarray:
    return np.array(labels, dtype=object)[rng.integers(0, len(labels), n)].astype(str)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(rng, scale: float) -> dict[str, pa.Table]:
    n = {t: max(1, int(c * scale)) for t, c in ROWS_SF1.items()}
    n_sup, n_cust, n_part = n["supplier"], n["customer"], n["part"]
    n_ord, n_li = n["orders"], n["lineitem"]
    w1, w2 = rng.integers(0, len(NAME_WORDS), (2, n_part))
    return {
        "region": pa.table(
            {
                "r_regionkey": np.arange(5, dtype=np.int32),
                "r_name": list(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_sup, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
                "s_nationkey": rng.integers(0, 25, n_sup).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_sup),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [f"{NAME_WORDS[a]} {NAME_WORDS[b]}" for a, b in zip(w1, w2)],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", n_ord, "D"),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li),
                "l_partkey": rng.integers(0, n_part, n_li),
                "l_suppkey": rng.integers(0, n_sup, n_li),
                "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
                "l_linestatus": _pick(rng, ("F", "O"), n_li),
                "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", n_li, "D"),
            }
        ),
    }


def events_table(rng, scale: float) -> pa.Table:
    n = max(1, int(ROWS_SF1["events"] * scale))
    n_users = max(1, n // 66)
    ts = np.sort(_dates(rng, "2024-01-01", "2024-01-31", n, "us"))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, n_users, n),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": _money(rng, 0.0, 560.0, n),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def documents_table(rng, scale: float) -> pa.Table:
    """Random word sequences, 10-100 words. One document in 20 is a
    near-duplicate (one word swapped for ``dup``) of an earlier one and one
    in 500 an exact copy, so the dedup lanes have real pairs to find."""
    n = max(2, int(ROWS_SF1["documents"] * scale))
    voc = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        kind = rng.random()
        if i > 0 and kind < 0.05:
            words = texts[rng.integers(0, i)].split(" ")
            words[rng.integers(0, len(words))] = "dup"
            texts.append(" ".join(words))
        elif i > 0 and kind < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(voc[rng.integers(0, len(voc), rng.integers(10, 101))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(_pick(rng, LANGS, n), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(rng, scale: float) -> pa.Table:
    """Ten Gaussian clusters in 64 dimensions; ``label`` is the cluster."""
    n = max(10, int(ROWS_SF1["embeddings"] * scale))
    centers = rng.normal(0.0, 0.1, (10, DIMS))
    label = rng.integers(0, 10, n)
    emb = (centers[label] + rng.normal(0.0, 0.08, (n, DIMS))).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), DIMS).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def change_log(rng, orders: pa.Table, frac: float = 0.05) -> pa.Table:
    """A CDC batch over ``orders``: updates and deletes of existing keys
    plus inserts of new keys, several changes per key, each with a
    globally unique ``change_seq`` so the latest change per key is
    unambiguous."""
    n_ord = orders.num_rows
    n = max(3, int(n_ord * frac))
    keys = np.where(
        rng.random(n) < 0.8,
        rng.integers(0, n_ord, n),
        n_ord + rng.integers(0, max(1, n // 4), n),
    )
    ops = np.where(keys >= n_ord, "I", np.where(rng.random(n) < 0.7, "U", "D"))
    return pa.table(
        {
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": rng.integers(0, n_ord // 10 + 1, n),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", n, "D"),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
            "op": ops.astype(str),
            "change_seq": rng.permutation(n).astype(np.int64),
        }
    )


def generate(out_dir: str, seed: int, tpch_scale: float, text_scale: float,
             names: tuple[str, ...]) -> dict:
    """Write the tables in ``names`` to ``out_dir``; returns {table: rows}.
    Every table is drawn, so a table's rows do not depend on which others
    are written."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = tpch_tables(rng, tpch_scale)
    tables["events"] = events_table(rng, tpch_scale)
    tables["documents"] = documents_table(rng, text_scale)
    tables["embeddings"] = embeddings_table(rng, text_scale)
    tables["orders_changes"] = change_log(rng, tables["orders"])
    for name in names:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return {name: tables[name].num_rows for name in names}


if __name__ == "__main__":
    # gen.py OUT_DIR SEED TPCH_SCALE TEXT_SCALE TABLE...: prints {table: rows}.
    # Run as its own process, so the benchmark's process has not imported
    # numpy or pyarrow before its set-up is timed.
    out, seed, tpch, text, *names = sys.argv[1:]
    print(json.dumps(generate(out, int(seed), float(tpch), float(text), tuple(names))))
