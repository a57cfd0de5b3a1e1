"""Unit tests with hand-built inputs and known answers (the reference's
test style, tests/test_smoke.py:25-77 in /root/reference) for graph, dedup,
windows, and text operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_algorithms_with_pyspark_spark.operators.dedup import (
    exact_dedup_groups,
    exact_deduplicate,
    minhash_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_candidate_pairs,
)
from data_algorithms_with_pyspark_spark.operators.graph import (
    bidirectional_edges,
    degrees,
    triangles,
    two_hop_paths,
    vertices_from_edges,
)
from data_algorithms_with_pyspark_spark.operators.similarity import cosine_topk
from data_algorithms_with_pyspark_spark.operators.text import language_id
from data_algorithms_with_pyspark_spark.operators.windows import sessionize


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, ["src", "dst"])


def test_graph_known_answers(spark):
    # a->b, b->a (bidirectional); a->b->c->a (triangle); c->d
    e = _edges(
        spark, [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"), ("c", "d")]
    )
    assert sorted(r["id"] for r in vertices_from_edges(e).collect()) == [
        "a", "b", "c", "d",
    ]

    deg = {r["id"]: (r["out_degree"], r["in_degree"]) for r in degrees(e).collect()}
    assert deg == {"a": (1, 2), "b": (2, 1), "c": (2, 1), "d": (0, 1)}

    assert [tuple(r) for r in bidirectional_edges(e).collect()] == [("a", "b")]

    hops = {(r["a"], r["c"]): r["n_paths"] for r in two_hop_paths(e).collect()}
    # a->b->c, a->b->a excluded (a==c), b->c->a, b->c->d, c->a->b
    assert hops == {("a", "c"): 1, ("b", "a"): 1, ("b", "d"): 1, ("c", "b"): 1}

    tri = [tuple(r) for r in triangles(e).collect()]
    assert tri == [("a", "b", "c")]


def test_exact_dedup_with_planted_duplicates(spark):
    docs = spark.createDataFrame(
        [
            (1, "Hello   World"),
            (2, "hello world"),  # dup of 1 after normalization
            (3, "something else"),
        ],
        ["doc_id", "text"],
    )
    groups = exact_dedup_groups(docs).collect()
    by_keep = {r["keep_id"]: r["dup_count"] for r in groups}
    assert by_keep == {1: 2, 3: 1}

    kept = sorted(r["doc_id"] for r in exact_deduplicate(docs).collect())
    assert kept == [1, 3]


def test_minhash_finds_planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("lazy", "sleepy")),  # near-dup of 1
            (3, "completely different content about spark query engines at scale"),
        ],
        ["doc_id", "text"],
    )
    sigs = minhash_signatures(docs)
    assert sigs.select(F.size("signature")).first()[0] == 64
    pairs = {
        (r["id_1"], r["id_2"]): r["est_jaccard"]
        for r in minhash_candidate_pairs(sigs).collect()
    }
    assert (1, 2) in pairs
    assert pairs[(1, 2)] > 0.3
    assert (1, 3) not in pairs

    exact = {
        (r["id_1"], r["id_2"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, 0.0).collect()
    }
    assert exact[(1, 2)] > 0.5
    assert exact[(1, 3)] < 0.1
    # LSH estimate should be in the neighborhood of exact jaccard
    assert abs(pairs[(1, 2)] - exact[(1, 2)]) < 0.35


def test_simhash_near_dup(spark):
    base = "one two three four five six seven eight nine ten eleven twelve"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " thirteen"), (3, "alpha beta gamma delta")],
        ["doc_id", "text"],
    )
    hashes = simhash(docs)
    pairs = {
        (r["id_1"], r["id_2"]): r["hamming"]
        for r in simhash_candidate_pairs(hashes).collect()
    }
    assert (1, 2) in pairs
    assert pairs[(1, 2)] <= 12  # near-dups agree on most bits


def test_cosine_topk_self_similarity(spark):
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),   # closest to 0
            (2, [0.0, 1.0, 0.0]),   # orthogonal
            (3, [-1.0, 0.0, 0.0]),  # opposite
        ],
        ["vec_id", "embedding"],
    )
    top = cosine_topk(vecs, query_id=0, k=3).collect()
    assert [r["vec_id"] for r in top] == [1, 2, 3]
    assert top[0]["cosine"] > 0.99
    assert abs(top[1]["cosine"]) < 1e-9
    assert top[2]["cosine"] == -1.0


def test_sessionize_gap_rule(spark):
    rows = [
        (1, "2024-01-01 10:00:00", 100),
        (2, "2024-01-01 10:10:00", 100),  # same session (10 min gap)
        (3, "2024-01-01 11:00:00", 100),  # new session (50 min gap)
        (4, "2024-01-01 10:00:00", 200),  # other user
    ]
    events = spark.createDataFrame(
        rows, ["event_id", "ts_str", "user_id"]
    ).withColumn("ts", F.to_timestamp("ts_str"))
    sessions = {
        r["event_id"]: r["session_id"] for r in sessionize(events).collect()
    }
    assert sessions == {1: 0, 2: 0, 3: 1, 4: 0}


def test_language_id_markers(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog in a house"),
            (2, "el perro y la casa de los gatos en una calle"),
            (3, "der hund und die katze ist nicht hier"),
            (4, "xyzzy plugh qwerty"),
        ],
        ["doc_id", "text"],
    )
    langs = {r["doc_id"]: r["pred_lang"] for r in language_id(docs).collect()}
    assert langs == {1: "en", 2: "es", 3: "de", 4: "und"}


def test_language_id_confusion_planted(spark):
    """keep_cols carries the truth label through the one-scan projection;
    the confusion counts must match the planted (truth, pred) pairs."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog in a house", "en"),     # en -> en
            (2, "el perro y la casa de los gatos", "en"),    # en -> es (miss)
            (3, "der hund und die katze ist nicht", "de"),   # de -> de
            (4, "xyzzy plugh qwerty", "zh"),                 # zh -> und (miss)
        ],
        ["doc_id", "text", "lang"],
    )
    got = {
        (r["lang"], r["pred_lang"]): r["n_docs"]
        for r in language_id(docs, keep_cols=("lang",))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
        .collect()
    }
    assert got == {
        ("en", "en"): 1,
        ("en", "es"): 1,
        ("de", "de"): 1,
        ("zh", "und"): 1,
    }


def test_funnel_stage_times_planted(spark):
    import datetime as dt

    import pytest

    from data_algorithms_with_pyspark_spark.operators.windows import (
        funnel_stage_times,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)  # noqa: E731
    rows = [
        # user 1: clean completion, out-of-order noise ignored
        (1, s(0), "b"),
        (1, s(10), "a"),  # first a AFTER a 'b' that must not count
        (1, s(20), "b"),
        (1, s(30), "c"),
        # user 2: reaches b only; the c BEFORE b must not count
        (2, s(0), "a"),
        (2, s(1), "c"),
        (2, s(2), "b"),
        # user 3: same-timestamp a and b -> strict > rejects the b
        (3, s(5), "a"),
        (3, s(5), "b"),
        # user 4: never enters the funnel (only noise)
        (4, s(0), "x"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = {
        r["user_id"]: (r["t_a"], r["t_b"], r["t_c"])
        for r in funnel_stage_times(df, ("a", "b", "c")).collect()
    }
    us = lambda sec: int((s(sec) - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)  # noqa: E731
    assert out[1] == (us(10), us(20), us(30))
    assert out[2] == (us(0), us(2), None)
    assert out[3] == (us(5), None, None)
    assert 4 not in out  # filtered with no funnel events at all
    with pytest.raises(ValueError):
        funnel_stage_times(df, ("a",))
    with pytest.raises(ValueError):
        funnel_stage_times(df, ("a", "a"))


# --- ordering / sampling scale patterns -------------------------------------


def test_global_row_index_contiguous_and_ordered(spark):
    from data_algorithms_with_pyspark_spark.operators.ordering import (
        global_row_index,
    )

    rows = [(i, f"src{i % 3}") for i in range(97)]
    df = spark.createDataFrame(rows, "id long, src string").repartition(8)
    out = global_row_index(df, ["src", "id"], num_partitions=5).collect()
    assert sorted(r["row_idx"] for r in out) == list(range(97))
    by_order = sorted(out, key=lambda r: (r["src"], r["id"]))
    assert [r["row_idx"] for r in by_order] == list(range(97))


def test_global_row_index_deterministic(spark):
    from data_algorithms_with_pyspark_spark.operators.ordering import (
        global_row_index,
    )

    df = spark.createDataFrame(
        [(i,) for i in range(50)], "id long"
    ).repartition(7)
    a = {r["id"]: r["row_idx"] for r in global_row_index(df, ["id"]).collect()}
    b = {r["id"]: r["row_idx"] for r in global_row_index(df, ["id"]).collect()}
    assert a == b == {i: i for i in range(50)}


def test_group_hash_topk_exact_sizes_and_determinism(spark):
    from data_algorithms_with_pyspark_spark.operators.sampling import (
        group_hash_topk,
    )

    rows = [(i, "big" if i < 40 else "small") for i in range(45)]
    df = spark.createDataFrame(rows, "id long, grp string")
    out = group_hash_topk(df, "grp", "id", 10)
    got = out.groupBy("grp").count().collect()
    sizes = {r["grp"]: r["count"] for r in got}
    assert sizes == {"big": 10, "small": 5}  # capped vs exhausted group
    ids1 = sorted(r["id"] for r in out.collect())
    ids2 = sorted(r["id"] for r in group_hash_topk(df, "grp", "id", 10).collect())
    assert ids1 == ids2


def test_group_hash_topk_plans_window_group_limit(spark):
    from data_algorithms_with_pyspark_spark.operators.sampling import (
        group_hash_topk,
    )

    df = spark.createDataFrame([(i, i % 2) for i in range(20)], "id long, g int")
    plan = group_hash_topk(df, "g", "id", 3)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_incremental_minhash_planted_dup_found_history_pairs_never(spark):
    from data_algorithms_with_pyspark_spark.operators.dedup import (
        incremental_minhash_candidates,
        minhash_signatures,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep green forest before nightfall arrives"
    )
    rows = [
        (1, base),                     # history
        (2, base),                     # history: exact dup of 1 (must NOT pair)
        (3, "completely different words about spark shuffles and joins "
            "with nothing shared at all in any shingle window here"),
        (100, base),                   # new: dup of history 1 and 2
        (101, "unique new document mentioning catalyst optimizer rules "
              "and adaptive query execution exclusively right here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(docs).persist()
    new_sigs = sigs.where(F.col("doc_id") >= 100)
    hist_sigs = sigs.where(F.col("doc_id") < 100)
    got = incremental_minhash_candidates(
        new_sigs, hist_sigs, min_jaccard=0.5
    ).collect()
    pairs = {(r["id_new"], r["id_hist"]) for r in got}
    assert (100, 1) in pairs and (100, 2) in pairs
    assert all(p[0] >= 100 for p in pairs)  # id_new only from the increment
    assert not any(p[0] == 101 for p in pairs)  # unique doc pairs with nothing
    for r in got:
        assert r["est_jaccard"] >= 0.5
    sigs.unpersist()


def test_knn_join_srp_finds_planted_neighbors(spark):
    """SRP's guarantee is recall on genuinely-similar pairs (identical
    vectors share every sign bit, hence every band bucket) — uniform-random
    corpus pairs (cos ~0.4 at 64-dim) are BELOW the similarity LSH prunes
    for, so the planted copy, not a random pair, is the contract to test.
    Each query is a corpus vector re-issued under a new id: the source must
    come back as its rank-1 neighbor with cosine 1.0, through the banded
    join alone."""
    from data_algorithms_with_pyspark_spark.operators.similarity import (
        knn_join_srp,
    )
    from data_algorithms_with_pyspark_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_SMOKE, "embeddings")
    corpus = emb.where(F.col("vec_id") < 80)
    queries = corpus.where(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    got = knn_join_srp(queries, corpus, dim=64, k=3).collect()
    rank1 = {r["q_id"]: (r["n_id"], r["cosine"]) for r in got if r["rank"] == 1}
    for qid in range(1000, 1008):
        assert rank1[qid] == (qid - 1000, 1.0), rank1.get(qid)


def test_knn_join_plans_window_group_limit(spark):
    from data_algorithms_with_pyspark_spark.operators.similarity import knn_join
    from data_algorithms_with_pyspark_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_SMOKE, "embeddings")
    df = knn_join(emb.where(F.col("vec_id") < 4), emb.where(F.col("vec_id") >= 4), k=2)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_hard_negatives_labels_differ_and_plan_shape(spark):
    """Every mined negative carries a label different from its anchor's;
    a planted same-label twin of the anchor (cosine 1.0) must NOT appear,
    while a planted other-label twin must be rank 1. Plan keeps the
    knn_join shape: broadcast anchors + WindowGroupLimit."""
    from data_algorithms_with_pyspark_spark.operators.similarity import (
        hard_negatives,
    )
    from data_algorithms_with_pyspark_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_SMOKE, "embeddings")
    anchors = emb.where(F.col("vec_id") < 4)
    # corpus = rest + for anchor 0: a same-label twin and an other-label twin
    twin_same = anchors.where(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 9000).alias("vec_id"), "embedding", "label"
    )
    twin_other = anchors.where(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 9001).alias("vec_id"),
        "embedding",
        (F.col("label") + 1).alias("label"),
    )
    corpus = emb.where(F.col("vec_id") >= 4).union(twin_same).union(twin_other)
    df = hard_negatives(anchors, corpus, k=3)
    rows = df.collect()
    assert all(r["q_label"] != r["n_label"] for r in rows)
    assert 9000 not in {r["n_id"] for r in rows}
    mined0 = {r["rank"]: r for r in rows if r["q_id"] == 0}
    assert (mined0[1]["n_id"], mined0[1]["cosine"]) == (9001, 1.0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_global_ranked_prefix_sum_matches_single_window(spark):
    from pyspark.sql.window import Window

    from data_algorithms_with_pyspark_spark.operators.ordering import (
        global_ranked_prefix_sum,
    )

    rows = [(f"t{i:03d}", (i * 7) % 13 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "term string, n long").repartition(9)
    got = {
        r["term"]: (r["rank"], r["cum_value"], r["total_value"])
        for r in global_ranked_prefix_sum(
            df, [F.col("n").desc(), F.col("term").asc()], "n",
            num_partitions=5,
        ).collect()
    }
    w = Window.orderBy(F.col("n").desc(), F.col("term").asc())
    cum_w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    expected = {
        r["term"]: (r["rank"], r["cum"], r["total"])
        for r in df.select(
            "term",
            F.row_number().over(w).cast("long").alias("rank"),
            F.sum("n").over(cum_w).alias("cum"),
            F.sum("n").over(Window.partitionBy()).alias("total"),
        ).collect()
    }
    assert got == expected


def test_similarity_join_planted_matches_and_df_cap(spark):
    from data_algorithms_with_pyspark_spark.operators.fuzzy import (
        similarity_join,
    )

    left = spark.createDataFrame(
        [(1, "acme corporation"), (2, "zenith labs"), (3, "qqq")],
        "id long, name string",
    )
    right = spark.createDataFrame(
        [(10, "acme corp"), (11, "zenith labs inc"), (12, "unrelated name")],
        "id long, name string",
    )
    got = {
        (r["id_l"], r["id_r"]): r["jaccard"]
        for r in similarity_join(
            left, right, "id", "name", "id", "name", 0.4
        ).collect()
    }
    assert (1, 10) in got and (2, 11) in got
    assert (3, 12) not in got and (1, 12) not in got
    for j in got.values():
        assert 0.4 <= j <= 1.0
    # hot-shingle cap: with max_shingle_df=0 every posting is dropped ->
    # no candidates at all (the documented recall trade, extreme case)
    empty = similarity_join(
        left, right, "id", "name", "id", "name", 0.4, max_shingle_df=0
    ).collect()
    assert empty == []


def test_rerank_topk_two_stage_retrieval(spark):
    """Candidates from the SRP stage rerank through the Arrow-batched
    scorer: the planted duplicate must stay rank 1, ranks are 1..k, and
    the scorer plans as ArrowEvalPython (never row-wise BatchEvalPython)."""
    from data_algorithms_with_pyspark_spark.operators.similarity import (
        knn_join_srp,
        rerank_topk,
    )
    from data_algorithms_with_pyspark_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    corpus = emb.where(F.col("vec_id") < 80)
    queries = corpus.where(F.col("vec_id") < 4).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    cand = knn_join_srp(queries, corpus, dim=64, k=10).select("q_id", "n_id")
    out = rerank_topk(cand, queries, corpus, k=3)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
    rows = out.collect()
    rank1 = {r["q_id"]: r["n_id"] for r in rows if r["rank"] == 1}
    for qid in range(1000, 1004):
        assert rank1[qid] == qid - 1000  # planted source survives rerank
    assert all(1 <= r["rank"] <= 3 for r in rows)


def test_minhash_md5_matches_python_reference(spark):
    """md5_long60's Spark construction (conv/substring/md5) must equal the
    plain-Python reference — the property every DuckDB oracle relies on."""
    import hashlib

    from data_algorithms_with_pyspark_spark.operators.dedup import md5_long60

    vals = ["", "a", "the quick brown fox", "123", "naïve unicode ✓"]
    df = spark.createDataFrame([(v,) for v in vals], ["s"])
    got = {r["s"]: r["h"] for r in df.select("s", md5_long60(F.col("s")).alias("h")).collect()}
    for v in vals:
        expect = int(hashlib.md5(v.encode("utf-8")).hexdigest()[:15], 16)
        assert got[v] == expect, v


def test_minhash_bucket_cap_drops_exact_dup_floods(spark):
    """A group of exact duplicates agrees on EVERY band; with the cap the
    flood contributes no pairs, while a genuine near-dup pair (bucket
    size 2) survives."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    flood = "identical boilerplate page body repeated across the whole crawl"
    rows = [(1, base), (2, base.replace("lazy", "sleepy"))]
    rows += [(100 + i, flood) for i in range(8)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = minhash_signatures(docs)
    capped = {
        (r["id_1"], r["id_2"])
        for r in minhash_candidate_pairs(sigs, max_bucket=4).collect()
    }
    assert (1, 2) in capped
    assert not any(a >= 100 and b >= 100 for a, b in capped)
    uncapped = {
        (r["id_1"], r["id_2"])
        for r in minhash_candidate_pairs(sigs).collect()
    }
    assert (100, 101) in uncapped  # the flood IS quadratic without the cap


def test_pq_encode_codebook_vectors_self_code(spark):
    """Each codebook-source vector must encode to its own codeword in
    every subspace (distance 0 to itself), and ADC from such a vector as
    the query must rank itself (distance 0) first."""
    import numpy as np

    from data_algorithms_with_pyspark_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebook,
        pq_encode,
    )

    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(20)]
    vecs = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    cb = pq_codebook(vecs, m=4, ksub=8, vec_col="vec")
    enc = pq_encode(vecs, cb, vec_col="vec")
    codes = {r["vec_id"]: r["pq_code"] for r in enc.collect()}
    for c in range(8):
        expect = sum(c << (3 * s) for s in range(4))
        assert codes[c] == expect  # codeword c in all 4 subspaces
    top = pq_adc_topk(enc, cb, rows[3][1], k=1).collect()[0]
    assert top["vec_id"] == 3 and top["adc_nano"] == 0


def test_pq_codebook_validates_geometry(spark):
    import pytest as _pytest

    from data_algorithms_with_pyspark_spark.operators.similarity import (
        pq_codebook,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i)] * 6) for i in range(4)],
        "vec_id long, vec array<double>",
    )
    with _pytest.raises(ValueError):
        pq_codebook(vecs, m=4, ksub=2, vec_col="vec")  # 6 % 4 != 0
    with _pytest.raises(ValueError):
        pq_codebook(vecs, m=2, ksub=16, vec_col="vec")  # only 4 vectors


def test_pq_encode_raises_on_unpackable_magnitude(spark):
    """ADVICE r3: a per-subspace squared distance past ~5.8e5 (ksub=16)
    used to wrap the int64 tie-break packing silently. The encoder must
    now raise instead of emitting corrupt codes."""
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    from data_algorithms_with_pyspark_spark.operators.similarity import (
        pq_encode,
    )

    # codebook of zeros; a vector of 1e3s gives d2 = 4 * 1e6 per
    # 4-dim subspace >> the ~5.8e5 packable bound
    cb = [[[0.0] * 4 for _ in range(16)] for _ in range(2)]
    vecs = spark.createDataFrame(
        [(1, [1.0e3] * 8)], "vec_id long, vec array<double>"
    )
    with _pytest.raises((Py4JJavaError, Exception)) as ei:
        pq_encode(vecs, cb, vec_col="vec").collect()
    assert "packable bound" in str(ei.value)


def test_pq_codebook_rejects_non_power_of_two_ksub(spark):
    import pytest as _pytest

    from data_algorithms_with_pyspark_spark.operators.similarity import (
        pq_codebook,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i)] * 8) for i in range(20)],
        "vec_id long, vec array<double>",
    )
    with _pytest.raises(ValueError, match="power of two"):
        pq_codebook(vecs, m=2, ksub=12, vec_col="vec")


def test_pq_trained_codebook_beats_first_ids_on_clustered_data(spark):
    """On CLUSTERED vectors (PQ's intended regime) trained per-subspace
    codebooks must reconstruct better than the first-k-ids stand-in:
    measured as total ADC self-distance (each vector scored against its
    own encoding — 0 would be perfect reconstruction)."""
    import numpy as np

    from data_algorithms_with_pyspark_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebook,
        pq_encode,
        pq_train_codebook,
    )

    rng = np.random.RandomState(11)
    centers = rng.randn(4, 16) * 5.0
    rows = [
        (i, [float(x) for x in centers[i % 4] + rng.randn(16) * 0.1])
        for i in range(80)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, vec array<double>")

    def recon_error(cb):
        enc = pq_encode(vecs, cb, vec_col="vec")
        total = 0
        for i, v in rows[:10]:  # sample of self-queries
            r = pq_adc_topk(
                enc.where(F.col("vec_id") == i), cb, v, k=1
            ).collect()[0]
            total += r["adc_nano"]
        return total

    naive = recon_error(pq_codebook(vecs, m=4, ksub=4, vec_col="vec"))
    trained = recon_error(
        pq_train_codebook(vecs, m=4, ksub=4, max_iter=4, vec_col="vec")
    )
    assert trained < naive


def test_prefix_jaccard_matches_bruteforce(spark):
    import random

    from data_algorithms_with_pyspark_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_jaccard_pairs,
    )

    rng = random.Random(19)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(60):
        rows.append((i, " ".join(rng.choices(vocab, k=rng.randint(2, 25)))))
    # planted near-dups: clones with small edits
    for j, (bid, text) in enumerate([rows[3], rows[7], rows[11]]):
        toks = text.split()
        toks[len(toks) // 2] = "edited"
        rows.append((100 + j, " ".join(toks)))
    rows.append((200, ""))  # empty doc must not crash either path
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for t in (0.2, 0.5, 0.8):
        brute = sorted(
            (r["id_1"], r["id_2"], r["jaccard"])
            for r in ngram_jaccard_pairs(docs, t).collect()
        )
        pref = sorted(
            (r["id_1"], r["id_2"], r["jaccard"])
            for r in prefix_jaccard_pairs(docs, t).collect()
        )
        assert pref == brute, t  # lossless: identical pairs AND values
        if t <= 0.5:
            assert brute, t  # the planted clones must actually qualify


def test_prefix_jaccard_rejects_bad_threshold(spark):
    import pytest as _pytest

    from data_algorithms_with_pyspark_spark.operators.dedup import (
        prefix_jaccard_pairs,
    )

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        prefix_jaccard_pairs(docs, 0.0)
    with _pytest.raises(ValueError):
        prefix_jaccard_pairs(docs, 1.5)


def test_content_defined_chunks_properties(spark):
    from data_algorithms_with_pyspark_spark.operators.dedup import (
        content_defined_chunks,
    )

    base = "the quick brown fox jumps over the lazy dog " * 5
    shifted = "PREFIX " + base  # early insertion shifts every offset
    docs = spark.createDataFrame(
        [(1, base), (2, shifted), (3, "tiny"), (4, "")],
        ["doc_id", "text"],
    )
    rows = content_defined_chunks(docs).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["chunk_len"], r["chunk_hash"])
        )
    for v in by_doc.values():
        v.sort()
    # chunks tile the normalized text exactly
    assert sum(c[1] for c in by_doc[1]) == len(base.strip())
    # resynchronization: after the insertion, the chunk streams share
    # their tails (all but the first chunk(s) are identical)
    h1 = [c[2] for c in by_doc[1]]
    h2 = [c[2] for c in by_doc[2]]
    assert len(h1) > 2
    assert h1[1:] == h2[-(len(h1) - 1):]  # shared suffix of chunk hashes
    # short doc -> single whole-text chunk; empty doc -> no chunks
    assert len(by_doc[3]) == 1 and by_doc[3][0][1] == 4
    assert 4 not in by_doc


def test_content_defined_chunks_guards(spark):
    import pytest as _pytest

    from data_algorithms_with_pyspark_spark.operators.dedup import (
        content_defined_chunks,
    )

    docs = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        content_defined_chunks(docs, window=1)
    with _pytest.raises(ValueError):
        content_defined_chunks(docs, divisor=1)


def test_portable_hll_accuracy_and_merge(spark):
    import random

    from pyspark.sql import functions as F

    from data_algorithms_with_pyspark_spark.operators.sketches import (
        hll_distinct,
    )

    rng = random.Random(11)
    rows = [("big", rng.randrange(20000)) for _ in range(60000)] + [
        ("small", rng.randrange(40)) for _ in range(500)
    ] + [("one", 7)] * 50
    df = spark.createDataFrame(rows, ["g", "k"])
    est = {r["g"]: r["hll_estimate"] for r in hll_distinct(df, "g", "k").collect()}
    true = {
        r["g"]: r["n"]
        for r in df.groupBy("g").agg(F.count_distinct("k").alias("n")).collect()
    }
    # m=256 -> rsd ~6.5%; assert within 15% on the raw path and close on
    # the linear-counting path
    assert abs(est["big"] - true["big"]) / true["big"] < 0.15
    assert abs(est["small"] - true["small"]) / true["small"] < 0.15
    assert est["one"] == 1.0
    # mergeability: the estimate from two half-corpora unioned equals the
    # whole-corpus estimate (register max is the merge)
    half1 = spark.createDataFrame(rows[::2], ["g", "k"])
    half2 = spark.createDataFrame(rows[1::2], ["g", "k"])
    merged = {
        r["g"]: r["hll_estimate"]
        for r in hll_distinct(half1.unionByName(half2), "g", "k").collect()
    }
    assert merged == est


def test_certified_heavy_hitters_exact_under_any_partitioning(spark):
    from collections import Counter

    from data_algorithms_with_pyspark_spark.operators.sketches import (
        certified_heavy_hitters,
    )

    # Skewed stream with a key sitting EXACTLY at the threshold (strict >
    # must exclude it): N = 660, k = 5 -> cutoff 132.
    stream = (
        ["alpha"] * 300
        + ["beta"] * 132          # exactly N/k: excluded by strictness
        + ["gamma"] * 140         # just above: included
        + [f"tail{i}" for i in range(88) for _ in [0]]
    )
    assert len(stream) == 660
    truth = Counter(stream)
    want = {
        kk: c for kk, c in truth.items() if c * 5 > len(stream)
    }  # {'alpha': 300, 'gamma': 140}

    df = spark.createDataFrame([(s,) for s in stream], ["term"])
    # The MG summaries differ per layout; the certified output must not.
    for parts in (1, 2, 7):
        got = {
            r["term"]: r["n_occurrences"]
            for r in certified_heavy_hitters(
                df.repartition(parts), "term", 5
            ).collect()
        }
        assert got == want, (parts, got)


def test_misra_gries_candidates_superset_guarantee(spark):
    from data_algorithms_with_pyspark_spark.operators.sketches import (
        misra_gries_candidates,
    )

    # Adversarial tail: every heavy key interleaved with mass that forces
    # constant decrements; k barely above the number of heavies.
    stream = []
    for i in range(200):
        stream += ["hot1", "hot2", f"cold{i}", f"cold{i}x"]
    df = spark.createDataFrame([(s,) for s in stream], ["term"])
    for parts in (1, 3, 8):
        cands = {
            r["term"]
            for r in misra_gries_candidates(
                df.repartition(parts), "term", 4
            ).collect()
        }
        # hot1/hot2 have count 200 = N/4 each (N=800, k=4 -> N/(k+1)=160
        # < 200): the guarantee says they MUST survive every layout.
        assert {"hot1", "hot2"} <= cands, (parts, cands)


def test_edit_distance_one_pairs_matches_bruteforce(spark):
    import itertools
    import random

    from data_algorithms_with_pyspark_spark.operators.fuzzy import (
        edit_distance_one_pairs,
    )

    def ed(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rng = random.Random(5)
    # small alphabet + short strings -> dense ed<=1 neighborhoods,
    # including duplicates, repeated chars, and the ''/'x' boundary
    vocab = {""} | {
        "".join(rng.choice("abc") for _ in range(rng.randint(1, 4)))
        for _ in range(60)
    }
    df = spark.createDataFrame([(w,) for w in vocab], ["w"])
    got = {
        (r.name_a, r.name_b)
        for r in edit_distance_one_pairs(df.repartition(5), "w").collect()
    }
    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(vocab), 2)
        if ed(a, b) <= 1
    }
    assert got == want


def test_certified_heavy_hitters_grouped_exact_under_any_partitioning(spark):
    from collections import Counter

    from data_algorithms_with_pyspark_spark.operators.sketches import (
        certified_heavy_hitters_grouped,
    )

    # Two groups with DIFFERENT totals and different heavy sets; g2's
    # 'x' is heavy for g2 but would not be for g1's larger stream —
    # per-group thresholds must separate them.
    stream = (
        [("g1", "a")] * 200
        + [("g1", "b")] * 90          # 90*4 > 400: heavy in g1
        + [("g1", f"t{i}") for i in range(110)]
        + [("g2", "x")] * 30          # 30*4 > 40: heavy in g2
        + [("g2", f"u{i}") for i in range(10)]
    )
    truth: dict[str, Counter] = {}
    for g, kk in stream:
        truth.setdefault(g, Counter())[kk] += 1
    want = {
        (g, kk, c)
        for g, cnt in truth.items()
        for kk, c in cnt.items()
        if c * 4 > sum(cnt.values())
    }
    df = spark.createDataFrame(stream, ["g", "t"])
    for parts in (1, 3, 8):
        got = {
            (r.g, r.t, r.n_occurrences)
            for r in certified_heavy_hitters_grouped(
                df.repartition(parts), "g", "t", 4
            ).collect()
        }
        assert got == want, (parts, got)


def test_ivf_assign_pinned_centroids(spark):
    """A corpus SUBSET assigned against explicit full-corpus centroids
    must agree with the full-corpus assignment restricted to that
    subset — the incremental-index contract. Deriving centroids from
    the subset's own low ids (the default) gives a different quantizer
    when the subset is missing low-id vectors."""
    from pyspark.sql import functions as F

    from data_algorithms_with_pyspark_spark.operators.similarity import (
        ivf_assign,
    )

    rows = [
        (i, [float((i * 7 + d * 3) % 11) for d in range(4)])
        for i in range(40)
    ]
    vecs = spark.createDataFrame(rows, ["vec_id", "vec"])
    full = {
        r["vec_id"]: r["cid"] for r in ivf_assign(vecs, 4).collect()
    }
    cents = vecs.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), F.col("vec").alias("cvec")
    )
    subset = vecs.where(F.col("vec_id") % 8 == 0)  # excludes ids 1-3
    pinned = {
        r["vec_id"]: r["cid"]
        for r in ivf_assign(subset, 4, centroids=cents).collect()
    }
    assert pinned == {i: full[i] for i in pinned}
    # and the default (subset-derived centroids) really is a different
    # quantizer here — the guard this parameter exists for
    unpinned = {
        r["vec_id"]: r["cid"] for r in ivf_assign(subset, 4).collect()
    }
    assert unpinned != pinned


def test_ivf_trained_centroids_beat_first_ids_on_clustered_data(spark):
    """On CLUSTERED vectors a kmeans-trained IVF coarse quantizer must
    recall at least as well as the first-k-ids stand-in (and strictly
    better in aggregate over a query panel): the stand-in's lists are
    arbitrary points of cluster 0's neighborhood, so probes miss other
    clusters; trained lists align with the clusters."""
    import numpy as np

    from data_algorithms_with_pyspark_spark.operators.clustering import (
        kmeans_train,
    )
    from data_algorithms_with_pyspark_spark.operators.ann import ivf_topk
    from data_algorithms_with_pyspark_spark.operators.similarity import (
        cosine_topk,
    )

    rng = np.random.RandomState(7)
    centers = rng.randn(4, 16) * 5.0
    rows = [
        (i, [float(x) for x in centers[i % 4] + rng.randn(16) * 0.1])
        for i in range(120)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    work = vecs.select("vec_id", F.col("embedding").alias("vec"))
    trained = kmeans_train(work, k=4, max_iter=4)
    cents_df = spark.createDataFrame(
        list(enumerate(trained)), "cid int, cvec array<double>"
    )

    def recall(centroids, qid):
        got = {
            r["vec_id"]
            for r in ivf_topk(
                vecs, query_id=qid, k=5, n_lists=4, n_probe=1,
                centroids=centroids,
            ).collect()
        }
        want = {
            r["vec_id"] for r in cosine_topk(vecs, query_id=qid, k=5).collect()
        }
        return len(got & want)

    qids = [40, 41, 42, 43]  # one query per planted cluster
    trained_hits = sum(recall(cents_df, q) for q in qids)
    standin_hits = sum(recall(None, q) for q in qids)
    assert trained_hits >= standin_hits
    assert trained_hits == 5 * len(qids)  # trained 1-probe is exact here


def test_residual_ivfadc_beats_raw_standin_on_clustered_data(spark):
    """On CLUSTERED vectors the trained-residual IVFADC construction
    (kmeans coarse lists + PQ trained on residuals) must reconstruct far
    better than the raw-vector/first-k-ids composition: the residuals
    are just the small intra-cluster noise, so the PQ budget encodes a
    tight distribution instead of the full spread. Measured as total ADC
    self-distance over a sample (0 = perfect reconstruction), each
    vector scored against its own list's residual LUT."""
    import numpy as np

    from data_algorithms_with_pyspark_spark.operators.clustering import (
        kmeans_train,
    )
    from data_algorithms_with_pyspark_spark.operators.similarity import (
        ivf_assign,
        pq_adc_topk,
        pq_codebook,
        pq_encode,
        pq_train_codebook,
    )

    rng = np.random.RandomState(3)
    centers = rng.randn(4, 16) * 5.0
    rows = [
        (i, [float(x) for x in centers[i % 4] + rng.randn(16) * 0.1])
        for i in range(80)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, vec array<double>")

    # raw stand-in composition: first-4-ids PQ codebooks on raw vectors
    cb_raw = pq_codebook(vecs, m=4, ksub=4, vec_col="vec")
    enc_raw = pq_encode(vecs, cb_raw, vec_col="vec")
    raw_err = 0
    for i, v in rows[:10]:
        r = pq_adc_topk(
            enc_raw.where(F.col("vec_id") == i), cb_raw, v, k=1
        ).collect()[0]
        raw_err += r["adc_nano"]

    # trained-residual composition
    trained = kmeans_train(vecs, k=4, max_iter=4)
    cents_df = spark.createDataFrame(
        list(enumerate(trained)), "cid int, cvec array<double>"
    )
    assign = ivf_assign(vecs, 4, centroids=cents_df)
    residuals = (
        vecs.join(assign, on="vec_id")
        .join(F.broadcast(cents_df), on="cid")
        .select(
            "vec_id",
            "cid",
            F.zip_with(F.col("vec"), F.col("cvec"), lambda a, b: a - b).alias(
                "vec"
            ),
        )
    )
    rcb = pq_train_codebook(
        residuals.select("vec_id", "vec"), m=4, ksub=4, max_iter=4,
        vec_col="vec",
    )
    enc_res = pq_encode(residuals.select("vec_id", "vec"), rcb, vec_col="vec")
    cid_of = {r["vec_id"]: r["cid"] for r in assign.collect()}
    res_err = 0
    for i, v in rows[:10]:
        c = cid_of[i]
        qr = [v[j] - trained[c][j] for j in range(16)]
        r = pq_adc_topk(
            enc_res.where(F.col("vec_id") == i), rcb, qr, k=1
        ).collect()[0]
        res_err += r["adc_nano"]

    # Clear-margin win (measured ~2.4x here): ksub=4 codewords can only
    # explain so much of the sigma=0.1 noise, so the gap is bounded by
    # the residual-noise floor, not an order of magnitude.
    assert res_err < raw_err / 2


def test_sq8_encode_codes_and_scale(spark):
    """SQ8 codes: absmax element maps to ±127 exactly; zero vector maps
    to all-zero codes with scale 0; clamp bounds hold; scale = amax/127."""
    from data_algorithms_with_pyspark_spark.operators.similarity import (
        sq8_encode,
    )

    rows = [
        (0, [1.27, -1.27, 0.635, 0.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),
        (2, [-2.0, 1.0, 0.5, -0.25]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    out = {r["vec_id"]: r for r in sq8_encode(vecs).collect()}
    assert out[0]["qvec"] == [127, -127, 64, 0]  # floor(63.5+0.5)=64
    assert out[0]["sq8_scale"] == 1.27 / 127.0
    assert out[1]["qvec"] == [0, 0, 0, 0] and out[1]["sq8_scale"] == 0.0
    assert out[2]["qvec"][0] == -127  # absmax negative element hits -127
    assert all(-127 <= c <= 127 for r in out.values() for c in r["qvec"])


def test_sq8_quantize_query_matches_engine_encode(spark):
    """Driver-side query quantization must agree bit-for-bit with the
    engine's sq8_encode of the same vector."""
    import numpy as np

    from data_algorithms_with_pyspark_spark.operators.similarity import (
        sq8_encode,
        sq8_quantize_query,
    )

    rng = np.random.RandomState(11)
    for trial in range(3):
        v = [float(x) for x in rng.randn(16)]
        scale, codes = sq8_quantize_query(v)
        row = (
            sq8_encode(
                spark.createDataFrame([(0, v)], "vec_id long, vec array<double>")
            )
            .collect()[0]
        )
        assert row["sq8_scale"] == scale
        assert list(row["qvec"]) == codes


def test_sq8_dot_topk_self_query_ranks_first(spark):
    """Querying with a corpus vector must rank that vector first (its
    integer self-dot dominates for unit-ish random data), and the
    integer dot must equal the numpy int dot exactly."""
    import numpy as np

    from data_algorithms_with_pyspark_spark.operators.similarity import (
        sq8_dot_topk,
        sq8_encode,
        sq8_quantize_query,
    )

    rng = np.random.RandomState(5)
    raw = rng.randn(30, 16)
    raw /= np.linalg.norm(raw, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in raw[i]]) for i in range(30)]
    vecs = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    enc = sq8_encode(vecs)
    got = sq8_dot_topk(enc, rows[7][1], k=3).collect()
    assert got[0]["vec_id"] == 7
    _, qq = sq8_quantize_query(rows[7][1])
    codes = {r["vec_id"]: list(r["qvec"]) for r in enc.collect()}
    for r in got:
        assert r["idot"] == int(
            np.dot(np.array(codes[r["vec_id"]]), np.array(qq))
        )


def test_simhash_max_bucket_guards_degenerate_corpus(spark):
    """A narrow-vocabulary corpus collapses SimHash to one value — the
    sf10 audit's all-pairs blow-up. max_bucket must drop the degenerate
    bucket (no candidates) while leaving diverse corpora untouched."""
    from data_algorithms_with_pyspark_spark.operators.dedup import (
        simhash,
        simhash_candidate_pairs,
    )

    clones = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * 6) for i in range(20)],
        "doc_id long, text string",
    )
    h = simhash(clones)
    uncapped = simhash_candidate_pairs(h)
    assert uncapped.count() == 190  # all pairs of 20 identical hashes
    assert simhash_candidate_pairs(h, max_bucket=5).count() == 0
    # a diverse corpus is unaffected by a cap far above its bucket sizes
    diverse = spark.createDataFrame(
        [(i, f"tok{i} tok{i + 1} tok{i * 7 % 13} unique{i}") for i in range(30)],
        "doc_id long, text string",
    )
    hd = simhash(diverse)
    base = {
        (r["id_1"], r["id_2"])
        for r in simhash_candidate_pairs(hd).collect()
    }
    capped = {
        (r["id_1"], r["id_2"])
        for r in simhash_candidate_pairs(hd, max_bucket=29).collect()
    }
    assert capped == base


def test_simhash_bands_must_divide_the_hash_width(spark):
    """A band count that does not divide n_bits would drop the top
    n_bits % bands bits from every band: it raises instead."""
    h = simhash(
        spark.createDataFrame([(1, "a b c"), (2, "a b d")], "doc_id long, text string")
    )
    with pytest.raises(ValueError, match="must divide"):
        simhash_candidate_pairs(h, bands=5, n_bits=64)


def test_srp_banded_max_bucket_guards_hot_bucket(spark):
    """Vectors collapsed onto one point share every band bucket; the cap
    must suppress that bucket's quadratic pairs while pairs from
    non-degenerate buckets survive."""
    import numpy as np

    from data_algorithms_with_pyspark_spark.operators.similarity import (
        srp_banded_near_dup_pairs,
    )

    rng = np.random.RandomState(3)
    hot = [1.0] * 8
    rows = [(i, hot) for i in range(15)]  # degenerate cluster
    # two genuine near-dups away from the cluster
    a = rng.randn(8)
    rows += [(100, [float(x) for x in a]), (101, [float(x) for x in a * 1.01])]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    uncapped = srp_banded_near_dup_pairs(
        vecs, dim=8, threshold=0.99, n_planes=16, bands=4
    )
    assert uncapped.count() >= 105 + 1  # hot-cluster pairs + the pair
    capped = srp_banded_near_dup_pairs(
        vecs, dim=8, threshold=0.99, n_planes=16, bands=4, max_bucket=10
    ).collect()
    got = {(r["id_1"], r["id_2"]) for r in capped}
    assert (100, 101) in got  # genuine pair survives (its buckets are small)
    assert not any(i < 15 and j < 15 for i, j in got)  # hot cluster muted


def test_simhash_shingles_discriminate_homogeneous_corpus(spark):
    """On a shared-vocabulary corpus, unigram SimHashes collapse to few
    values while 3-gram-shingle SimHashes spread — the sf10 finding as a
    unit invariant. Empty docs still hash to 0 in shingle mode."""
    import random

    from data_algorithms_with_pyspark_spark.operators.dedup import simhash

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(400))) for i in range(300)
    ]
    rows.append((999, ""))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    from pyspark.sql import functions as F

    def max_band_bucket(h):
        bands = F.array(
            *[
                F.shiftright(F.col("simhash"), k * 16).bitwiseAND(
                    F.lit(65535).cast("long")
                )
                for k in range(4)
            ]
        )
        b = h.select(F.posexplode(bands).alias("band", "bv"))
        return (
            b.groupBy("band", "bv").count().agg(F.max("count")).collect()[0][0]
        )

    uni_h = simhash(docs)
    shi_h = simhash(docs, shingle_n=3)
    # concentration is the degeneracy metric (full hashes may all differ
    # while 16-bit BAND values pile into one bucket): measured 55-vs-2 at
    # this geometry, orders of magnitude at sf10
    assert max_band_bucket(uni_h) > 5 * max_band_bucket(shi_h)
    shi = {r["doc_id"]: r["simhash"] for r in shi_h.collect()}
    assert shi[999] == 0  # empty doc votes on nothing


def test_prefix_jaccard_narrow_vocab_positional_filter(spark):
    """The sf10 regime in miniature: a NARROW vocabulary (8 words) makes
    every shingle common, so prefix filtering alone degenerates — the
    positional filter must (a) stay lossless vs the all-pairs baseline
    and (b) actually prune the candidate join (the ENOSPC defense)."""
    import random

    from pyspark.sql import functions as F

    from data_algorithms_with_pyspark_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_jaccard_pairs,
    )

    rng = random.Random(7)
    vocab = [f"v{i}" for i in range(8)]
    rows = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(10, 30))))
        for i in range(80)
    ]
    # planted exact + near clones (the pairs that must survive)
    rows.append((900, rows[5][1]))
    toks = rows[9][1].split()
    toks[0] = "v0"
    rows.append((901, " ".join(toks)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for t in (0.5, 0.8):
        brute = sorted(
            (r["id_1"], r["id_2"], r["jaccard"])
            for r in ngram_jaccard_pairs(docs, t).collect()
        )
        pref = sorted(
            (r["id_1"], r["id_2"], r["jaccard"])
            for r in prefix_jaccard_pairs(docs, t).collect()
        )
        assert pref == brute, t
    assert any(a == 5 and b == 900 for a, b, _ in pref)


def test_prefix_jaccard_max_posting_guard(spark):
    """max_posting: a huge cap is a no-op (identical output); a biting
    cap yields a SUBSET (bounded-damage contract, mirroring the LSH
    lanes' max_bucket); exact duplicates sharing only hot shingles are
    the pairs it may drop."""
    import random

    from data_algorithms_with_pyspark_spark.operators.dedup import (
        prefix_jaccard_pairs,
    )

    rng = random.Random(23)
    vocab = [f"v{i}" for i in range(6)]  # brutally narrow vocabulary
    rows = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(12, 25))))
        for i in range(60)
    ]
    rows.append((900, rows[2][1]))  # planted exact clone
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    free = sorted(
        (r["id_1"], r["id_2"], r["jaccard"])
        for r in prefix_jaccard_pairs(docs, 0.8).collect()
    )
    nocap = sorted(
        (r["id_1"], r["id_2"], r["jaccard"])
        for r in prefix_jaccard_pairs(docs, 0.8, max_posting=10**6).collect()
    )
    assert nocap == free  # huge cap == lossless semantics
    capped = sorted(
        (r["id_1"], r["id_2"], r["jaccard"])
        for r in prefix_jaccard_pairs(docs, 0.8, max_posting=3).collect()
    )
    assert set(capped) <= set(free)  # never invents pairs
    assert any(a == 2 and b == 900 for a, b, _ in free)


def test_scan_partition_estimate_matches_decision(spark, tmp_path):
    """The metadata-only scan-partition estimate must reproduce the
    rdd-probe's partition count for a real file scan (the estimate
    replaced a ~40-60 ms physical-plan conversion on ~8 hot paths,
    VERDICT r11 #9), and fall back to None off the file-scan path so
    spread_partitions stays correct for in-memory inputs. Three files of
    0.6 x maxSplitBytes pack into three partitions (no two fit together)
    where a padded-total / maxSplitBytes bound says two, so the estimate
    must replay Spark's next-fit-decreasing packing, not bound it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_algorithms_with_pyspark_spark.operators.dedup import (
        _scan_partition_estimate,
        spread_partitions,
    )
    from data_algorithms_with_pyspark_spark.sources.readers import load_table

    target = spark.sparkContext.defaultParallelism
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    est = _scan_partition_estimate(docs)
    assert est == docs.rdd.getNumPartitions()
    # tiny scan must still be spread to full parallelism
    assert est < target
    assert spread_partitions(docs).rdd.getNumPartitions() >= target

    mem = spark.createDataFrame([(1, "x"), (2, "y")], ["doc_id", "text"])
    assert _scan_partition_estimate(mem) is None
    spread_partitions(mem).count()  # fallback path executes

    for i in range(3):
        pq.write_table(
            pa.table({"v": list(range(i * 5000, (i + 1) * 5000))}),
            str(tmp_path / f"part-{i}.parquet"),
        )
    size = max(p.stat().st_size for p in tmp_path.iterdir())
    confs = {
        "spark.sql.files.maxPartitionBytes": str(int(size / 0.6)),
        "spark.sql.files.openCostInBytes": "1",
        "spark.sql.files.minPartitionNum": "1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        three = spark.read.parquet(str(tmp_path))
        assert _scan_partition_estimate(three) == 3
        assert three.rdd.getNumPartitions() == 3
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ivf_and_pq_literal_broadcast_paths_identical(spark, monkeypatch):
    """The size-based switch (clustering.LITERAL_CELLS_MAX, VERDICT r11
    #6): ivf_assign and pq_train_codebook must produce bit-identical
    results through the row-local literal form and the broadcast form —
    same grid, same tie packing, same cid type, which also matches the
    k-means family's — and the literal expression must refuse a literal
    past the bound instead of riding it into the analyzer."""
    import pytest as _pytest

    import data_algorithms_with_pyspark_spark.operators.clustering as cl
    import data_algorithms_with_pyspark_spark.operators.similarity as sim

    rows = [
        (i, [float((i * 7 + d * 3) % 11) for d in range(4)])
        for i in range(40)
    ]
    vecs = spark.createDataFrame(rows, ["vec_id", "vec"])

    def assigned(df):
        return df.dtypes, sorted((r["vec_id"], r["cid"]) for r in df.collect())

    lit_assign = assigned(sim.ivf_assign(vecs, 4))
    lit_cb = sim.pq_train_codebook(vecs, m=2, ksub=4, max_iter=2)
    kmeans_dtypes = cl.assign_to_centroids(vecs, [r[1] for r in rows[:4]], 4).dtypes
    monkeypatch.setattr(cl, "LITERAL_CELLS_MAX", 0)  # force broadcast paths
    bc_assign = assigned(sim.ivf_assign(vecs, 4))
    bc_cb = sim.pq_train_codebook(vecs, m=2, ksub=4, max_iter=2)
    assert lit_assign == bc_assign
    assert lit_cb == bc_cb
    assert dict(lit_assign[0])["cid"] == dict(kmeans_dtypes)["cid"] == "int"
    with _pytest.raises(ValueError, match="LITERAL_CELLS_MAX"):
        cl.assign_expr([(0, [0.0, 1.0])], 1)
