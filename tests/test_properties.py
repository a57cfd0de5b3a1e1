"""Property-based tests (hypothesis) for the custom operators.

The reference tests only hand-picked literals (SURVEY.md §5); these check
the operators' defining invariants on randomized inputs — small lists,
bounded example counts (each example pays Spark job latency).
"""

from __future__ import annotations

import bisect

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_algorithms_with_pyspark_spark.operators.asof import asof_join
from data_algorithms_with_pyspark_spark.operators.packing import (
    pack_by_token_budget,
)
from data_algorithms_with_pyspark_spark.operators.sampling import (
    hash_sample,
    hash_sample_predicate,
)
from data_algorithms_with_pyspark_spark.operators.skew import salted_join

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_keys = st.lists(st.integers(min_value=0, max_value=5), min_size=1, max_size=12)


@given(left_keys=_keys, right_keys=_keys)
@_SETTINGS
def test_salted_join_equals_plain_join(spark, left_keys, right_keys):
    left = spark.createDataFrame([(k, f"l{i}") for i, k in enumerate(left_keys)], ["k", "lv"])
    right = spark.createDataFrame([(k, f"r{i}") for i, k in enumerate(right_keys)], ["k", "rv"])
    plain = sorted(map(tuple, left.join(right, "k").collect()))
    salted = sorted(map(tuple, salted_join(left, right, "k", n_salts=3).collect()))
    assert salted == plain


@given(
    left_ts=st.lists(st.integers(0, 50), min_size=1, max_size=10),
    right_ts=st.lists(st.integers(0, 50), min_size=1, max_size=10, unique=True),
)
@_SETTINGS
def test_asof_join_matches_bisect_model(spark, left_ts, right_ts):
    left = spark.createDataFrame([(1, t) for t in left_ts], ["k", "lt"])
    right = spark.createDataFrame([(1, t, f"p{t}") for t in right_ts], ["k", "rt", "payload"])
    got = {
        (r["lt"], r["payload"])
        for r in asof_join(left, right, "k", "lt", "rt").collect()
    }
    rs = sorted(right_ts)
    expected = set()
    for t in left_ts:
        i = bisect.bisect_right(rs, t)  # latest right_ts <= t
        expected.add((t, f"p{rs[i - 1]}" if i else None))
    assert got == expected


@given(tokens=st.lists(st.integers(1, 30), min_size=1, max_size=15))
@_SETTINGS
def test_pack_by_token_budget_invariants(spark, tokens):
    budget = 40
    df = spark.createDataFrame(
        [(i, "s", t) for i, t in enumerate(tokens)], ["doc_id", "source", "n_tokens"]
    )
    rows = sorted(
        pack_by_token_budget(df, "n_tokens", budget, ["source"], "doc_id").collect(),
        key=lambda r: r["doc_id"],
    )
    assert len(rows) == len(tokens)  # every doc assigned
    shard_ids = [r["shard_id"] for r in rows]
    assert shard_ids == sorted(shard_ids)  # monotone in pack order
    # each doc's shard is exactly floor(exclusive_prefix / budget)
    prefix = 0
    for r in rows:
        assert r["shard_id"] == prefix // budget
        prefix += r["n_tokens"]


@given(rate=st.integers(1, 15))
@_SETTINGS
def test_hash_sample_is_deterministic_partition_of_rows(spark, rate):
    df = spark.range(0, 200).withColumnRenamed("id", "k")
    kept = hash_sample(df, "k", rate)
    inverse = df.where(~hash_sample_predicate("k", rate))
    a = {r["k"] for r in kept.collect()}
    b = {r["k"] for r in inverse.collect()}
    assert a | b == set(range(200)) and not (a & b)
    assert {r["k"] for r in kept.collect()} == a  # stable on recompute


# --- round-2 additions: CMS one-sided error, BPE mass conservation ----------


def test_cms_estimate_dominates_truth_for_every_term(spark):
    """Count-min's defining guarantee: collisions only ADD, so the sketch
    estimate is >= the true count for EVERY term (checked exhaustively at
    sf0.001, not just the query's top-30 slice)."""
    from data_algorithms_with_pyspark_spark.plans.catalog import all_queries
    from tests.conftest import SF_SMOKE

    q = all_queries()["term_count_min_sketch"]
    rows = q.fn(spark, SF_SMOKE).collect()
    assert rows, "sketch query returned nothing"
    for r in rows:
        assert r["cms_estimate"] >= r["true_count"], r


def test_bpe_pair_mass_equals_weighted_word_lengths(spark):
    """Every word of length L contributes exactly (L-1)*freq pairs: the
    total pair mass in the (unlimited) aggregate must equal the weighted
    sum over the vocabulary."""
    from pyspark.sql import functions as F

    from data_algorithms_with_pyspark_spark.functions.text_functions import (
        words,
    )
    from data_algorithms_with_pyspark_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    wc = (
        docs.select(F.explode(words("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .where(F.length("term") >= 2)
    )
    expected = wc.select(
        F.sum((F.length("term") - 1) * F.col("n")).alias("mass")
    ).collect()[0]["mass"]
    pairs = wc.select(
        "n",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("term") - 1),
                lambda i: F.col("term").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    got = pairs.select(F.sum("n")).collect()[0][0]
    assert got == expected


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    names=st.lists(
        st.text(alphabet="abcdef ", min_size=1, max_size=12),
        min_size=2,
        max_size=12,
        unique=True,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
def test_similarity_join_matches_bruteforce_model(spark, names, threshold):
    """Posting-list candidate generation must reproduce the brute-force
    cross join EXACTLY (completeness: any pair above threshold shares a
    shingle) on arbitrary strings, including shorter-than-shingle ones."""
    from data_algorithms_with_pyspark_spark.operators.fuzzy import (
        similarity_join,
    )

    half = len(names) // 2
    left = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names[:half])], "id long, name string"
    )
    right = spark.createDataFrame(
        [(100 + i, n) for i, n in enumerate(names[half:])],
        "id long, name string",
    )

    def shingles(text: str) -> set[str]:
        t = text.lower()
        if len(t) <= 3:
            return {t}
        return {t[i : i + 3] for i in range(len(t) - 2)}

    expected = {}
    for i, ln in enumerate(names[:half]):
        for j, rn in enumerate(names[half:]):
            a, b = shingles(ln), shingles(rn)
            jac = round(len(a & b) / len(a | b), 4)
            if jac >= threshold:
                expected[(i, 100 + j)] = jac
    got = {
        (r["id_l"], r["id_r"]): r["jaccard"]
        for r in similarity_join(
            left, right, "id", "name", "id", "name", threshold
        ).collect()
    }
    assert got == expected


def _py_bpe_merge(
    syms: list[str], left: str, right: str, merged: str
) -> list[str]:
    """Reference greedy left-to-right non-overlapping BPE merge."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(merged)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


_FOLD_WORDS = st.lists(
    st.text(alphabet="ab", min_size=1, max_size=8), min_size=1, max_size=8
)
_FOLD_PAIR = st.tuples(st.sampled_from("ab"), st.sampled_from("ab"))


def _check_folds(spark, words_, left, right, merged, syms_of):
    """The Catalyst fold and the driver fold both equal the textbook scan
    on every word."""
    from pyspark.sql import functions as F

    from data_algorithms_with_pyspark_spark.operators.bpe import (
        merge_pair_expr,
        merge_pair_py,
    )

    token = left + right if merged is None else merged
    df = spark.createDataFrame(
        [(w, syms_of(w)) for w in words_], ["w", "syms"]
    )
    got = {
        r["w"]: r["m"]
        for r in df.select(
            "w", merge_pair_expr(F.col("syms"), left, right, merged).alias("m")
        ).collect()
    }
    for w in words_:
        want = _py_bpe_merge(syms_of(w), left, right, token)
        assert got[w] == want, (w, left, right)
        assert merge_pair_py(syms_of(w), left, right, merged) == want


@given(words_=_FOLD_WORDS, pair=_FOLD_PAIR)
@_SETTINGS
def test_bpe_fold_matches_python_reference_merge(spark, words_, pair):
    """The Catalyst aggregate-fold merge and the trainers' driver fold
    must both equal the textbook greedy scan on EVERY input — including
    overlapping runs (aaa + (a,a)), back-to-back merges (abab + (a,b)),
    and merged-symbol collisions — over a 2-letter alphabet that
    maximizes those collisions."""
    left, right = pair
    _check_folds(spark, words_, left, right, None, list)


@pytest.mark.parametrize("left_continues", [False, True])
@given(words_=_FOLD_WORDS, pair=_FOLD_PAIR)
@_SETTINGS
def test_wordpiece_fold_matches_python_reference_merge(
    spark, left_continues, words_, pair
):
    """The same three-way agreement for WordPiece's merge: continuation
    symbols carry ``##`` and the merge produces the ``##``-stripped
    token, with a word-initial or a continuation left symbol."""
    left = ("##" if left_continues else "") + pair[0]
    _check_folds(
        spark,
        words_,
        left,
        "##" + pair[1],
        left + pair[1],
        lambda w: [w[0]] + ["##" + c for c in w[1:]],
    )


def _recount_train(rows, n_merges, pick, merged_of):
    """Reference trainer: recounts every pair and symbol of the whole
    table each round and merges with the textbook scan. Returns (merges,
    final syms by term), or (merges, None) once the pairs run out."""
    table = {t: s for t, _, s in rows}
    weight = {t: n for t, n, _ in rows}
    merges = []
    for k in range(1, n_merges + 1):
        pairs, singles = {}, {}
        for t, s in table.items():
            for x in s:
                singles[x] = singles.get(x, 0) + weight[t]
            for p in zip(s, s[1:]):
                pairs[p] = pairs.get(p, 0) + weight[t]
        top = pick(pairs, singles)
        if top is None:
            return merges, None
        merges.append((k, *top))
        token = merged_of(top[0], top[1])
        table = {
            t: _py_bpe_merge(s, top[0], top[1], token)
            for t, s in table.items()
        }
    return merges, table


@pytest.mark.parametrize("trainer", ["bpe", "wordpiece"])
@given(
    counts=st.dictionaries(
        st.text(alphabet="abc", min_size=1, max_size=7),
        st.integers(min_value=1, max_value=5),
        min_size=1,
        max_size=10,
    ),
    n_merges=st.integers(min_value=1, max_value=10),
)
@_SETTINGS
def test_trainers_match_whole_table_recount(spark, trainer, counts, n_merges):
    """The trainers update their pair counts incrementally, for the words
    each merge rewrites; merges, final segmentations and the exhaustion
    error must equal a trainer that recounts the whole table every round."""
    from data_algorithms_with_pyspark_spark.operators import bpe, wordpiece

    wc = spark.createDataFrame(list(counts.items()), "term string, n bigint")
    if trainer == "bpe":
        vocab, train = bpe.char_vocab(wc), bpe.bpe_train
        pick, merged_of = bpe._top_pair, lambda l, r: l + r
    else:
        vocab, train = wordpiece.wordpiece_vocab(wc), wordpiece.wordpiece_train
        pick = wordpiece._best_pair
        merged_of = lambda l, r: l + r.removeprefix("##")  # noqa: E731
    rows = [tuple(r) for r in vocab.collect()]
    want_merges, want_table = _recount_train(rows, n_merges, pick, merged_of)
    if want_table is None:
        with pytest.raises(ValueError, match="vocabulary exhausted"):
            train(vocab, n_merges)
        return
    merges, final = train(vocab, n_merges)
    assert merges == want_merges
    assert {r["term"]: r["syms"] for r in final.collect()} == want_table


def _dup_spans_model(docs, window):
    """Pure-Python reference for duplicated_window_spans: count window
    hashes, mark duplicated positions, union their token intervals."""
    occ = {}
    toks = {d: t.lower().split() for d, t in docs}
    for d, t in toks.items():
        for p in range(max(len(t) - window + 1, 0)):
            g = " ".join(t[p : p + window])
            occ.setdefault(g, []).append((d, p))
    dup_pos = {}
    for g, places in occ.items():
        if len(places) >= 2:
            for d, p in places:
                dup_pos.setdefault(d, set()).add(p)
    out = {}
    for d, t in toks.items():
        ps = sorted(dup_pos.get(d, ()))
        spans = []
        for p in ps:
            # merge only true token-coverage OVERLAP (gap < window);
            # adjacent-but-disjoint intervals stay separate spans
            if spans and p - spans[-1][1] < window:
                spans[-1] = (spans[-1][0], p)
            else:
                spans.append((p, p))
        covered = sum(hi - lo + window for lo, hi in spans)
        out[d] = (len(t), max(len(t) - window + 1, 0), len(ps), len(spans), covered)
    return out


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=0, max_size=12).map(
            " ".join
        ),
        min_size=1,
        max_size=6,
    ),
    window=st.integers(2, 4),
)
@_SETTINGS
def test_duplicated_window_spans_matches_python_model(spark, docs, window):
    from data_algorithms_with_pyspark_spark.operators.dedup import (
        duplicated_window_spans,
    )

    rows = list(enumerate(docs))
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_windows"],
            r["n_dup_windows"],
            r["n_spans"],
            r["covered_tokens"],
        )
        for r in duplicated_window_spans(
            spark.createDataFrame(rows, ["doc_id", "text"]), window=window
        ).collect()
    }
    want = _dup_spans_model(rows, window)
    assert got == want
    for d, (n_tok, _, _, _, covered) in got.items():
        assert covered <= n_tok  # union of intervals can't exceed the doc


@given(
    left=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 15)),
        min_size=1, max_size=8,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 15)),
        min_size=1, max_size=8,
    ),
    width=st.integers(1, 12),
)
@_SETTINGS
def test_interval_overlap_join_matches_brute_force(spark, left, right, width):
    from data_algorithms_with_pyspark_spark.operators.ranges import (
        interval_overlap_join,
    )

    l_rows = [(i, lo, lo + ln) for i, (lo, ln) in enumerate(left)]
    r_rows = [(i, lo, lo + ln) for i, (lo, ln) in enumerate(right)]
    ldf = spark.createDataFrame(l_rows, ["lid", "l_lo", "l_hi"])
    rdf = spark.createDataFrame(r_rows, ["rid", "r_lo", "r_hi"])
    got = sorted(
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            ldf, rdf, "l_lo", "l_hi", "r_lo", "r_hi", bucket_width=width
        ).collect()
    )
    want = sorted(
        (li, ri)
        for li, llo, lhi in l_rows
        for ri, rlo, rhi in r_rows
        if llo <= rhi and rlo <= lhi  # closed-interval overlap
    )
    assert got == want  # every pair exactly once, none missed


# --- merge family vs a Python dict model ------------------------------------

_cdc_ops = st.lists(
    st.tuples(
        st.integers(0, 6),            # key
        st.sampled_from("IUD"),       # op
        st.integers(0, 99),           # value payload
    ),
    min_size=1,
    max_size=12,
)


@given(target_keys=st.lists(st.integers(0, 6), max_size=5, unique=True),
       ops=_cdc_ops)
@_SETTINGS
def test_apply_cdc_matches_dict_replay(spark, target_keys, ops):
    """apply_cdc == replaying the change log in seq order over a dict:
    last change per key wins; D removes, I/U set."""
    from data_algorithms_with_pyspark_spark.operators.merge import apply_cdc

    target_rows = [(k, -1) for k in target_keys]
    log_rows = [
        (k, v, op, seq) for seq, (k, op, v) in enumerate(ops)
    ]
    model: dict[int, int] = {k: -1 for k in target_keys}
    for k, op, v in ops:  # ops are already in seq order
        if op == "D":
            model.pop(k, None)
        else:
            model[k] = v

    target = spark.createDataFrame(target_rows, "id long, val long")
    log = spark.createDataFrame(
        log_rows, "id long, val long, op string, seq long"
    )
    got = {
        r["id"]: r["val"]
        for r in apply_cdc(
            target, log, ["id"], op_col="op", order_col="seq"
        ).collect()
    }
    assert got == model


@given(
    batches=st.lists(
        st.lists(
            st.tuples(st.integers(0, 4), st.integers(0, 99)),
            max_size=4,
            unique_by=lambda t: t[0],
        ),
        min_size=1,
        max_size=3,
    )
)
@_SETTINGS
def test_scd2_multi_batch_invariants(spark, batches):
    """After any sequence of change batches: exactly one open version per
    key, closed versions chain (valid_to == successor valid_from), and
    the open version carries the key's LAST written value."""
    from data_algorithms_with_pyspark_spark.operators.merge import scd2_apply

    keys = [0, 1, 2, 3, 4]
    current = spark.createDataFrame(
        [(k, -1, 0, None) for k in keys],
        "id long, val long, valid_from long, valid_to long",
    )
    last_val = {k: -1 for k in keys}
    for i, batch in enumerate(batches):
        if not batch:
            continue
        ts = 10 * (i + 1)
        changes = spark.createDataFrame(
            [(k, v, ts) for k, v in batch], "id long, val long, ts long"
        )
        current = scd2_apply(current, changes, ["id"], change_ts_col="ts")
        for k, v in batch:
            last_val[k] = v

    rows = current.collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r["id"], []).append(r)
    for k, versions in by_key.items():
        versions.sort(key=lambda r: r["valid_from"])
        opens = [r for r in versions if r["valid_to"] is None]
        assert len(opens) == 1 and opens[0] is versions[-1], (k, versions)
        assert opens[0]["val"] == last_val[k]
        for prev, nxt in zip(versions, versions[1:]):
            assert prev["valid_to"] == nxt["valid_from"], (k, versions)
