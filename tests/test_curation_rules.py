"""Known-answer tests for the round-2 corpus-quality operators: Gopher
rule flags, n-gram repetition profiles, and int8 quantization error."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_algorithms_with_pyspark_spark.functions.text_functions import (
    word_ngrams,
    words,
)
from data_algorithms_with_pyspark_spark.functions.vectors import (
    int8_quant_sse_fp,
)
from data_algorithms_with_pyspark_spark.operators.text import (
    gopher_rules,
    repetition_scores,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_word_ngrams_known_answers(spark):
    df = _docs(spark, [(0, "a b c d"), (1, "a b"), (2, "a"), (3, "")])
    out = {
        r["doc_id"]: (r["b2"], r["b3"])
        for r in df.select(
            "doc_id",
            word_ngrams(words("text"), 2).alias("b2"),
            word_ngrams(words("text"), 3).alias("b3"),
        ).collect()
    }
    assert out[0] == (["a b", "b c", "c d"], ["a b c", "b c d"])
    assert out[1] == (["a b"], [])
    assert out[2] == ([], [])
    assert out[3] == ([], [])


def test_gopher_rules_each_rule_fires(spark):
    long_good = "the and of to is that " + " ".join(
        f"word{i} term{i} item{i} note{i}" for i in range(10)
    )  # 46 words, mean len ~4.8, 6 stopwords, all distinct
    too_short = "the and of something"
    repeated = "the and of to " + " ".join(["spam"] * 40)  # dup-ratio fail
    long_words = "the and of is " + " ".join(
        f"extraordinarily{i} incomprehensible{i}" for i in range(15)
    )  # mean word length > 10
    df = _docs(
        spark,
        [(0, long_good), (1, too_short), (2, repeated), (3, long_words)],
    )
    out = {r["doc_id"]: r.asDict() for r in gopher_rules(df).collect()}
    assert out[0]["keep"] == 1, out[0]
    assert out[1]["words_ok"] == 0 and out[1]["keep"] == 0
    assert out[2]["uniq_words_ok"] == 0 and out[2]["keep"] == 0
    assert out[3]["mean_wlen_ok"] == 0 and out[3]["keep"] == 0
    # stopword rule: strip stopwords from the good doc -> stopword_ok flips
    no_stops = _docs(spark, [(9, " ".join(f"w{i}" for i in range(30)))])
    row = gopher_rules(no_stops).collect()[0]
    assert row["stopword_ok"] == 0 and row["keep"] == 0


def test_repetition_scores_known_answers(spark):
    # "a b a b": 4 words 2 uniq -> 5000bp; bigrams [a b, b a, a b]:
    # 3 total 2 uniq -> 6667bp; trigrams [a b a, b a b]: 2 uniq -> 10000bp
    df = _docs(spark, [(0, "a b a b"), (1, "x")])
    out = {r["doc_id"]: r.asDict() for r in repetition_scores(df).collect()}
    assert out[0] == {
        "doc_id": 0,
        "n_words": 4,
        "uniq_word_bp": 5000,
        "n_bigrams": 3,
        "uniq_bigram_bp": 6667,
        "n_trigrams": 2,
        "uniq_trigram_bp": 10000,
    }
    assert out[1]["n_bigrams"] == 0 and out[1]["uniq_bigram_bp"] is None


def test_int8_quant_sse_known_answers(spark):
    df = spark.createDataFrame(
        [(0, [127.0, -127.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 0.5])],
        ["vec_id", "vec"],
    )
    out = {
        r["vec_id"]: r["sse"]
        for r in df.select(
            "vec_id",
            int8_quant_sse_fp(F.col("vec").cast("array<double>")).alias("sse"),
        ).collect()
    }
    # vec 0: scale=1, all values exact int8 -> zero error
    assert out[0] == 0
    # vec 1: all-zero vector -> guarded, zero error
    assert out[1] == 0
    # vec 2: scale=1/127; 1.0 -> q=127 exact; 0.5 -> q=round(63.5)=64,
    # err = 0.5 - 64/127; sse_fp = round(err^2 * 1e12)
    err = 0.5 - (64.0 * (1.0 / 127.0))
    import math

    assert out[2] == math.floor(err * err * 1e12 + 0.5)


def test_kmv_exact_below_capacity_and_estimate_above(spark):
    from data_algorithms_with_pyspark_spark.operators.sketches import (
        kmv_distinct,
    )

    rows = [("small", i) for i in range(10)]
    rows += [("big", i) for i in range(2000)]
    df = spark.createDataFrame(rows, ["grp", "key"])
    out = {r["grp"]: r.asDict() for r in kmv_distinct(df, "grp", "key", k=64).collect()}
    # below sketch capacity: exact (10 distinct hashes, h_64 undefined)
    assert out["small"]["n_distinct"] == 10
    assert out["small"]["kmv_estimate"] == 10.0
    # above capacity: estimate within 30% of truth for k=64
    est = out["big"]["kmv_estimate"]
    assert 0.7 * 2000 <= est <= 1.3 * 2000, est
    import pytest as _pytest

    with _pytest.raises(ValueError):
        kmv_distinct(df, "grp", "key", k=1)


def test_rational_hash_sample_rate_and_determinism(spark):
    from data_algorithms_with_pyspark_spark.operators.sampling import (
        rational_hash_sample_predicate,
    )

    df = spark.range(4000).select(F.col("id"))
    pred = rational_hash_sample_predicate("id", F.lit(1).cast("long"), F.lit(4).cast("long"))
    kept1 = sorted(r["id"] for r in df.where(pred).collect())
    kept2 = sorted(r["id"] for r in df.repartition(7).where(pred).collect())
    assert kept1 == kept2  # partition-layout independent
    assert 0.20 * 4000 <= len(kept1) <= 0.30 * 4000  # ~1/4
    # num >= den keeps everything
    all_pred = rational_hash_sample_predicate(
        "id", F.lit(5).cast("long"), F.lit(5).cast("long")
    )
    assert df.where(all_pred).count() == 4000


def test_grouped_ewma_known_answers(spark):
    import datetime as dt

    from data_algorithms_with_pyspark_spark.operators.timeseries import (
        grouped_ewma,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 0, 10.0),
        (1, t0 + dt.timedelta(hours=1), 1, 20.0),
        (1, t0 + dt.timedelta(hours=2), 2, 30.0),
        (2, t0, 3, 5.0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "value"])
    out = {
        (r["user_id"], r["event_id"]): r["ewma"]
        for r in grouped_ewma(
            df, "user_id", ["ts", "event_id"], "value", alpha=0.5
        ).collect()
    }
    # y0=10; y1=0.5*20+0.5*10=15; y2=0.5*30+0.5*15=22.5; lone row = itself
    assert out == {(1, 0): 10.0, (1, 1): 15.0, (1, 2): 22.5, (2, 3): 5.0}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        grouped_ewma(df, "user_id", ["ts"], "value", alpha=0.0)
    with _pytest.raises(ValueError):
        grouped_ewma(df, "user_id", [], "value")


def test_semdedup_prune_planted(spark):
    from data_algorithms_with_pyspark_spark.operators.dedup import semdedup_prune

    # Centroids are vec 0 ([1,0]) and vec 1 ([0,1]); 2 lands in cluster 0
    # nearly parallel to its centroid, 3 in cluster 1 likewise. The
    # orthogonal cross-cluster pairs never meet (join is on cid).
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [0.95, 0.05]),
        (3, [0.05, 0.95]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        r["vec_id"]: (r["cid"], r["is_kept"])
        for r in semdedup_prune(emb, threshold=0.9, n_clusters=2).collect()
    }
    assert out == {0: (0, True), 1: (1, True), 2: (0, False), 3: (1, False)}

    # Below-threshold pair survives: raise threshold above the planted cos.
    out_hi = {
        r["vec_id"]: r["is_kept"]
        for r in semdedup_prune(emb, threshold=0.9999, n_clusters=2).collect()
    }
    assert out_hi == {0: True, 1: True, 2: True, 3: True}


def test_char_bigram_lm_known_answers(spark):
    import math

    from data_algorithms_with_pyspark_spark.operators.text import (
        char_bigram_lm_scores,
    )

    # Corpus bigrams: "aaa" -> {aa, aa}, "ab" -> {ab}; counts aa=2 ab=1,
    # total 3. Each doc's xent replays the integer micro-nat quantization.
    df = _docs(spark, [(0, "aaa"), (1, "ab"), (2, "x")])
    out = {
        r["doc_id"]: (r["n_bigrams"], r["xent"])
        for r in char_bigram_lm_scores(df).collect()
    }
    q = lambda p: math.floor(math.log(p) * 1e6 + 0.5)  # noqa: E731
    exp0 = round(-(2 * q(2 / 3)) / (2 * 1e6), 6)
    exp1 = round(-(1 * q(1 / 3)) / (1 * 1e6), 6)
    assert out == {0: (2, exp0), 1: (1, exp1)}  # doc 2: no bigrams, omitted


def test_boilerplate_ngram_coverage_planted(spark):
    from data_algorithms_with_pyspark_spark.operators.text import (
        boilerplate_ngram_coverage,
    )

    # "t1 t2 t3" is the planted boilerplate trigram in docs 0-2; doc 3
    # shares nothing; doc 4 is too short for any trigram (omitted).
    df = _docs(
        spark,
        [
            (0, "t1 t2 t3 a b"),
            (1, "x t1 t2 t3"),
            (2, "t1 t2 t3"),
            (3, "p q r s"),
            (4, "p q"),
        ],
    )
    out = {
        r["doc_id"]: (r["n_ngrams"], r["n_boiler"], r["boiler_ratio"])
        for r in boilerplate_ngram_coverage(df, n=3, min_docs=3).collect()
    }
    assert out == {
        0: (3, 1, round(1 / 3, 4)),
        1: (2, 1, 0.5),
        2: (1, 1, 1.0),
        3: (2, 0, 0.0),
    }


def test_sequence_chunks_planted(spark):
    import pytest as _pytest

    from data_algorithms_with_pyspark_spark.operators.packing import (
        sequence_chunks,
    )

    df = _docs(spark, [(0, "a b c d e f g"), (1, "x"), (2, "")])
    out = sorted(
        (r["doc_id"], r["chunk_idx"], r["n_chunk_tokens"], r["chunk_text"])
        for r in sequence_chunks(df, chunk_tokens=4, stride=3).collect()
    )
    # doc 0 (7 tokens): starts 1,4,7 -> abcd, defg, g; doc 1: x; doc 2 empty.
    assert out == [
        (0, 0, 4, "a b c d"),
        (0, 1, 4, "d e f g"),
        (0, 2, 1, "g"),
        (1, 0, 1, "x"),
    ]

    with _pytest.raises(ValueError):
        sequence_chunks(df, chunk_tokens=4, stride=0)
    with _pytest.raises(ValueError):
        sequence_chunks(df, chunk_tokens=4, stride=5)


def test_pii_scrub_planted(spark):
    from data_algorithms_with_pyspark_spark.operators.text import pii_scrub

    df = _docs(
        spark,
        [
            (0, "mail bob.smith+x@corp.example.io now"),
            (1, "call 555-123-4567 or 555 987 6543"),
            (2, "ssn 123-45-6789 ip 10.0.42.7"),
            (3, "clean text only"),
        ],
    )
    out = {
        r["doc_id"]: (
            r["redacted"],
            r["n_email"],
            r["n_phone"],
            r["n_ssn"],
            r["n_ipv4"],
        )
        for r in pii_scrub(df).collect()
    }
    assert out[0] == ("mail <EMAIL> now", 1, 0, 0, 0)
    assert out[1] == ("call <PHONE> or <PHONE>", 0, 2, 0, 0)
    # SSN pattern is redacted first (alphabetical order: email, ipv4,
    # phone, ssn -> ssn last) but 123-45-6789 never matches phone (2-digit
    # middle group), so categories stay disjoint here.
    assert out[2] == ("ssn <SSN> ip <IPV4>", 0, 0, 1, 1)
    assert out[3] == ("clean text only", 0, 0, 0, 0)


def test_repeated_segment_dedup_planted(spark):
    from data_algorithms_with_pyspark_spark.operators.dedup import (
        repeated_segment_dedup,
    )

    df = _docs(
        spark,
        [
            (0, "aa bb cc dd ee"),
            (1, "aa bb xx yy"),
            (2, "cc dd aa bb zz"),
            (3, "qq"),
        ],
    )
    out = {
        r["doc_id"]: (r["n_segments"], r["n_removed"], r["redacted"])
        for r in repeated_segment_dedup(df, k=2, min_docs=2).collect()
    }
    # "aa bb" appears in docs 0/1/2 and "cc dd" in 0/2 -> both removed
    # everywhere; tails ("ee", "zz", "qq") are never counted or removed.
    assert out[0] == (2, 2, "ee")
    assert out[1] == (2, 1, "xx yy")
    assert out[2] == (2, 2, "zz")
    assert out[3] == (0, 0, "qq")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        repeated_segment_dedup(df, k=0)


def test_duplicated_window_spans_known_answers(spark):
    from data_algorithms_with_pyspark_spark.operators.dedup import (
        duplicated_window_spans,
    )

    rows = [
        # "a b c d" (window 4) appears in docs 0 and 1 -> one span each
        (0, "a b c d e f g h"),
        (1, "z z a b c d q r"),
        # pure self-repetition: every window repeats -> one span, ratio 1.0
        (2, "p q r s p q r s p q r s"),
        # two duplicated copies of "a b c d" inside one doc, far apart
        # (positions 0 and 10, gap >= window) -> two spans, covered 8
        (3, "a b c d m n o1 p1 q1 r1 a b c d"),
        # shorter than the window -> 0 windows, 0 spans
        (4, "x y"),
    ]
    out = {
        r["doc_id"]: r.asDict()
        for r in duplicated_window_spans(
            spark.createDataFrame(rows, ["doc_id", "text"]), window=4
        ).collect()
    }
    assert out[0]["n_tokens"] == 8 and out[0]["n_windows"] == 5
    assert out[0]["n_dup_windows"] == 1 and out[0]["n_spans"] == 1
    assert out[0]["covered_tokens"] == 4 and out[0]["dup_ratio"] == 0.5
    assert out[1]["n_spans"] == 1 and out[1]["covered_tokens"] == 4
    assert out[2]["n_dup_windows"] == out[2]["n_windows"] == 9
    assert out[2]["n_spans"] == 1 and out[2]["covered_tokens"] == 12
    assert out[2]["dup_ratio"] == 1.0
    assert out[3]["n_spans"] == 2 and out[3]["covered_tokens"] == 8
    assert out[3]["n_dup_windows"] == 2
    assert out[4] == {
        "doc_id": 4,
        "n_tokens": 2,
        "n_windows": 0,
        "n_dup_windows": 0,
        "n_spans": 0,
        "covered_tokens": 0,
        "dup_ratio": 0.0,
    }


def test_duplicated_window_spans_overlap_merge(spark):
    """Adjacent duplicated windows (gap < window) merge into ONE span whose
    token coverage is counted without double-counting the overlap."""
    from data_algorithms_with_pyspark_spark.operators.dedup import (
        duplicated_window_spans,
    )

    # "a b c d e" repeated in both docs -> windows at positions 0 and 1
    # ("a b c d", "b c d e") both duplicated; coverage = tokens 0..4 = 5
    rows = [(0, "a b c d e x1 y1"), (1, "q1 a b c d e z1")]
    out = {
        r["doc_id"]: r.asDict()
        for r in duplicated_window_spans(
            spark.createDataFrame(rows, ["doc_id", "text"]), window=4
        ).collect()
    }
    for d in (0, 1):
        assert out[d]["n_dup_windows"] == 2
        assert out[d]["n_spans"] == 1
        assert out[d]["covered_tokens"] == 5


def test_bloom_filter_no_false_negatives_and_known_positions(spark):
    from data_algorithms_with_pyspark_spark.operators.sketches import (
        bloom_build,
        bloom_positions,
        bloom_probe,
    )

    build = spark.createDataFrame(
        [(f"key{i}",) for i in range(50)], ["term"]
    )
    bloom = bloom_build(build, "term", m=256, k=3)
    # probe = every built key (must ALL hit) + 200 unseen keys (some may
    # false-positive, none may be forced true)
    probe = spark.createDataFrame(
        [(f"key{i}",) for i in range(50)]
        + [(f"other{i}",) for i in range(200)],
        ["term"],
    )
    out = {
        r["term"]: r["in_bloom"]
        for r in bloom_probe(probe, "term", bloom, m=256, k=3).collect()
    }
    assert all(out[f"key{i}"] for i in range(50)), "Bloom false negative"
    fp = sum(out[f"other{i}"] for i in range(200))
    # n=50, m=256, k=3 -> theoretical fp ~ (1-e^(-150/256))^3 ~ 0.086;
    # deterministic md5 draw, so this is a fixed number, bounded loosely
    assert fp < 60

    # positions replicate the documented md5-lane construction exactly
    import hashlib

    row = spark.range(1).select(
        bloom_positions(F.lit("key7"), m=256, k=3).alias("p")
    ).collect()[0]["p"]
    h = hashlib.md5(b"key7").hexdigest()
    expected = [int(h[8 * i : 8 * i + 8], 16) % 256 for i in range(3)]
    assert list(row) == expected


def test_bloom_positions_rejects_bad_params(spark):
    import pytest as _pytest

    from data_algorithms_with_pyspark_spark.operators.sketches import (
        bloom_positions,
    )

    with _pytest.raises(ValueError):
        bloom_positions(F.lit("x"), m=256, k=5)
    with _pytest.raises(ValueError):
        bloom_positions(F.lit("x"), m=1, k=2)


def test_bloom_filters_union_by_distinct(spark):
    """Bloom mergeability: the union of two filters' position tables IS
    the filter of the union of their build sets — the property that lets
    per-partition/per-day blooms combine without rebuilds."""
    from data_algorithms_with_pyspark_spark.operators.sketches import bloom_build

    a = spark.createDataFrame([(f"a{i}",) for i in range(30)], ["term"])
    b = spark.createDataFrame([(f"b{i}",) for i in range(30)], ["term"])
    merged = (
        bloom_build(a, "term", m=512, k=3)
        .unionByName(bloom_build(b, "term", m=512, k=3))
        .distinct()
    )
    direct = bloom_build(a.unionByName(b), "term", m=512, k=3)
    assert {r["pos"] for r in merged.collect()} == {
        r["pos"] for r in direct.collect()
    }


def test_weighted_sample_favors_heavy_rows(spark):
    """A-ES property (statistical, deterministic given the md5 draws):
    with weights 100 vs 1, the k=20 sample over 40+40 rows must be
    dominated by heavy rows; exact k rows return, no duplicates."""
    from data_algorithms_with_pyspark_spark.operators.sampling import (
        weighted_sample_without_replacement,
    )

    rows = [(i, 100) for i in range(40)] + [(100 + i, 1) for i in range(40)]
    df = spark.createDataFrame(rows, ["rid", "w"])
    out = weighted_sample_without_replacement(
        df, key_col="rid", weight_col="w", k=20
    ).collect()
    ids = [r["rid"] for r in out]
    assert len(ids) == 20 and len(set(ids)) == 20
    heavy = sum(1 for i in ids if i < 100)
    assert heavy >= 16  # E[heavy] ~ 19.8 at 100:1 odds
    assert sorted(r["sample_rank"] for r in out) == list(range(1, 21))


def test_weighted_sample_rejects_nonpositive_weights_rows(spark):
    from data_algorithms_with_pyspark_spark.operators.sampling import (
        weighted_sample_without_replacement,
    )

    df = spark.createDataFrame(
        [(1, 5), (2, 0), (3, -4)], ["rid", "w"]
    )
    out = weighted_sample_without_replacement(
        df, key_col="rid", weight_col="w", k=10
    ).collect()
    assert [r["rid"] for r in out] == [1]  # zero/negative weights dropped


def test_weighted_sample_tiny_weights_clamp_not_wrap(spark):
    """ADVICE r3: weights below ~4.2e-6 used to push es_key*1e12 past
    2^63 (silent int64 wrap -> mis-ranking). Now they clamp into a
    bottom tie-bucket: normal-weight rows always outrank them, the
    clamped keys sit exactly on the _ES_KEY_CLAMP grid, and ties break
    by key."""
    from data_algorithms_with_pyspark_spark.operators.sampling import (
        _ES_KEY_CLAMP,
        weighted_sample_without_replacement,
    )

    rows = [(1, 1.0), (2, 1e-9), (3, 1e-12), (4, 2.0)]
    df = spark.createDataFrame(rows, "rid long, w double")
    out = weighted_sample_without_replacement(
        df, key_col="rid", weight_col="w", k=4
    ).collect()
    by_id = {r["rid"]: r for r in out}
    clamp_q = int(_ES_KEY_CLAMP * 1e12)
    # tiny-weight rows land exactly on the clamp grid (no wrap to +huge)
    assert by_id[2]["es_key_q"] == clamp_q
    assert by_id[3]["es_key_q"] == clamp_q
    # normal rows outrank them; clamped ties break by key ascending
    assert {by_id[1]["sample_rank"], by_id[4]["sample_rank"]} == {1, 2}
    assert by_id[2]["sample_rank"] == 3 and by_id[3]["sample_rank"] == 4


def test_bm25_topk_known_answers(spark):
    """4-doc corpus, hand-replayed BM25: score_micro must equal the pure-
    Python replay of the exact formula (same association order), rare
    terms must outrank common ones, and the per-query top-k ordering must
    be total (score desc, doc_id asc)."""
    import math

    from data_algorithms_with_pyspark_spark.operators.state import scope
    from data_algorithms_with_pyspark_spark.operators.text import bm25_topk

    rows = [
        (0, "apple banana apple"),
        (1, "apple cherry"),
        (2, "banana banana banana cherry"),
        (3, "durian"),
    ]
    docs = _docs(spark, rows)
    with scope():
        out = bm25_topk(docs, [(0, "apple banana"), (1, "durian")], k=3).collect()

    toks = {d: t.split() for d, t in rows}
    n_docs = float(len(rows))
    avgdl = sum(len(t) for t in toks.values()) / len(rows)
    k1, b = 1.2, 0.75

    def score_micro(qterms, d):
        total = 0
        for t in set(qterms.split()):
            tf = toks[d].count(t)
            if tf == 0:
                continue
            df = sum(1 for dd in toks.values() if t in dd)
            idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
            s = idf * (tf * (k1 + 1.0)) / (
                tf + k1 * ((1.0 - b) + b * len(toks[d]) / avgdl)
            )
            total += int(math.floor(s * 1e6 + 0.5))
        return total

    got = {(r["query_id"], r["doc_id"]): r for r in out}
    # query 0 ("apple banana") matches docs 0, 1, 2 — k=3 keeps all
    assert {(q, d) for (q, d) in got if q == 0} == {(0, 0), (0, 1), (0, 2)}
    for (q, d), r in got.items():
        qtext = {0: "apple banana", 1: "durian"}[q]
        assert r["score_micro"] == score_micro(qtext, d), (q, d)
        assert r["matched_terms"] == sum(
            1 for t in set(qtext.split()) if t in toks[d]
        )
    # doc 0 matches both query-0 terms with tf=2+1 -> top rank
    assert got[(0, 0)]["rn"] == 1
    # query 1: 'durian' appears only in doc 3 — unique match, rank 1
    assert {(q, d) for (q, d) in got if q == 1} == {(1, 3)}
    assert got[(1, 3)]["rn"] == 1
    # ranks are dense and ordered by (score desc, doc_id asc)
    q0 = sorted((r["rn"], r["score_micro"], r["doc_id"])
                for (q, _), r in got.items() if q == 0)
    assert [rn for rn, _, _ in q0] == [1, 2, 3]
    for (_, s1, d1), (_, s2, d2) in zip(q0, q0[1:]):
        assert (s1, -d1) >= (s2, -d2)


def test_bigram_pmi_known_answers(spark):
    """Hand-computed PMI: corpus 'x y x y' + 'y x' has T=6 (x:3, y:3),
    B=4 with (x,y):2 and (y,x):2 — both pairs get
    ln((2/4)/((3/6)(3/6))) = ln 2, whose nano quantization is exact."""
    import math

    from data_algorithms_with_pyspark_spark.operators.text import bigram_pmi

    docs = _docs(spark, [(0, "x y x y"), (1, "y x")])
    out = {(r["term_a"], r["term_b"]): r
           for r in bigram_pmi(docs, min_count=1).collect()}
    assert set(out) == {("x", "y"), ("y", "x")}
    expect = int(math.floor(math.log(2.0) * 1e9 + 0.5))  # 693147181
    for r in out.values():
        assert r["n_ab"] == 2
        assert r["pmi_nano"] == expect
    # min_count filters below-threshold pairs
    assert bigram_pmi(docs, min_count=3).count() == 0


def test_grouped_holt_known_answer(spark):
    from data_algorithms_with_pyspark_spark.operators.timeseries import (
        grouped_holt,
    )

    rows = [("u", 1, 10.0), ("u", 2, 12.0), ("u", 3, 14.0), ("v", 1, 5.0)]
    df = spark.createDataFrame(rows, ["g", "t", "x"]).repartition(3)
    got = {
        (r["g"], r["t"]): (r["level"], r["trend"], r["forecast"])
        for r in grouped_holt(df, "g", ["t"], "x", 0.5, 0.5).collect()
    }
    # hand fold, alpha=beta=0.5: u: l1=10 b1=0; l2=.5*12+.5*10=11,
    # b2=.5*(11-10)+.5*0=0.5; l3=.5*14+.5*11.5=12.75,
    # b3=.5*(12.75-11)+.5*.5=1.125
    assert got[("u", 1)] == (10.0, 0.0, 10.0)
    assert got[("u", 2)] == (11.0, 0.5, 11.5)
    assert got[("u", 3)] == (12.75, 1.125, 13.875)
    # group restart: v starts fresh
    assert got[("v", 1)] == (5.0, 0.0, 5.0)


def test_grouped_holt_rejects_bad_params(spark):
    import pytest as _pytest

    from data_algorithms_with_pyspark_spark.operators.timeseries import (
        grouped_holt,
    )

    df = spark.createDataFrame([("u", 1, 1.0)], ["g", "t", "x"])
    with _pytest.raises(ValueError):
        grouped_holt(df, "g", ["t"], "x", alpha=0.0)
    with _pytest.raises(ValueError):
        grouped_holt(df, "g", ["t"], "x", beta=1.5)
    with _pytest.raises(ValueError):
        grouped_holt(df, "g", [], "x")
