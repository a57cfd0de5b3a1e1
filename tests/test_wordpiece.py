"""WordPiece tokenizer: likelihood-score training (argmax + tie-break +
## continuation semantics) and greedy longest-match-first segmentation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_algorithms_with_pyspark_spark.operators.wordpiece import (
    SCORE_SCALE,
    _best_pair,
    greedy_segment_expr,
    wordpiece_segment,
    wordpiece_train,
    wordpiece_vocab,
    wordpiece_vocab_pieces,
)
from tests.conftest import count_jobs, persisted_rdds


def _vocab(spark, *word_freqs):
    wc = spark.createDataFrame(list(word_freqs), ["term", "n"])
    return wordpiece_vocab(wc)


def _segment_one(spark, term, pieces):
    df = spark.createDataFrame([(term,)], ["term"])
    return df.select(
        greedy_segment_expr(F.col("term"), pieces).alias("v")
    ).collect()[0]["v"]


def test_vocab_marks_continuations(spark):
    rows = _vocab(spark, ("cat", 2)).collect()
    assert rows[0]["syms"] == ["c", "##a", "##t"]


def test_vocab_filters_nonclean_and_overlong_words(spark):
    rows = _vocab(
        spark, ("ok", 1), ("Bad", 1), ("has-dash", 1), ("a" * 13, 1)
    ).collect()
    assert [r["term"] for r in rows] == ["ok"]


def test_greedy_takes_longest_match_not_merge_order(spark):
    # Vocab contains both 'un' and 'una'; greedy maximal munch MUST take
    # 'una' first even though a merge-replay tokenizer (BPE) could prefer
    # the 'un' split depending on merge order.
    pieces = ["u", "##n", "##a", "un", "una", "##ble"]
    v = _segment_one(spark, "unable", pieces)
    assert v["seg"] == "una ##ble"
    assert v["n_pieces"] == 2


def test_greedy_falls_back_to_chars(spark):
    pieces = ["d", "##o", "##g"]
    v = _segment_one(spark, "dog", pieces)
    assert v["seg"] == "d ##o ##g"
    assert v["n_pieces"] == 3


def test_greedy_word_initial_vs_continuation_forms(spark):
    # 'ab' exists only as a CONTINUATION piece (##ab): at position 1 the
    # matcher must not use it.
    pieces = ["a", "##b", "##ab", "b"]
    v = _segment_one(spark, "aab", pieces)
    assert v["seg"] == "a ##ab"
    v = _segment_one(spark, "ab", pieces)
    assert v["seg"] == "a ##b"


def test_greedy_unsegmentable_is_null_not_row_loss(spark):
    # No continuation coverage for 'z' -> NULL struct, never a crash or a
    # silently dropped row.
    pieces = ["x", "##y"]
    v = _segment_one(spark, "xz", pieces)
    assert v is None


def test_train_scores_prefer_exclusive_pairs(spark):
    # 'ab' appears 3x and both its symbols appear ONLY together ->
    # score 3/(3*3). 'xy' also 3x but x appears 9 more times alone ->
    # score 3/(12*3). WordPiece must merge (a, ##b) first, though raw
    # pair counts (BPE's criterion) tie at 3.
    vocab = _vocab(spark, ("ab", 3), ("xy", 3), ("x", 9))
    merges, _ = wordpiece_train(vocab, n_merges=1)
    k, left, right, cnt, score_q = merges[0]
    assert (k, left, right, cnt) == (1, "a", "##b", 3)
    assert score_q == SCORE_SCALE * 3 // (3 * 3)


def test_train_tie_breaks_on_pair_bytes(spark):
    # Symmetric words: both pairs score identically; the winner must be
    # the byte-ascending pair.
    vocab = _vocab(spark, ("ab", 2), ("cd", 2))
    merges, _ = wordpiece_train(vocab, n_merges=1)
    assert (merges[0][1], merges[0][2]) == ("a", "##b")


def test_train_merge_strips_continuation_prefix(spark):
    # Round 1 ties (a,##b) vs (##b,##c) at 5/(5*5); byte order picks
    # (##b,##c) -> '##bc' (prefix KEPT: still a continuation). Round 2
    # merges (a,##bc) -> 'abc' (prefix STRIPPED: word-initial token).
    vocab = _vocab(spark, ("abc", 5))
    merges, trained = wordpiece_train(vocab, n_merges=2)
    produced = [
        l + (r[2:] if r.startswith("##") else r) for _, l, r, _, _ in merges
    ]
    assert produced == ["##bc", "abc"]
    assert trained.collect()[0]["syms"] == ["abc"]


def test_train_raises_on_exhaustion(spark):
    vocab = _vocab(spark, ("ab", 1))
    with pytest.raises(ValueError, match="exhausted"):
        wordpiece_train(vocab, n_merges=2)


def test_best_pair_raises_when_score_denominator_overflows_i64():
    # count(a) * count(##b) = 2^63: one past the signed 64-bit range the
    # oracle's BIGINT product holds (a 64-bit wrap would flip its sign)
    pairs = {("a", "##b"): 3, ("c", "##d"): 1}
    singles = {"a": 1 << 32, "##b": 1 << 31, "c": 1, "##d": 1}
    with pytest.raises(ValueError, match="overflows signed 64-bit"):
        _best_pair(pairs, singles)
    singles["a"] -= 1  # product 2^63 - 2^31 fits: scored, not raised
    assert _best_pair(pairs, singles) == ("c", "##d", 1, SCORE_SCALE)


def test_train_leaves_no_persisted_rdds(spark):
    spark.catalog.clearCache()  # the baseline: what clearCache cannot free
    before = persisted_rdds(spark)
    _, final = wordpiece_train(_vocab(spark, ("abc", 5)), n_merges=2)
    final.collect()
    spark.catalog.clearCache()
    assert persisted_rdds(spark) == before


def test_train_runs_one_collect_not_jobs_per_merge(spark):
    vocab = _vocab(spark, ("hello", 10), ("hell", 4), ("he", 6))
    assert count_jobs(spark, lambda: wordpiece_train(vocab, n_merges=3)) <= 2


def test_vocab_pieces_alphabet_plus_merges(spark):
    vocab = _vocab(spark, ("aba", 4), ("b", 1))
    merges, _ = wordpiece_train(vocab, n_merges=1)
    pieces = wordpiece_vocab_pieces(vocab, merges)
    # alphabet: a, ##b, ##a, b — plus exactly one merged token
    assert set(pieces) >= {"a", "##a", "##b", "b"}
    assert len(pieces) == 5


def test_train_then_segment_round_trip(spark):
    vocab = _vocab(spark, ("hello", 10), ("hell", 4), ("he", 6), ("lo", 2))
    merges, _ = wordpiece_train(vocab, n_merges=3)
    pieces = wordpiece_vocab_pieces(vocab, merges)
    out = {
        r["term"]: r["v"]
        for r in wordpiece_segment(vocab.select("term", "n"), pieces).collect()
    }
    # Every word segments (alphabet coverage) and reassembles to itself.
    for term, v in out.items():
        assert v is not None, term
        rebuilt = "".join(
            p[2:] if p.startswith("##") else p for p in v["seg"].split(" ")
        )
        assert rebuilt == term
        assert v["n_pieces"] == len(v["seg"].split(" "))


def test_tokenizer_comparison_shares_word_population(spark):
    """The three comparison rows must measure the SAME word population
    (n_word_types and total_words agree) — otherwise pieces-per-word is
    not comparable and the row is dishonest."""
    from data_algorithms_with_pyspark_spark.plans.catalog import all_queries
    from tests.conftest import SF_SMOKE

    rows = (
        all_queries()["tokenizer_compression_comparison"]
        .fn(spark, SF_SMOKE)
        .collect()
    )
    assert [r["tokenizer"] for r in rows] == ["bpe", "unigram", "wordpiece"]
    assert len({r["n_word_types"] for r in rows}) == 1
    assert len({r["total_words"] for r in rows}) == 1
    for r in rows:
        # every tokenizer emits at least one piece per word occurrence
        assert r["total_pieces"] >= r["total_words"]
