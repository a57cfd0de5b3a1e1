"""BPE training operator: greedy-merge semantics, deterministic tie-break,
train/apply round trip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_algorithms_with_pyspark_spark.operators import bpe
from data_algorithms_with_pyspark_spark.operators.bpe import (
    bpe_apply,
    bpe_train,
    char_vocab,
    merge_pair_expr,
)
from data_algorithms_with_pyspark_spark.operators.wordpiece import (
    wordpiece_train,
    wordpiece_vocab,
)
from tests.conftest import count_jobs, persisted_rdds


def _syms(spark, *word_freqs):
    wc = spark.createDataFrame(list(word_freqs), ["term", "n"])
    return char_vocab(wc)


def test_merge_pair_greedy_left_to_right(spark):
    df = spark.createDataFrame(
        [(["a", "b", "a", "b"],), (["a", "a", "b"],), (["b", "b", "b"],)],
        ["syms"],
    )
    out = df.select(merge_pair_expr(F.col("syms"), "a", "b").alias("m"))
    got = [r["m"] for r in out.collect()]
    assert got[0] == ["ab", "ab"]  # both non-overlapping pairs merge
    assert got[1] == ["a", "ab"]  # scan is left-to-right
    merged_bb = df.select(merge_pair_expr(F.col("syms"), "b", "b").alias("m"))
    assert [r["m"] for r in merged_bb.collect()][2] == ["bb", "b"]  # no overlap


def test_train_learns_expected_merges(spark):
    # 'abab' x 5, 'abc' x 3: pair counts a-b: 13, b-a: 5, b-c: 3
    vocab = _syms(spark, ("abab", 5), ("abc", 3))
    merges, final = bpe_train(vocab, n_merges=2)
    assert merges[0][1:] == ("a", "b", 13)
    # after merging 'ab': 'abab' -> [ab, ab] (count 5), 'abc' -> [ab, c] (3)
    assert merges[1][1:] == ("ab", "ab", 5)
    segs = {r["term"]: r["syms"] for r in final.collect()}
    assert segs["abab"] == ["abab"]
    assert segs["abc"] == ["ab", "c"]


def test_train_tie_breaks_on_pair_string(spark):
    # 'xy' and 'xz' both count 2 -> 'x y' < 'x z' wins
    vocab = _syms(spark, ("xy", 2), ("xz", 2))
    merges, _ = bpe_train(vocab, n_merges=1)
    assert merges[0][1:] == ("x", "y", 2)


def test_train_raises_when_exhausted(spark):
    vocab = _syms(spark, ("ab", 1))
    with pytest.raises(ValueError, match="exhausted"):
        bpe_train(vocab, n_merges=2)  # only one pair exists


def test_apply_replays_merges_on_new_words(spark):
    vocab = _syms(spark, ("abab", 5), ("abc", 3))
    merges, _ = bpe_train(vocab, n_merges=2)
    new = _syms(spark, ("ababab", 1), ("ba", 1), ("q", 1))
    segs = {
        r["term"]: r["syms"] for r in bpe_apply(new, merges).collect()
    }
    assert segs["ababab"] == ["abab", "ab"]  # greedy: first two pairs fuse
    assert segs["ba"] == ["b", "a"]  # untouched — no learned merge applies
    assert segs["q"] == ["q"]


def test_char_vocab_filters_non_alpha(spark):
    wc = spark.createDataFrame(
        [("ok", 1), ("not-ok", 2), ("123", 3), ("Mixed", 4)], ["term", "n"]
    )
    assert [r["term"] for r in char_vocab(wc).collect()] == ["ok"]


def test_train_leaves_no_persisted_rdds(spark):
    spark.catalog.clearCache()  # the baseline: what clearCache cannot free
    before = persisted_rdds(spark)
    _, final = bpe_train(_syms(spark, ("abab", 5), ("abc", 3)), n_merges=2)
    final.collect()
    spark.catalog.clearCache()
    assert persisted_rdds(spark) == before


def test_train_runs_one_collect_not_jobs_per_merge(spark):
    vocab = _syms(spark, ("abab", 5), ("abc", 3), ("bcd", 2))
    assert count_jobs(spark, lambda: bpe_train(vocab, n_merges=3)) <= 2


@pytest.mark.parametrize(
    "train, make_vocab",
    [(bpe_train, char_vocab), (wordpiece_train, wordpiece_vocab)],
    ids=["bpe", "wordpiece"],
)
def test_train_raises_past_vocab_max_before_any_merge(
    spark, monkeypatch, train, make_vocab
):
    wc = spark.createDataFrame([("ab", 1), ("cd", 1)], ["term", "n"])
    monkeypatch.setattr(bpe, "VOCAB_MAX", 1)
    with pytest.raises(ValueError, match="VOCAB_MAX=1"):
        train(make_vocab(wc), n_merges=1)
