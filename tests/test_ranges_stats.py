"""Unit tests for the bucketed range join and the HLL sketch's error bound
(hand-built known answers, the reference's test style)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_algorithms_with_pyspark_spark.operators.ranges import bucketed_range_join
from data_algorithms_with_pyspark_spark.sources.readers import load_table
from tests.conftest import SF_CORRECTNESS


def _points(spark):
    return spark.createDataFrame(
        [(1, 0.5), (2, 10.0), (3, 15.0), (4, 25.0), (5, 99.0)], ["pid", "x"]
    )


def _ranges(spark):
    return spark.createDataFrame(
        [("a", 0.0, 10.0), ("b", 10.0, 20.0), ("c", 12.0, 30.0)],
        ["name", "lo", "hi"],
    )


def test_range_join_inner_known_answer(spark):
    out = bucketed_range_join(
        _points(spark), _ranges(spark), "x", "lo", "hi", 5.0
    )
    got = sorted((r["pid"], r["name"]) for r in out.collect())
    # x=0.5->a; x=10 is excluded from a (half-open) but in b; 15->b and c;
    # 25->c only; 99 matches nothing.
    assert got == [(1, "a"), (2, "b"), (3, "b"), (3, "c"), (4, "c")]


def test_range_join_left_keeps_unmatched(spark):
    out = bucketed_range_join(
        _points(spark), _ranges(spark), "x", "lo", "hi", 5.0, how="left"
    )
    rows = {(r["pid"], r["name"]) for r in out.collect()}
    assert (5, None) in rows
    assert out.count() == 6  # 5 matches + 1 unmatched


def test_range_join_wide_buckets_still_exact(spark):
    # bucket_width much larger than intervals: candidates inflate but the
    # exact predicate keeps the result identical.
    narrow = bucketed_range_join(
        _points(spark), _ranges(spark), "x", "lo", "hi", 5.0
    )
    wide = bucketed_range_join(
        _points(spark), _ranges(spark), "x", "lo", "hi", 1000.0
    )
    assert sorted(map(tuple, narrow.collect())) == sorted(map(tuple, wide.collect()))


def test_range_join_validations(spark):
    with pytest.raises(ValueError, match="bucket_width"):
        bucketed_range_join(_points(spark), _ranges(spark), "x", "lo", "hi", 0)
    with pytest.raises(ValueError, match="disjoint"):
        bucketed_range_join(
            _points(spark),
            _ranges(spark).withColumnRenamed("name", "x"),
            "x", "lo", "hi", 1.0,
        )


def test_hll_error_within_bound(spark):
    events = load_table(spark, SF_CORRECTNESS, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    approx = {
        r["event_type"]: r["approx_users"]
        for r in events.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"))
        .collect()
    }
    assert set(exact) == set(approx)
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(2, 0.05 * n), (k, approx[k], n)


def test_global_row_index_scope_releases(spark):
    from data_algorithms_with_pyspark_spark.operators.ordering import (
        global_row_index,
    )
    from data_algorithms_with_pyspark_spark.operators.state import scope
    from tests.conftest import persisted_rdd_ids

    df = spark.range(100).withColumnRenamed("id", "k")
    before = persisted_rdd_ids(spark)
    with scope():
        out = global_row_index(df, ["k"])
        assert out.count() == 100
        # the range-partitioned input is pinned while the result is live
        assert persisted_rdd_ids(spark) - before
    assert persisted_rdd_ids(spark) <= before


def test_interval_overlap_join_known_answers(spark):
    from data_algorithms_with_pyspark_spark.operators.ranges import (
        interval_overlap_join,
    )

    left = spark.createDataFrame(
        [("a", 0, 10), ("b", 20, 30), ("c", 50, 55)], ["lid", "l_lo", "l_hi"]
    )
    right = spark.createDataFrame(
        [("x", 5, 25),   # overlaps a and b
         ("y", 30, 40),  # touches b at 30 (closed intervals -> match)
         ("z", 41, 49)], # overlaps nothing
        ["rid", "r_lo", "r_hi"],
    )
    out = sorted(
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            left, right, "l_lo", "l_hi", "r_lo", "r_hi", bucket_width=7
        ).collect()
    )
    assert out == [("a", "x"), ("b", "x"), ("b", "y")]


def test_interval_overlap_join_no_duplicates_across_shared_buckets(spark):
    """A pair sharing MANY buckets (long overlap, small bucket) must
    still emit exactly once (first-shared-bucket guard)."""
    from data_algorithms_with_pyspark_spark.operators.ranges import (
        interval_overlap_join,
    )

    left = spark.createDataFrame([(1, 0, 1000)], ["lid", "l_lo", "l_hi"])
    right = spark.createDataFrame([(2, 100, 900)], ["rid", "r_lo", "r_hi"])
    rows = interval_overlap_join(
        left, right, "l_lo", "l_hi", "r_lo", "r_hi", bucket_width=10
    ).collect()
    assert len(rows) == 1
