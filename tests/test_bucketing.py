"""Bucketed-table co-located operations: the write-time shuffle must buy a
join (and a groupBy on the bucket key) with no runtime shuffle Exchange."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_algorithms_with_pyspark_spark.sources.readers import load_table
from data_algorithms_with_pyspark_spark.sources.writers import write_bucketed_table
from tests.conftest import SF_SMOKE


@pytest.fixture()
def no_broadcast(spark):
    """Force shuffle-based join strategies so the test observes whether the
    bucketed layout eliminates the shuffle (tiny sf0.001 tables would
    otherwise auto-broadcast)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _executed_plan(df) -> str:
    df.collect()  # finalize AQE so the final physical plan is reported
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_shuffle(spark, no_broadcast):
    orders = load_table(spark, SF_SMOKE, "orders")
    lineitem = load_table(spark, SF_SMOKE, "lineitem")
    write_bucketed_table(
        orders, "b_orders", ("o_orderkey",), 4, sort_cols=("o_orderkey",)
    )
    write_bucketed_table(
        lineitem, "b_lineitem", ("l_orderkey",), 4, sort_cols=("l_orderkey",)
    )
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _executed_plan(joined)
        assert "Exchange hashpartitioning" not in plan, plan
        # identical layout on both sides also elides the shuffle in the
        # unbucketed comparison? No: plain parquet must shuffle.
        plain = lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        plain_plan = _executed_plan(plain)
        assert "Exchange hashpartitioning" in plain_plan, plain_plan
        assert joined.count() == plain.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_groupby_on_bucket_key_has_no_shuffle(spark, no_broadcast):
    customer = load_table(spark, SF_SMOKE, "customer")
    write_bucketed_table(customer, "b_customer", ("c_custkey",), 8)
    try:
        agg = spark.table("b_customer").groupBy("c_custkey").count()
        plan = _executed_plan(agg)
        assert "Exchange hashpartitioning" not in plan, plan
        assert agg.count() == customer.select("c_custkey").distinct().count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_zorder_layout_prunes_2d_box_queries(spark, tmp_path):
    """Z-ordered files bound BOTH dimensions, so a box query selective in
    the second column skips files; a single-column sort layout spans the
    full second dimension in every file and reads them all. File pruning
    is observed through distinct input_file_name() on the filtered scan —
    row-group-pruned files contribute zero rows."""
    from pyspark.sql import functions as F

    from data_algorithms_with_pyspark_spark.functions.zorder import (
        zorder_by_quantiles,
    )

    rows = [(x, y) for x in range(128) for y in range(128)]
    df = spark.createDataFrame(rows, "x int, y int")

    zkey, _, _ = zorder_by_quantiles(df, "x", "y", n_buckets=16)
    z_path = str(tmp_path / "zorder")
    (
        df.withColumn("_z", zkey)
        .repartitionByRange(16, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(z_path)
    )
    x_path = str(tmp_path / "xsort")
    (
        df.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(x_path)
    )

    def files_touched(path: str) -> int:
        scan = (
            spark.read.parquet(path)
            .where((F.col("y") >= 40) & (F.col("y") <= 47))  # narrow in y
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )
        return scan

    z_files, x_files = files_touched(z_path), files_touched(x_path)
    assert x_files == 16          # x-sorted layout: every file spans all y
    # the y-range maps into one 8-row bucket -> one Morton block row ->
    # 4 of 16 files; a range straddling the top-level split doubles that
    assert z_files <= x_files / 4


def test_interleave_bits_known_values(spark):
    from pyspark.sql import functions as F

    from data_algorithms_with_pyspark_spark.functions.zorder import (
        interleave_bits,
    )

    # a=0b11 -> even bit positions 0,2 ; b=0b01 -> odd bit position 1
    got = (
        spark.range(1)
        .select(
            interleave_bits(F.lit(3), F.lit(1), bits=2).alias("z1"),
            interleave_bits(F.lit(0), F.lit(0), bits=4).alias("z0"),
            interleave_bits(F.lit(15), F.lit(15), bits=4).alias("zf"),
        )
        .collect()[0]
    )
    assert got["z1"] == 0b111  # 5 (a bits) + 2 (b bit)
    assert got["z0"] == 0
    assert got["zf"] == 0b11111111  # full 8-bit block


def test_persisted_band_index_scan_is_bucketed(spark):
    """The incremental near-dup index query reads history bands from the
    bucketed table: the scan must carry bucket metadata (pay-once shuffle)
    and sit under the band join with no Exchange of its own."""
    from data_algorithms_with_pyspark_spark.operators.state import scope
    from data_algorithms_with_pyspark_spark.plans.catalog import get_query
    from tests.conftest import SF_SMOKE

    # the scope releases the increment signatures the row persists: left
    # cached, a later build of the same row would reuse them
    with scope():
        df = get_query("incremental_near_dup_persisted_index").fn(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [
        ln
        for ln in plan.splitlines()
        if "FileScan" in ln and "hist_band_idx" in ln
    ]
    assert scan_lines, "bucketed index scan missing from the plan"
    assert all("Bucketed: true" in ln for ln in scan_lines)


def test_lineitem_zorder_extents_known_grid(spark, tmp_path):
    """4x4 integer grid through the catalog query's exact arithmetic:
    min/max scaling maps the domain onto 0..15 per dim, the Morton cell
    of (x_bucket, y_bucket) follows interleave_bits' layout, and
    extent_area is the inclusive 2-D span product."""
    import duckdb

    from data_algorithms_with_pyspark_spark.plans.catalog import get_query

    # lineitem stand-in: 16 rows covering a 4x4 key grid, written to a
    # temp sf_dir so the catalog query's load_table path is exercised.
    rows = [(i, 1 + (i % 4), 10 + (i // 4)) for i in range(16)]
    df = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_suppkey long"
    )
    sf_dir = str(tmp_path / "sf")
    df.write.parquet(f"{sf_dir}/lineitem.parquet")

    out = {
        r["zcell"]: r
        for r in get_query("lineitem_zorder_extents")
        .fn(spark, sf_dir)
        .collect()
    }
    # partkey domain 1..4 (span 4): value v -> ((v-1)*16) div 4 = (v-1)*4
    # suppkey domain 10..13: (v-10)*4. Each quantized bucket is one of
    # {0,4,8,12}; interleaving those 4-bit values never collides, so
    # every (partkey, suppkey) pair is its own Morton cell of 1 row.
    assert len(out) == 16
    for r in out.values():
        assert r["n_rows"] == 1
        assert r["p_min"] == r["p_max"] and r["s_min"] == r["s_max"]
        assert r["extent_area"] == 1
    # spot-check the Morton layout: qp=4 (partkey 2), qs=0 (suppkey 10)
    # -> bit 2 of qp lands at bit 4 -> zcell 16
    cell = next(
        r["zcell"] for r in out.values()
        if r["p_min"] == 2 and r["s_min"] == 10
    )
    assert cell == 16
