"""Global ordered row indexing without the single-partition trap.

Assigning contiguous global row numbers (training-sample ids, shard
offsets) under a total order is a classic Spark scale trap: the obvious
``row_number().over(Window.orderBy(...))`` plans a WINDOW over ONE
partition — every row funnels through a single task, which is exactly the
kind of "works on 60k rows, dies at 100 TB" plan this engine exists to
avoid. The reference never faces this (its examples are single-node); a
training-data pipeline faces it constantly.

The scale-correct decomposition here:

1. ``repartitionByRange(order_cols)`` — ONE range-exchange shuffle, the
   unavoidable cost of a total order, fully parallel;
2. persist — pins the (sampled, hence otherwise nondeterministic) range
   boundaries so the two downstream jobs see identical partitions;
3. per-partition counts — a count-only aggregate collecting ONE row per
   partition to the driver (thousands of rows, not the corpus);
4. exclusive prefix-sum of the counts on the driver, broadcast-joined
   back on partition id;
5. ``sortWithinPartitions`` + ``monotonically_increasing_id`` — the local
   row index inside each sorted partition comes from the mono-id's low 33
   bits (mono_id = pid << 33 | local_idx by construction), all JVM-side,
   zero additional shuffles.

Total data motion: one range shuffle. Driver state: one long per
partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from data_algorithms_with_pyspark_spark.operators.state import persist

__all__ = ["global_row_index", "global_ranked_prefix_sum"]

_MONO_PARTITION_SHIFT = 33  # monotonically_increasing_id() = pid << 33 | idx


def _range_persisted(
    df: DataFrame, order_cols: list[str | Column], num_partitions: int | None
) -> DataFrame:
    """One range exchange on ``order_cols``, persisted (MEMORY_AND_DISK) so
    every downstream job sees the same sampled boundaries; the caller's
    ``state.scope()`` releases it."""
    return persist(
        df.repartitionByRange(num_partitions, *order_cols)
        if num_partitions
        else df.repartitionByRange(*order_cols),
        StorageLevel.MEMORY_AND_DISK,
    )


def global_row_index(
    df: DataFrame,
    order_cols: list[str | Column],
    index_col: str = "row_idx",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``index_col``: contiguous 0-based global row numbers under the
    total order given by ``order_cols``.

    ``order_cols`` must define a TOTAL order (include a unique tiebreaker
    column); ties straddling a range-partition boundary would otherwise
    make the numbering nondeterministic.

    EAGER + CACHING, by design: building the result runs a driver job
    (the per-partition counts — one collected row per partition) and
    persists the range-partitioned input (MEMORY_AND_DISK) so the count
    pass and the numbering pass see identical sampled range boundaries.
    That cache must outlive the returned DataFrame's consumption, so it is
    owned by the caller's ``state.scope()`` and released when it exits:

        with scope():
            global_row_index(df, ["k", "id"]).write.parquet(...)
    """
    parted = _range_persisted(df, order_cols, num_partitions)

    counts = (
        parted.groupBy(F.spark_partition_id().alias("_pid"))
        .count()
        .collect()  # one row per partition
    )
    offsets, acc = [], 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((row["_pid"], acc))
        acc += row["count"]
    offset_df = parted.sparkSession.createDataFrame(
        offsets or [(0, 0)], "_pid int, _offset long"
    )

    mono = F.monotonically_increasing_id()
    local = mono - (
        F.shiftleft(F.spark_partition_id().cast("long"), _MONO_PARTITION_SHIFT)
    )
    numbered = (
        parted.sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn("_local", local)
        .join(F.broadcast(offset_df), on="_pid")
        .withColumn(index_col, (F.col("_offset") + F.col("_local")))
        .drop("_pid", "_local", "_offset")
    )
    return numbered


def global_ranked_prefix_sum(
    df: DataFrame,
    order_cols: list[str | Column],
    value_col: str,
    rank_col: str = "rank",
    cum_col: str = "cum_value",
    total_col: str | None = "total_value",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global rank + inclusive running total of ``value_col`` under a total
    order, without funneling the relation through one partition.

    The naive form — ``sum(x).over(Window.orderBy(...))`` — plans an
    Exchange SinglePartition: every row through one task. Here:

    1. range-exchange on ``order_cols`` (fully parallel), persist to pin
       the sampled boundaries;
    2. per-partition (count, sum) — one collected row per partition;
    3. exclusive prefix offsets on the driver, broadcast back on pid;
    4. within-partition window (partitioned BY pid, so state is per-task)
       for the local rank/cumsum, plus the offsets.

    The within-partition window costs one hash exchange on pid (moves each
    partition as a block); total corpus motion is 2 exchanges vs the
    single-task funnel. Exact for integer values (offsets are exact sums);
    for doubles the split changes accumulation order — use integers (this
    engine's cross-engine rule anyway). ``total_col`` (if not None) is the
    driver-known grand total attached as a literal — replacing the
    ``sum() over ()`` full-relation window with a constant.

    EAGER + CACHING like ``global_row_index`` (driver job for the
    per-partition stats; the range-partitioned input stays persisted) —
    the persisted relation is released when the caller's
    ``state.scope()`` exits.
    """
    parted = _range_persisted(df, order_cols, num_partitions)

    stats = (
        parted.groupBy(F.spark_partition_id().alias("_pid"))
        .agg(F.count("*").alias("_cnt"), F.sum(value_col).alias("_sum"))
        .collect()
    )
    offsets, row_acc, sum_acc = [], 0, 0
    for row in sorted(stats, key=lambda r: r["_pid"]):
        offsets.append((row["_pid"], row_acc, sum_acc))
        row_acc += row["_cnt"]
        sum_acc += row["_sum"] or 0
    offset_df = parted.sparkSession.createDataFrame(
        offsets or [(0, 0, 0)], "_pid int, _row_off long, _sum_off long"
    )

    from pyspark.sql.window import Window

    w = Window.partitionBy("_pid").orderBy(*order_cols)
    cum_w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = (
        parted.withColumn("_pid", F.spark_partition_id())
        .join(F.broadcast(offset_df), on="_pid")
        .withColumn(
            rank_col,
            (F.row_number().over(w) + F.col("_row_off")).cast("long"),
        )
        .withColumn(
            cum_col, (F.sum(value_col).over(cum_w) + F.col("_sum_off"))
        )
        .drop("_pid", "_row_off", "_sum_off")
    )
    if total_col is not None:
        out = out.withColumn(total_col, F.lit(sum_acc).cast("long"))
    return out
