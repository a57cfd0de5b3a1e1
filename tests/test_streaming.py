"""Structured Streaming tests: drive the streaming plans over the real
events parquet with trigger(availableNow) + memory sink, and check
batch/stream parity against the batch catalog queries."""

from __future__ import annotations

import glob
import shutil

import pytest
from pyspark.sql import functions as F

from data_algorithms_with_pyspark_spark.plans.catalog import all_queries
from data_algorithms_with_pyspark_spark.streaming.events import (
    read_events_stream,
    run_to_memory_sink,
    streaming_hourly_windows,
    streaming_session_windows,
)
from tests.conftest import SF_SMOKE


@pytest.fixture()
def events_dir(tmp_path):
    """Streaming file source needs a directory of parquet files with a
    non-nanosecond timestamp; rewrite the fixture once per test."""
    from data_algorithms_with_pyspark_spark.session import get_spark
    from data_algorithms_with_pyspark_spark.sources.readers import load_table

    spark = get_spark()
    out = str(tmp_path / "events_stream_src")
    load_table(spark, SF_SMOKE, "events").write.parquet(out)
    yield out
    shutil.rmtree(out, ignore_errors=True)


def test_streaming_hourly_windows_matches_batch(spark, events_dir):
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=1)
    assert stream.isStreaming
    agg = streaming_hourly_windows(stream)
    run_to_memory_sink(agg, "hourly_out", output_mode="complete")
    streamed = spark.sql(
        "SELECT window_start, event_type, n_events, sum_value FROM hourly_out"
    )

    batch = all_queries()["events_hourly_windows"].fn(spark, SF_SMOKE)
    s = sorted([tuple(r) for r in streamed.collect()])
    b = sorted([tuple(r) for r in batch.collect()])
    assert s == b


def test_streaming_session_windows(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    sessions = streaming_session_windows(stream, gap="30 minutes")
    run_to_memory_sink(sessions, "sessions_out", output_mode="complete")
    out = spark.sql("SELECT * FROM sessions_out")
    assert out.count() > 0

    # session count per user must match the batch lag+cumsum sessionization
    stream_counts = {
        r["user_id"]: r["n"]
        for r in out.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    batch = all_queries()["events_sessionization"].fn(spark, SF_SMOKE)
    batch_counts = {r["user_id"]: r["n_sessions"] for r in batch.collect()}
    assert stream_counts == batch_counts


def test_streaming_incremental_triggers(spark, events_dir):
    # more than one input file => maxFilesPerTrigger exercises multi-batch
    n_files = len(glob.glob(f"{events_dir}/*.parquet"))
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=1)
    counts = stream.groupBy().count()
    run_to_memory_sink(counts, "inc_out", output_mode="complete")
    total = spark.sql("SELECT count FROM inc_out").first()[0]
    assert total == 1000  # sf0.001 events rows
    assert n_files >= 1


def test_streaming_dedup_within_watermark(spark, tmp_path):
    from data_algorithms_with_pyspark_spark.session import get_spark
    from data_algorithms_with_pyspark_spark.sources.readers import load_table
    from data_algorithms_with_pyspark_spark.streaming.events import (
        streaming_dedup_within_watermark,
    )

    # Plant duplicates: the same 1000 events written twice (two files).
    src = str(tmp_path / "dup_events")
    base = load_table(spark, SF_SMOKE, "events")
    base.write.parquet(src)
    base.write.mode("append").parquet(src)

    stream = read_events_stream(spark, src, max_files_per_trigger=1)
    deduped = streaming_dedup_within_watermark(stream, watermark="10 days")
    run_to_memory_sink(deduped, "dedup_out", output_mode="append")
    assert spark.sql("SELECT count(*) AS n FROM dedup_out").first()["n"] == 1000
    assert (
        spark.sql("SELECT count(DISTINCT event_id) AS n FROM dedup_out").first()["n"]
        == 1000
    )


def test_streaming_click_purchase_join_matches_batch(spark, events_dir):
    from data_algorithms_with_pyspark_spark.sources.readers import load_table
    from data_algorithms_with_pyspark_spark.streaming.events import (
        streaming_click_purchase_join,
    )

    clicks = read_events_stream(spark, events_dir).where(
        F.col("event_type") == "click"
    )
    purchases = read_events_stream(spark, events_dir).where(
        F.col("event_type") == "purchase"
    )
    joined = streaming_click_purchase_join(
        clicks, purchases, horizon="1 hour", watermark="10 days"
    )
    run_to_memory_sink(joined, "ss_join_out", output_mode="append")
    streamed = spark.sql("SELECT purchase_id, click_id FROM ss_join_out")

    ev = load_table(spark, SF_SMOKE, "events")
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"),
        F.col("event_id").alias("click_id"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts"),
        F.col("event_id").alias("purchase_id"),
    )
    batch = c.join(
        p,
        (F.col("cu") == F.col("pu"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 hour")),
    ).select("purchase_id", "click_id")
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_streaming_stateful_running_totals(spark, events_dir):
    from data_algorithms_with_pyspark_spark.streaming.events import (
        streaming_user_running_totals,
    )

    stream = read_events_stream(spark, events_dir, max_files_per_trigger=1)
    run_to_memory_sink(
        streaming_user_running_totals(stream), "stateful_totals", "update"
    )
    # final state per user (last update wins) must equal the batch totals
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.sql(
            "SELECT user_id, n_events, total_value FROM stateful_totals"
        ).collect()
    }  # update-mode memory sink: one row per user per batch; last overwrite
    from data_algorithms_with_pyspark_spark.sources.readers import load_table

    batch = {
        r.user_id: (r.n, r.t)
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("t"),
        )
        .collect()
    }
    assert set(got) == set(batch)
    for uid, (n, t) in batch.items():
        assert got[uid][0] == n
        assert abs(got[uid][1] - t) < 0.05


def test_stream_upsert_sink_two_run_incremental(spark, tmp_path):
    """Run 1 seeds the target from batch A; run 2 (after new files arrive)
    processes only the delta and upserts it — updated keys replaced,
    new keys appended, untouched keys preserved."""
    from data_algorithms_with_pyspark_spark.streaming.events import (
        stream_upsert_sink,
    )

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    schema = "k LONG, v STRING"

    spark.createDataFrame([(1, "a1"), (2, "b1")], ["k", "v"]).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    stream_upsert_sink(stream, target, ["k"], ckpt)
    assert {(r.k, r.v) for r in spark.read.parquet(target).collect()} == {
        (1, "a1"),
        (2, "b1"),
    }

    spark.createDataFrame([(2, "b2"), (3, "c1")], ["k", "v"]).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    stream_upsert_sink(stream, target, ["k"], ckpt)
    assert {(r.k, r.v) for r in spark.read.parquet(target).collect()} == {
        (1, "a1"),
        (2, "b2"),
        (3, "c1"),
    }


def test_stream_upsert_sink_runs_leave_no_persisted_rdd(spark, tmp_path):
    """Each micro-batch checkpoints its merged table before the overwrite;
    the sink's per-batch scope frees it, so repeated runs pin nothing."""
    from data_algorithms_with_pyspark_spark.streaming.events import (
        stream_upsert_sink,
    )
    from tests.conftest import persisted_rdd_ids

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    before = persisted_rdd_ids(spark)
    for run in range(3):
        rows = [(run, f"v{run}")] + ([(0, f"w{run}")] if run else [])
        spark.createDataFrame(rows, ["k", "v"]).write.mode("append").parquet(src)
        stream = spark.readStream.schema("k LONG, v STRING").parquet(src)
        stream_upsert_sink(stream, target, ["k"], ckpt)
    assert {(r.k, r.v) for r in spark.read.parquet(target).collect()} == {
        (0, "w2"),
        (1, "v1"),
        (2, "v2"),
    }
    assert persisted_rdd_ids(spark) <= before


def test_stream_cdc_sink_insert_update_delete_across_runs(spark, tmp_path):
    """Run 1 seeds from an I/U batch (latest seq per key wins inside the
    batch); run 2 applies U and D deltas — updated keys replaced,
    deleted keys gone, untouched keys preserved."""
    from data_algorithms_with_pyspark_spark.streaming.events import (
        stream_cdc_sink,
    )

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    schema = "k LONG, v STRING, op STRING, seq LONG"

    spark.createDataFrame(
        [(1, "a1", "I", 1), (2, "b0", "I", 1), (2, "b1", "U", 2)],
        ["k", "v", "op", "seq"],
    ).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    stream_cdc_sink(stream, target, ["k"], ckpt)
    assert {(r.k, r.v) for r in spark.read.parquet(target).collect()} == {
        (1, "a1"),
        (2, "b1"),
    }

    spark.createDataFrame(
        [(1, None, "D", 3), (2, "b2", "U", 3), (3, "c1", "I", 3)],
        schema,
    ).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    stream_cdc_sink(stream, target, ["k"], ckpt)
    assert {(r.k, r.v) for r in spark.read.parquet(target).collect()} == {
        (2, "b2"),
        (3, "c1"),
    }


def test_stream_scd2_sink_versions_and_replay_idempotence(spark, tmp_path):
    """Run 1 opens version 1 per key (intra-batch multi-change collapses
    to the newest); run 2 closes and appends; re-running with no new
    input leaves the history byte-identical (replay no-op)."""
    from data_algorithms_with_pyspark_spark.streaming.events import (
        stream_scd2_sink,
    )

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    schema = "k LONG, v STRING, ts LONG"

    spark.createDataFrame(
        [(1, "a0", 9), (1, "a1", 10), (2, "b1", 10)], ["k", "v", "ts"]
    ).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    stream_scd2_sink(stream, target, ["k"], ckpt)
    rows = {
        (r.k, r.v, r.valid_from, r.valid_to)
        for r in spark.read.parquet(target).collect()
    }
    assert rows == {(1, "a1", 10, None), (2, "b1", 10, None)}

    spark.createDataFrame([(1, "a2", 20)], ["k", "v", "ts"]).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    stream_scd2_sink(stream, target, ["k"], ckpt)
    rows = {
        (r.k, r.v, r.valid_from, r.valid_to)
        for r in spark.read.parquet(target).collect()
    }
    assert rows == {
        (1, "a1", 10, 20),
        (1, "a2", 20, None),
        (2, "b1", 10, None),
    }

    # replay with nothing new: availableNow drains zero files; history
    # unchanged (and a hypothetical duplicate delivery of (1,'a2',20)
    # would be dropped by the open-version anti join)
    stream = spark.readStream.schema(schema).parquet(src)
    stream_scd2_sink(stream, target, ["k"], ckpt)
    rows2 = {
        (r.k, r.v, r.valid_from, r.valid_to)
        for r in spark.read.parquet(target).collect()
    }
    assert rows2 == rows

    # duplicate delivery through a FRESH checkpoint (forces the batch to
    # re-process every file): the anti join must keep history identical
    stream = spark.readStream.schema(schema).parquet(src)
    stream_scd2_sink(stream, target, ["k"], str(tmp_path / "ckpt2"))
    rows3 = {
        (r.k, r.v, r.valid_from, r.valid_to)
        for r in spark.read.parquet(target).collect()
    }
    assert rows3 == rows


def test_streaming_sliding_windows_matches_batch(spark, events_dir):
    from data_algorithms_with_pyspark_spark.streaming.events import (
        streaming_sliding_windows,
    )

    stream = read_events_stream(spark, events_dir, max_files_per_trigger=1)
    agg = streaming_sliding_windows(stream)
    run_to_memory_sink(agg, "sliding_out", output_mode="complete")
    streamed = spark.sql(
        "SELECT window_start, event_type, n_events, sum_value FROM sliding_out"
    )
    batch = all_queries()["events_sliding_windows"].fn(spark, SF_SMOKE)
    s = sorted([tuple(r) for r in streamed.collect()])
    b = sorted([tuple(r) for r in batch.collect()])
    assert s == b


def test_streaming_enriched_events_matches_batch_join(spark, events_dir):
    from data_algorithms_with_pyspark_spark.sources.readers import load_table
    from data_algorithms_with_pyspark_spark.streaming.events import (
        streaming_enriched_events,
    )

    # static dimension: per-user segment derived from customer keys
    dim = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id")
        .distinct()
        .withColumn("segment", (F.col("user_id") % 3).cast("int"))
    )
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=1)
    enriched = streaming_enriched_events(stream, dim, how="left")
    assert enriched.isStreaming
    run_to_memory_sink(
        enriched.groupBy("segment").agg(F.count("*").alias("n")),
        "enriched_out",
        output_mode="complete",
    )
    streamed = {
        r["segment"]: r["n"]
        for r in spark.sql("SELECT segment, n FROM enriched_out").collect()
    }
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .join(dim, on="user_id", how="left")
        .groupBy("segment")
        .agg(F.count("*").alias("n"))
    )
    assert streamed == {r["segment"]: r["n"] for r in batch.collect()}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        streaming_enriched_events(stream, dim, how="full")


def test_streaming_dedup_vs_history(spark, tmp_path):
    """Arriving docs are admitted iff their content hash is new vs the
    static history AND within the stream (first occurrence wins)."""
    from data_algorithms_with_pyspark_spark.streaming.events import (
        streaming_dedup_vs_history,
    )

    docs_dir = str(tmp_path / "docs_stream")
    batch = spark.createDataFrame(
        [
            (1, "seen before in history"),
            (2, "brand new document one"),
            (3, "brand new document one"),   # in-stream dup of 2
            (4, "another fresh document"),
        ],
        "doc_id long, text string",
    )
    batch.coalesce(1).write.mode("overwrite").parquet(docs_dir)

    history = spark.createDataFrame(
        [("seen before in history",)], "text string"
    ).select(F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))).alias("fingerprint"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )
    admitted = streaming_dedup_vs_history(stream, history)
    run_to_memory_sink(admitted, "hist_dedup_out", output_mode="append")
    rows = spark.sql("SELECT doc_id FROM hist_dedup_out").collect()
    got = sorted(r["doc_id"] for r in rows)
    assert len(got) == 2
    assert 1 not in got            # history dup rejected
    assert got[1] == 4             # doc 4 always admitted
    assert got[0] in (2, 3)        # exactly one of the in-stream dups


def test_synthetic_stream_source_micro_batches(spark):
    """The Python streaming DataSource ticks deterministic micro-batches:
    row ids are the offset counter, so N processed batches yield exactly
    N * rowsPerBatch distinct sequential ids."""
    from data_algorithms_with_pyspark_spark.sources.synthetic import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    stream = (
        spark.readStream.format("synthetic_events")
        .option("rowsPerBatch", 40)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("synth_stream_out")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) n FROM synth_stream_out").collect()[0]["n"]
            if n >= 120:
                break
            time.sleep(1)
        rows = spark.sql(
            "SELECT count(*) n, count(DISTINCT event_id) d, min(event_id) lo "
            "FROM synth_stream_out"
        ).collect()[0]
        assert rows["n"] >= 120
        assert rows["d"] == rows["n"]  # sequential ids, no dup, no gap loss
        assert rows["lo"] == 0
        assert rows["n"] % 40 == 0     # whole micro-batches only
    finally:
        q.stop()


def test_streaming_ttl_dedup_plan_construction(spark):
    """The transformWithStateInPandas plan builds and is streaming-marked
    even without the worker-side protobuf dependency (plan construction
    is JVM/py4j only; the protocol import happens at query start)."""
    from data_algorithms_with_pyspark_spark.streaming.events import (
        streaming_ttl_dedup,
    )

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("value AS user_id", "CAST(value AS STRING) AS event_type")
    )
    out = streaming_ttl_dedup(stream, ["user_id", "event_type"], ttl_minutes=5)
    assert out.isStreaming
    assert [f.name for f in out.schema.fields] == [
        "user_id",
        "event_type",
        "n_suppressed",
    ]


def test_streaming_ttl_dedup_first_seen(spark, tmp_path):
    """transformWithStateInPandas first-seen dedup: duplicates within a
    batch are suppressed-and-counted, keys seen in an earlier batch are
    suppressed entirely, unseen keys emit. (TTL is configured state —
    expiry timing isn't exercised in an availableNow run.)"""
    from tests.pbshim import sitecustomize as pbshim

    if not pbshim.available():
        pytest.skip(
            "transformWithState needs a protobuf runtime: neither "
            "google.protobuf nor the gcloud pure-Python runtime "
            "(tests/pbshim/sitecustomize.py) is present"
        )
    from pyspark.sql import Row

    from data_algorithms_with_pyspark_spark.streaming.events import (
        drain_to_memory_sink,
        streaming_ttl_dedup,
    )

    src = tmp_path / "dedup_src"
    b1 = spark.createDataFrame(
        [Row(user_id=1, event_type="a"), Row(user_id=1, event_type="a"),
         Row(user_id=2, event_type="b")]
    )
    b2 = spark.createDataFrame(
        [Row(user_id=1, event_type="a"), Row(user_id=3, event_type="c")]
    )
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema("user_id bigint, event_type string")
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        out = streaming_ttl_dedup(
            stream, ["user_id", "event_type"], ttl_minutes=120
        )
        # 3 distinct keys across both batches -> 3 emitted rows
        drain_to_memory_sink(
            out, "ttl_dedup_out", output_mode="append", min_rows=3
        )
        rows = {
            (r.user_id, r.event_type): r.n_suppressed
            for r in spark.sql("SELECT * FROM ttl_dedup_out").collect()
        }
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    # each key exactly once across all batches
    assert set(rows) == {(1, "a"), (2, "b"), (3, "c")}
    # the duplicate-rich key counted its in-batch repeats; later-batch
    # repeat of (1, a) emitted nothing at all
    assert rows[(2, "b")] == 0
    assert rows[(3, "c")] == 0
    assert rows[(1, "a")] in (0, 1)  # file order within availableNow varies


def test_stream_continuous_aggregate_matches_batch(spark, events_dir, tmp_path):
    """Streamed micro-batch rollup maintenance must equal the one-shot
    batch aggregate over the same events — the IVM equivalence, driven
    through foreachBatch with maxFilesPerTrigger=1 (multiple merges)."""
    from data_algorithms_with_pyspark_spark.sources.readers import load_table
    from data_algorithms_with_pyspark_spark.streaming.events import (
        read_events_stream,
        stream_continuous_aggregate,
    )

    target = str(tmp_path / "rollup_target")
    ckpt = str(tmp_path / "rollup_ckpt")
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=1)
    stream_continuous_aggregate(stream, target, ckpt)

    got = {
        (r["hour"], r["event_type"]): (r["n_events"], r["value_fp"], r["max_fp"])
        for r in spark.read.parquet(target).collect()
    }
    fp = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long")
    want = {
        (r["hour"], r["event_type"]): (r["n"], r["s"], r["m"])
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count("*").alias("n"), F.sum(fp).alias("s"), F.max(fp).alias("m"))
        .collect()
    }
    assert got == want


def test_streaming_timer_sessions_plan_construction(spark):
    from data_algorithms_with_pyspark_spark.streaming.events import (
        streaming_timer_sessions,
    )

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("value % 3 AS user_id", "CAST(value AS DOUBLE) AS value")
    )
    out = streaming_timer_sessions(stream, ["user_id"], gap_seconds=5)
    assert out.isStreaming
    assert [f.name for f in out.schema.fields] == [
        "user_id",
        "n_events",
        "value_sum_micro",
    ]


def test_streaming_timer_sessions_emit_on_idle_timeout(spark, tmp_path):
    """transformWithState TIMERS e2e: sessions accumulate across
    micro-batches and are emitted from the handleExpiredTimer path once
    the key stays quiet for the gap — no further input rows for that key
    exist when the session row materializes. Emitted totals must equal
    the batch groupBy over the same rows (stream/batch parity after all
    sessions close)."""
    from tests.pbshim import sitecustomize as pbshim

    if not pbshim.available():
        pytest.skip(
            "transformWithState needs a protobuf runtime: neither "
            "google.protobuf nor the gcloud pure-Python runtime "
            "(tests/pbshim/sitecustomize.py) is present"
        )
    from pyspark.sql import Row

    from data_algorithms_with_pyspark_spark.streaming.events import (
        drain_to_memory_sink,
        streaming_timer_sessions,
    )

    src = tmp_path / "sess_src"
    b1 = spark.createDataFrame(
        [Row(user_id=1, value=1.5), Row(user_id=1, value=2.25),
         Row(user_id=2, value=10.0)]
    )
    b2 = spark.createDataFrame(
        [Row(user_id=1, value=0.25)]
    )
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema("user_id bigint, value double")
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        out = streaming_timer_sessions(stream, ["user_id"], gap_seconds=2)
        # both keys' sessions close after 2 quiet seconds; the state-
        # cleanup batch loop under processingTime keeps firing timers,
        # so polling for 2 rows drains both emissions
        drain_to_memory_sink(
            out, "timer_sessions_out", output_mode="append", min_rows=2,
            timeout_sec=180.0,
        )
        rows = {
            r.user_id: (r.n_events, r.value_sum_micro)
            for r in spark.sql("SELECT * FROM timer_sessions_out").collect()
        }
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    # batch parity: user 1 saw 3 rows / 4.0 total across two batches,
    # user 2 saw 1 row / 10.0 — exactly one closed session each
    assert rows == {1: (3, 4_000_000), 2: (1, 10_000_000)}


def test_streaming_frequent_terms_mapstate_across_batches(spark, tmp_path):
    """transformWithState MapState e2e: Misra-Gries counters accumulate
    across micro-batches (k large enough that no decrement fires, so the
    final emission's counts are EXACT running counts), and with a tiny k
    the guaranteed-superset property still surfaces the heavy term."""
    from tests.pbshim import sitecustomize as pbshim

    if not pbshim.available():
        pytest.skip(
            "transformWithState needs a protobuf runtime: neither "
            "google.protobuf nor the gcloud pure-Python runtime "
            "(tests/pbshim/sitecustomize.py) is present"
        )
    from pyspark.sql import Row

    from data_algorithms_with_pyspark_spark.streaming.events import (
        drain_to_memory_sink,
        streaming_frequent_terms,
    )

    src = tmp_path / "freq_src"
    b1 = spark.createDataFrame(
        [Row(g="s1", term=t) for t in ["hot"] * 5 + ["t1", "t2"]]
    )
    b2 = spark.createDataFrame(
        [Row(g="s1", term=t) for t in ["hot"] * 4 + ["t1"]]
    )
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema("g string, term string")
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        out = streaming_frequent_terms(stream, "g", "term", k=10)
        # per-batch emissions: batch1 emits 3 terms, batch2 re-emits the
        # updated summary (3 terms) -> 6 rows total
        drain_to_memory_sink(
            out, "freq_terms_out", output_mode="append", min_rows=6,
            timeout_sec=120.0,
        )
        rows = spark.sql("SELECT * FROM freq_terms_out").collect()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    # the LAST emission for 'hot' must be the exact accumulated count
    # (k=10 > 3 distinct terms -> no MG decrement ever fires)
    hot_counts = sorted(r.mg_count for r in rows if r.term == "hot")
    assert hot_counts[-1] == 9, rows  # 5 (batch 1) + 4 (batch 2)
    t1_counts = sorted(r.mg_count for r in rows if r.term == "t1")
    assert t1_counts[-1] == 2, rows


def test_events_replay_pyds_source_multibatch(spark, tmp_path):
    """The custom Python streaming source admits 'step' chunks per
    trigger: 4 chunk files at step=2 must arrive in >= 2 non-empty
    micro-batches, and the final aggregate must equal the batch truth."""
    import time

    from pyspark.sql import functions as F

    from data_algorithms_with_pyspark_spark.sources.pyds import (
        register_events_replay_source,
    )

    src = str(tmp_path / "chunks")
    rows = [(i % 7, f"t{i % 3}", float(i)) for i in range(200)]
    spark.createDataFrame(
        rows, "user_id long, event_type string, value double"
    ).repartition(4).write.mode("overwrite").parquet(src)

    register_events_replay_source(spark)
    stream = (
        spark.readStream.format("events_replay")
        .option("path", src)
        .option("step", "2")
        .load()
    )
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("user_id")).alias("us"),
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("pyds_replay_test")
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while True:
            done = sum(
                p["numInputRows"]
                for p in q.recentProgress
                if p is not None
            )
            if done >= 200:
                break
            assert time.time() < deadline, "stream did not drain"
            time.sleep(0.1)
        data_batches = [
            p for p in q.recentProgress if p["numInputRows"] > 0
        ]
        assert len(data_batches) >= 2  # step=2 over 4 chunks
    finally:
        q.stop()
    got = {
        r["event_type"]: (r["n"], r["us"])
        for r in spark.table("pyds_replay_test").collect()
    }
    want = {}
    for u, t, _v in rows:
        n, us = want.get(t, (0, 0))
        want[t] = (n + 1, us + u)
    assert got == want


def test_events_replay_offsets_monotone_across_restart(tmp_path):
    """Restart safety (offsets are durable, reader admission state is
    not): a FRESH reader handed the committed offset — via commit(end)
    replay or via a partitions() range — never returns a latestOffset
    below it and never re-serves committed chunks as duplicates."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_algorithms_with_pyspark_spark.sources.pyds import (
        _EventsReplayStreamReader,
    )

    d = tmp_path / "chunks"
    d.mkdir()
    for i in range(8):
        pq.write_table(
            pa.table(
                {
                    "user_id": pa.array([i], pa.int64()),
                    "event_type": pa.array(["t"], pa.string()),
                    "value": pa.array([1.0], pa.float64()),
                }
            ),
            str(d / f"part-{i:05d}.parquet"),
        )
    opts = {"path": str(d), "step": "2"}

    # Committed-batch restart: the engine replays commit(end) to the
    # fresh reader before asking for the next offset.
    r = _EventsReplayStreamReader(opts)
    r.commit({"chunk": 4})
    lat = r.latestOffset()["chunk"]
    assert lat >= 4
    served = [p.path for p in r.partitions({"chunk": 4}, {"chunk": lat})]
    assert all(f"part-0000{i}" in p for i, p in enumerate(served, start=4))

    # Stale-latest restart: the engine planned (committed=5, latest=1)
    # against a fresh reader's too-small latestOffset. The range must
    # serve EMPTY (never backward), and the handed-back offsets must
    # floor the cursor so the next latestOffset moves forward of 5.
    r2 = _EventsReplayStreamReader(opts)
    assert r2.latestOffset() == {"chunk": 2}
    assert r2.partitions({"chunk": 5}, {"chunk": 2}) == []
    nxt = r2.latestOffset()["chunk"]
    assert nxt > 5
    chunks = [p.path for p in r2.partitions({"chunk": 5}, {"chunk": nxt})]
    assert [c[-13:] for c in chunks] == [
        f"part-{i:05d}.parquet"[-13:] for i in range(5, nxt)
    ]


def test_state_metrics_recorded_for_append_parity(spark):
    """The per-prefix state-store telemetry (STATE_METRICS) records the
    real progress of the most recent terminated StreamingQuery: after
    the append-hourly parity row runs, its prefix holds max state rows
    >= the distinct (window, event_type) groups ever open at once, a
    positive memory footprint, one batch per source file (4 real + 2
    flush sentinels), and ZERO rows dropped by the watermark (the
    ts-ordered source never delivers late data — any drop would mean
    the parity row silently lost input)."""
    from data_algorithms_with_pyspark_spark.plans import streaming_parity

    streaming_parity.STATE_METRICS.pop("append_hourly_parity", None)
    out = all_queries()["streaming_append_hourly_parity"].fn(spark, SF_SMOKE)
    assert out.count() > 0
    m = streaming_parity.STATE_METRICS["append_hourly_parity"]
    assert m["max_state_rows"] > 0
    assert m["max_state_bytes"] > 0
    assert m["rows_dropped_by_watermark"] == 0
    assert m["n_batches"] >= 6  # 4 real ts-range files + 2 flush files
