"""Structured Streaming forms of the engine's event analytics.

The reference has no streaming code at all (SURVEY.md §2.11); this module
supplies the capability Spark-natively: file-source ``readStream`` over the
same parquet layout, event-time tumbling windows with watermarks for late
data, session windows, and a stateful custom operator via
``applyInPandasWithState``.

Batch/stream parity: each query here is the streaming twin of a batch query
in ``plans/events.py`` (tumbling window ↔ events_hourly_windows, session
window ↔ events_sessionization), so results can be validated against the
batch plans with ``trigger(availableNow=True)`` + a memory sink — the
pattern tests/test_streaming.py uses.

Scale notes: watermarks bound state (late rows beyond the watermark are
dropped); state lives in the executor state store keyed by group — the
same partitioning rules as batch groupBy apply (skewed keys → salt or
widen the key).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_algorithms_with_pyspark_spark.operators.state import (
    local_checkpoint,
    scope,
)
from data_algorithms_with_pyspark_spark.schemas import TABLE_SCHEMAS

__all__ = [
    "read_events_stream",
    "streaming_hourly_windows",
    "streaming_sliding_windows",
    "streaming_session_windows",
    "streaming_dedup_within_watermark",
    "streaming_dedup_vs_history",
    "streaming_click_purchase_join",
    "streaming_enriched_events",
    "run_to_memory_sink",
    "stream_upsert_sink",
    "stream_continuous_aggregate",
    "streaming_ttl_dedup",
    "streaming_timer_sessions",
    "streaming_frequent_terms",
]


def read_events_stream(
    spark: SparkSession, events_parquet_path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over the events parquet layout (schema must be
    explicit for streaming reads)."""
    return (
        spark.readStream.schema(TABLE_SCHEMAS["events"])
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_parquet_path)
    )


def streaming_hourly_windows(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type, late data bounded
    by the watermark. Streaming twin of plans/events.py:events_hourly_windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_sliding_windows(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Sliding 1-hour/30-minute event-time windows per event type.
    Streaming twin of plans/events.py:events_sliding_windows; state holds
    2 open windows per (window, type) group, closed by the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Gap-based session windows per user (native session_window operator).
    Streaming twin of plans/events.py:events_sessionization."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def streaming_dedup_within_watermark(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """At-least-once -> exactly-once repair: drop event_id duplicates that
    arrive within the watermark horizon. State holds one entry per id seen
    inside the horizon and is evicted as the watermark advances — bounded
    state, unlike a global ``dropDuplicates`` whose state grows forever."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def streaming_dedup_vs_history(
    docs_stream: DataFrame,
    history_fingerprints: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Streaming twin of the batch incremental-dedup queries
    (incremental_dedup_new_docs / incremental_near_dup_candidates): every
    arriving document is fingerprinted and admitted only if the content
    hash is absent from the static history AND unseen within the stream.

    Plan shape: stream-static LEFT ANTI join — supported natively with the
    static side on the right, and Spark re-broadcasts/rescans only the
    static side's matching buckets per micro-batch; the stream never
    accumulates join state. The within-stream ``dropDuplicates`` DOES keep
    one state-store entry per distinct fingerprint seen — bounded by
    distinct NEW content per run, which is the semantics an exactly-once
    ingest requires (there is no event-time column on documents to
    watermark it away; restart with a fresh checkpoint per ingest window
    to reset it).
    """
    from data_algorithms_with_pyspark_spark.functions.text_functions import (
        normalize_text,
    )

    fp = F.md5(normalize_text(text_col))
    hist = history_fingerprints.select("fingerprint")
    return (
        docs_stream.withColumn("fingerprint", fp)
        .dropDuplicates(["fingerprint"])
        .join(hist, on="fingerprint", how="left_anti")
    )


def streaming_click_purchase_join(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: each purchase matched to the same user's
    clicks in the preceding ``horizon``. Both sides are watermarked and the
    join carries an event-time range condition, so each side's buffered
    state is bounded to watermark + horizon (Spark evicts older rows).
    Streaming twin of the as-of/window join in plans/events.py:
    clicks_last_purchase_asof.
    """
    c = clicks.select(
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("c_user_id") == F.col("p_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}"))
    )
    return c.join(p, cond, "inner").select(
        F.col("p_user_id").alias("user_id"),
        "purchase_id",
        "purchase_ts",
        "click_id",
        "click_ts",
        "purchase_value",
    )


def streaming_enriched_events(
    events: DataFrame, user_dim: DataFrame, how: str = "left"
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of events joins the
    (batch) user dimension — the lookup-table pattern of every streaming
    ETL. No watermark needed and NO state store: a static side is simply
    (re)joined per micro-batch, and Spark broadcasts it when small, so the
    stream never shuffles. The static side is re-read per batch from its
    source, which is what makes slowly-changing dimensions pick up updates
    between triggers.

    ``user_dim`` must carry ``user_id``; its remaining columns are appended
    to every matching event (left join keeps dimension-missing events,
    inner drops them).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"stream-static join supports inner|left, got {how!r}")
    return events.join(F.broadcast(user_dim), on="user_id", how=how)


def run_to_memory_sink(
    streaming_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> None:
    """Drive a streaming query over all currently-available input and stop —
    batch-mode execution of a streaming plan (trigger availableNow)."""
    q = (
        streaming_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def drain_to_memory_sink(
    streaming_df: DataFrame,
    query_name: str,
    output_mode: str = "append",
    min_rows: int = 0,
    timeout_sec: float = 120.0,
) -> None:
    """Like ``run_to_memory_sink`` but for STATEFUL operators whose time
    mode keeps the query alive: with ``timeMode="processingTime"`` (which
    state TTL requires), ``TransformWithStateExec.shouldRunAnotherBatch``
    is always true — processing-time timers/TTL could fire at any
    wall-clock instant — so an availableNow run never self-terminates; it
    loops "No new data but cleaning up state" zero-input batches forever,
    and the constant batch churn also starves ``processAllAvailable()``
    (observed on Spark 4.1 local mode). The workable batch-drain
    contract: poll the memory sink until ``min_rows`` rows arrived (the
    caller knows how many the drained input must produce), then
    ``stop()`` — the same polling pattern the rate-source tests use."""
    import time as _time

    q = (
        streaming_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    spark = streaming_df.sparkSession
    try:
        deadline = _time.monotonic() + timeout_sec
        while _time.monotonic() < deadline:
            n = spark.sql(
                f"SELECT count(*) AS c FROM {query_name}"
            ).collect()[0]["c"]
            if n >= min_rows:
                break
            _time.sleep(0.5)
    finally:
        q.stop()
    q.awaitTermination()


def streaming_user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user event count and value total, updated batch-by-batch.

    The state store holds one (count, total) pair per user — O(users)
    state, no window buffering. Streaming twin of
    plans/events.py:events_user_running_totals' final per-user totals.
    Arrow-batched (pandas) on the Python side: the per-group update is a
    vectorized sum, never row-at-a-time.

    The money total accumulates in INTEGER CENTS inside the state
    (floor(v*100+0.5) per row), not floats: micro-batch composition
    varies with file arrival order, and a float running sum would make
    the emitted totals depend on that order (the catalog cents_sum rule,
    applied to streaming state); total_value formats as cents/100.0.
    """
    import numpy as np  # local import: worker-side dependency
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def _update(key, pdfs, state):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            vals = pdf["value"].fillna(0.0).to_numpy(dtype="float64")
            cents += int(np.floor(vals * 100.0 + 0.5).sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [cents / 100.0],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _merge_sink(
    stream: DataFrame,
    target_path: str,
    checkpoint_dir: str,
    merge: Callable[[DataFrame, DataFrame | None], DataFrame],
) -> None:
    """The one ``foreachBatch`` body of the merge sinks: each micro-batch
    overwrites the parquet ``target_path`` with ``merge(batch, target)``,
    where ``target`` is the stored table (None before the first batch).

    Target existence is probed explicitly rather than by catching a read
    error: a transient read failure or a merge schema mismatch must FAIL
    the batch (the checkpoint replays it), not silently overwrite the
    target with only the current micro-batch. The merged result is
    ``localCheckpoint``-materialized before the overwrite so the write
    never reads the files it is replacing (on a real deployment the
    target would be a transactional table format and ``merge`` its MERGE
    INTO); a ``state.scope()`` per micro-batch frees that checkpoint once
    it is written.

    Runs with ``trigger(availableNow=True)``: drains available input and
    returns; calling it again after new files arrive processes only the
    delta.
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        session = batch_df.sparkSession
        jvm_path = session._jvm.org.apache.hadoop.fs.Path(target_path)
        fs = jvm_path.getFileSystem(session._jsc.hadoopConfiguration())
        target = session.read.parquet(target_path) if fs.exists(jvm_path) else None
        with scope():
            local_checkpoint(merge(batch_df, target)).write.mode(
                "overwrite"
            ).parquet(target_path)

    (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_upsert_sink(
    streaming_df: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint_dir: str,
) -> None:
    """``foreachBatch`` merge sink: each micro-batch is SCD-1-upserted
    (operators/merge.py) into a parquet target — the standard pattern for
    maintaining a keyed serving table from a stream when the sink has no
    native MERGE.

    The checkpoint gives exactly-once batch replay; the upsert makes
    re-applied batches idempotent, so the pair survives restarts. Batch
    mechanics (target probe, checkpoint-before-overwrite, availableNow
    drain) are ``_merge_sink``'s.
    """
    from data_algorithms_with_pyspark_spark.operators.merge import upsert

    _merge_sink(
        streaming_df,
        target_path,
        checkpoint_dir,
        lambda batch, target: (
            batch if target is None else upsert(target, batch, keys)
        ),
    )


def stream_cdc_sink(
    changelog_stream: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint_dir: str,
    op_col: str = "op",
    order_col: str = "seq",
) -> None:
    """``foreachBatch`` change-data-capture sink: each micro-batch of
    I/U/D row images is applied to the parquet target via
    operators/merge.py:apply_cdc — the streaming twin of the batch
    ``orders_cdc_replay`` query, and the standard shape for maintaining
    a replica table from a database change stream.

    Within a batch, ``order_col`` picks the latest image per key (the
    window-rank-1 pre-reduce); across batches, later batches win by
    application order. Replaying a batch after a checkpoint restart is
    idempotent: re-upserting identical images and re-deleting absent
    keys are both no-ops, so exactly-once output survives restarts.
    The ``op_col``/``order_col`` columns are carried by the changelog
    only and never reach the target schema."""
    from data_algorithms_with_pyspark_spark.operators.merge import apply_cdc

    def merge(batch: DataFrame, target: DataFrame | None) -> DataFrame:
        if target is None:  # first batch: empty target with the value schema
            target = batch.select(
                *[c for c in batch.columns if c not in (op_col, order_col)]
            ).limit(0)
        return apply_cdc(
            target, batch, keys, op_col=op_col, order_col=order_col
        )

    _merge_sink(changelog_stream, target_path, checkpoint_dir, merge)


def stream_scd2_sink(
    changes_stream: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint_dir: str,
    change_ts_col: str = "ts",
) -> None:
    """``foreachBatch`` SCD-2 history sink: each micro-batch of keyed
    attribute changes closes the open version and appends a new one
    (operators/merge.py:scd2_apply), maintaining a full versioned
    dimension from a change stream.

    scd2_apply is NOT naturally idempotent — re-applying a batch after
    a checkpoint restart would close the open version it just wrote at
    the same timestamp, leaving a zero-width [ts, ts) version plus a
    duplicate open row. The sink therefore drops changes whose key
    already has an open version with ``valid_from == ts`` (a left-anti
    join against the target's open rows) before applying: first
    delivery passes through untouched, replays become no-ops, and
    exactly-once history survives restarts.

    Batches are pre-reduced to the latest change per key
    (latest_change_per_key), so a micro-batch carrying several changes
    for one key collapses to its newest — the snapshot semantics of
    micro-batched CDC ingestion; intermediate intra-batch versions are
    not materialized. Shrink the trigger interval if every version
    matters. Scope of the idempotency guard: it covers checkpoint
    replays (the replayed batch is always the most recent batch, offsets
    are monotone). A STALE change redelivered alone, with a ts older
    than the key's current open version and without the newer changes
    beside it, is not defended — Spark's offset-tracked sources cannot
    produce that ordering."""
    from data_algorithms_with_pyspark_spark.operators.merge import (
        latest_change_per_key,
        scd2_apply,
    )

    def merge(raw_batch: DataFrame, current: DataFrame | None) -> DataFrame:
        batch_df = latest_change_per_key(raw_batch, keys, change_ts_col)
        if current is None:  # first batch: every change opens version 1
            value_cols = [c for c in batch_df.columns if c != change_ts_col]
            return (
                batch_df.withColumn("valid_from", F.col(change_ts_col))
                .withColumn(
                    "valid_to",
                    F.lit(None).cast(batch_df.schema[change_ts_col].dataType),
                )
                .select(*value_cols, "valid_from", "valid_to")
            )
        already = current.where(F.col("valid_to").isNull()).select(
            *keys, F.col("valid_from").alias(change_ts_col)
        )
        fresh = batch_df.join(
            already, on=[*keys, change_ts_col], how="left_anti"
        )
        return scd2_apply(current, fresh, keys, change_ts_col=change_ts_col)

    _merge_sink(changes_stream, target_path, checkpoint_dir, merge)


def streaming_ttl_dedup(
    events: DataFrame,
    key_cols: list[str],
    ttl_minutes: int = 60,
) -> DataFrame:
    """First-seen dedup with TTL-BOUNDED state — the Spark 4
    ``transformWithStateInPandas`` API (StatefulProcessor + ValueState).

    ``dropDuplicates`` on a stream keeps every key it has ever seen
    (unbounded state unless watermark-windowed); this operator emits the
    first occurrence of each key and suppresses repeats, with SLIDING
    TTL: suppressed duplicates re-write the ValueState, so eviction runs
    ``ttl_minutes`` after the LAST same-key arrival, not the first
    (a key is only re-emitted once it has been quiet for a full TTL) —
    the bounded-memory contract a 100 TB ingest stream needs (a key
    recurring after the quiet horizon re-emits: dedup horizon, not dedup
    forever; pair with the batch anti-join vs history,
    ``streaming_dedup_vs_history``, for the beyond-horizon layer).

    Output: one row per first-seen key — the key columns plus
    ``n_suppressed`` (how many same-key rows arrived with it in that
    batch). Requires the RocksDB state store provider (TTL column
    families), e.g.
    ``spark.sql.streaming.stateStore.providerClass =
    ...state.RocksDBStateStoreProvider``.

    Environment note: Spark's transformWithState protocol speaks
    protobuf between the JVM state server and the Python worker, so the
    ``protobuf`` pip package must be installed cluster-side (a standard
    PySpark extra). This repo's test container lacks it, so the e2e test
    runs on a pure-Python runtime shim (tests/pbshim/sitecustomize.py);
    plan construction is exercised unconditionally. A batch-drain run of
    this operator must stop via sink polling, not awaitTermination —
    ``timeMode="processingTime"`` (required for TTL) makes Spark loop
    state-cleanup batches forever under availableNow (see
    ``drain_to_memory_sink``).
    """
    import pandas as pd  # worker-side
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in events.select(*key_cols).schema.fields
    )
    out_schema = f"{key_schema}, n_suppressed long"
    ttl_ms = ttl_minutes * 60_000

    class _FirstSeen(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._seen = handle.getValueState(
                "seen", "seen boolean", ttlDurationMs=ttl_ms
            )

        def handleInputRows(self, key, rows, timerValues):
            n = sum(len(pdf) for pdf in rows)
            if self._seen.exists():
                # refresh: the TTL slides from the LAST same-key
                # arrival, per the sliding-horizon contract above
                self._seen.update((True,))
                return iter([])  # duplicate within the TTL horizon
            self._seen.update((True,))
            row = dict(zip(key_cols, key))
            row["n_suppressed"] = n - 1
            return iter([pd.DataFrame([row])])

        def close(self) -> None:
            pass

    return events.groupBy(*key_cols).transformWithStateInPandas(
        _FirstSeen(),
        outputStructType=out_schema,
        outputMode="append",
        timeMode="processingTime",
    )


def stream_continuous_aggregate(
    streaming_events: DataFrame,
    target_path: str,
    checkpoint_dir: str,
) -> None:
    """``foreachBatch`` continuous-aggregate sink: the streaming half of
    ``incremental_hourly_agg_merge`` — each micro-batch reduces to its
    hourly partial aggregate (count / exact fixed-point value sum / max,
    all algebraic, so merging partials is the same function as the leaf
    aggregate) and merges into the stored rollup with
    ``operators.merge.merge_partial_aggs``. Refresh cost per batch is
    O(|batch| + |aggregate|); the raw history is never rescanned — the
    TimescaleDB/Druid continuous-aggregate contract, driven by a stream.

    Checkpointed exactly-once replay + the localCheckpoint-before-
    overwrite discipline of ``_merge_sink``. NOTE the merge is
    NOT idempotent under batch replay (sums double-count a re-applied
    batch, unlike the keyed upsert) — which is exactly why the
    checkpoint matters here, and why a transactional sink would pair the
    merge with the batch id (txn versioning) in production.
    """
    from data_algorithms_with_pyspark_spark.operators.merge import (
        merge_partial_aggs,
    )

    def hourly(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
        ).agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long")
            ).alias("value_fp"),
            F.max(
                F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long")
            ).alias("max_fp"),
        )

    def merge(batch: DataFrame, stored: DataFrame | None) -> DataFrame:
        delta = hourly(batch)
        if stored is None:
            return delta
        return merge_partial_aggs(
            stored,
            delta,
            keys=["hour", "event_type"],
            sum_cols=["n_events", "value_fp"],
            max_cols=["max_fp"],
        )

    _merge_sink(streaming_events, target_path, checkpoint_dir, merge)


def streaming_timer_sessions(
    events: DataFrame,
    key_cols: list[str],
    value_col: str = "value",
    gap_seconds: int = 30,
) -> DataFrame:
    """Idle-timeout sessionization with EXPLICIT STATE TIMERS — the
    transformWithStateInPandas feature the TTL dedup operator does not
    exercise: ``handle.registerTimer`` + ``handleExpiredTimer``.

    Each key accumulates an open session in ValueState (event count,
    exact micro-unit value sum, last-activity processing time); every
    arrival re-arms a timer ``gap_seconds`` ahead. When a timer fires,
    the session is emitted ONLY if the key has stayed quiet for the full
    gap since its last activity — a stale timer superseded by later
    arrivals no-ops (cheaper than delete-and-re-register on every event:
    state stores one row either way, and expired timers self-remove).
    This is the push-based emission pattern ``session_window`` cannot
    express: the closed-session row materializes from the TIMER path,
    with no new input required downstream of the trigger, which is how
    an alerting / abandoned-cart / sequence-flush operator behaves at
    100 TB (state per key is O(1); timers are per-key, not per-event).

    Value sums ride integer micro-units (floor(v*1e6+0.5), the repo
    grid) so emitted totals are batch-order-independent. Output:
    ``(*key_cols, n_events, value_sum_micro)``, append mode. Requires
    the RocksDB state store and ``timeMode="processingTime"`` — drain
    with ``drain_to_memory_sink`` (sink polling; see its docstring).
    batch/stream parity: the same accumulation as a batch
    ``groupBy(key).agg(count, sum)`` once every session has closed,
    asserted in tests/test_streaming.py.
    """
    import pandas as pd  # worker-side
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in events.select(*key_cols).schema.fields
    )
    out_schema = f"{key_schema}, n_events long, value_sum_micro long"
    gap_ms = gap_seconds * 1000

    class _Sessions(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._h = handle
            self._sess = handle.getValueState(
                "sess", "n bigint, vsum bigint, last_ms bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            import numpy as np

            n = 0
            vsum = 0
            for pdf in rows:
                n += len(pdf)
                # NULL values sum as 0 (SQL sum-skips-nulls semantics);
                # without the fillna a NaN would poison the integer
                # conversion and kill the streaming query.
                vals = pdf[value_col].fillna(0.0).to_numpy(dtype="float64")
                vsum += int(np.floor(vals * 1e6 + 0.5).sum())
            now = timerValues.getCurrentProcessingTimeInMs()
            if self._sess.exists():
                n0, v0, _ = self._sess.get()
                n, vsum = n0 + n, v0 + vsum
            self._sess.update((n, vsum, now))
            self._h.registerTimer(now + gap_ms)
            return iter([])

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if not self._sess.exists():
                return iter([])  # already flushed by an earlier timer
            n, vsum, last_ms = self._sess.get()
            if expiredTimerInfo.getExpiryTimeInMs() < last_ms + gap_ms:
                return iter([])  # superseded: the key was active again
            self._sess.clear()
            row = dict(zip(key_cols, key))
            row["n_events"] = n
            row["value_sum_micro"] = vsum
            return iter([pd.DataFrame([row])])

        def close(self) -> None:
            pass

    return events.groupBy(*key_cols).transformWithStateInPandas(
        _Sessions(),
        outputStructType=out_schema,
        outputMode="append",
        timeMode="processingTime",
    )


def streaming_frequent_terms(
    events: DataFrame,
    group_col: str,
    term_col: str,
    k: int = 20,
) -> DataFrame:
    """Streaming Misra-Gries frequent items per group — the streaming
    twin of ``operators/sketches.certified_heavy_hitters`` and the one
    transformWithState state type the other operators don't exercise:
    **MapState** (term -> counter), updated batch-by-batch with the
    weighted MG rule (fold the batch's per-term counts in; on counter
    overflow subtract the minimum from all and evict zeros). State per
    group key is O(k) forever — the bounded-memory contract an unbounded
    token stream needs; an exact streaming groupBy-count would grow
    state with the vocabulary.

    After absorbing each batch the processor EMITS the group's current
    summary (``group, term, mg_count``, append mode) — downstream
    consumers see candidates-so-far per micro-batch, the same
    guaranteed-superset semantics as the batch operator: a term whose
    true running count exceeds 1/(k+1) of the group's stream so far is
    always present. As in the batch form, counts are LOWER BOUNDS
    (within N/(k+1) of truth), suitable for candidate generation, not
    billing — pair with an exact count over the candidate set (the
    two-pass pattern) when exact numbers matter.
    """
    import pandas as pd  # worker-side
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in events.select(group_col).schema.fields
    )
    out_schema = f"{key_schema}, {term_col} string, mg_count long"

    class _Frequent(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counters = handle.getMapState(
                "mg", "term string", "cnt bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            counters: dict[str, int] = {
                t: c
                for (t,), (c,) in self._counters.iterator()
            } if self._counters.exists() else {}
            for pdf in rows:
                for term, cnt in pdf[term_col].value_counts().items():
                    if term in counters:
                        counters[term] += int(cnt)
                    elif len(counters) < k:
                        counters[term] = int(cnt)
                    else:
                        counters[term] = int(cnt)
                        m = min(counters.values())
                        evicted = {
                            t for t, c in counters.items() if c <= m
                        }
                        counters = {
                            t: c - m
                            for t, c in counters.items()
                            if c > m
                        }
                        for t in evicted:
                            if self._counters.containsKey((t,)):
                                self._counters.removeKey((t,))
            for t, c in counters.items():
                self._counters.updateValue((t,), (c,))
            g = key[0]
            return iter(
                [
                    pd.DataFrame(
                        {
                            group_col: [g] * len(counters),
                            term_col: list(counters.keys()),
                            "mg_count": list(counters.values()),
                        }
                    )
                ]
            ) if counters else iter([])

        def close(self) -> None:
            pass

    return events.groupBy(group_col).transformWithStateInPandas(
        _Frequent(),
        outputStructType=out_schema,
        outputMode="append",
        timeMode="none",
    )
