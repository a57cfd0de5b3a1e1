"""Event-stream analytics over the ``events`` table (batch form).

The reference has zero streaming surface (SURVEY.md §2.11); these queries
supply the event-time capability batch-first — tumbling windows via
``date_trunc`` and gap-based sessionization via window functions — with the
Structured Streaming forms of the same computations in
``streaming/events.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_algorithms_with_pyspark_spark.operators.windows import sessionize
from data_algorithms_with_pyspark_spark.operators.dedup import floor_round
from data_algorithms_with_pyspark_spark.operators.state import persist
from data_algorithms_with_pyspark_spark.plans.catalog import cents_sum, register
from data_algorithms_with_pyspark_spark.sources.readers import load_table


@register(
    "events_hourly_windows",
    bench=True,
    tags=("events", "window"),
    description="Tumbling 1-hour event-time windows per event type",
    oracle="""
        SELECT date_trunc('hour', ts) AS window_start,
               event_type,
               count(*) AS n_events,
               CAST(sum(CAST(floor((value) * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
)
def events_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start"),
        F.col("event_type"),
    ).agg(
        F.count("*").alias("n_events"),
        cents_sum(F.col("value")).alias("sum_value"),
    )


@register(
    "events_sessionization",
    bench=True,
    tags=("events", "window"),
    description="Gap-based sessionization (30 min) via lag + cumulative sum",
    oracle="""
        WITH marked AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id,
               CAST(sum(is_new) AS BIGINT) AS n_sessions,
               count(*) AS n_events
        FROM marked
        GROUP BY user_id
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    with_sessions = sessionize(events, gap_minutes=30)
    return with_sessions.groupBy("user_id").agg(
        (F.max("session_id") + 1).cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


@register(
    "events_user_running_totals",
    bench=True,
    tags=("events", "window"),
    description="Per-user running event count + value sum (analytic frame)",
    oracle="""
        SELECT event_id, user_id,
               CAST(row_number() OVER w AS BIGINT) AS event_seq,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w AS BIGINT) / 100.0 AS running_value
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def events_user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return events.select(
        "event_id",
        "user_id",
        F.row_number().over(w).cast("long").alias("event_seq"),
        (F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).over(frame) / 100.0).alias("running_value"),
    )


@register(
    "events_props_extraction",
    bench=True,
    tags=("events", "json"),
    description="JSON prop extraction from the props string column",
    oracle="""
        SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k,
               count(*) AS n
        FROM events
        WHERE props IS NOT NULL
        GROUP BY 1
    """,
)
def events_props_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.where(F.col("props").isNotNull())
        .select(F.get_json_object("props", "$.k").cast("long").alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n"))
    )


@register(
    "clicks_last_purchase_asof",
    bench=True,
    tags=("events", "asof-join"),
    description="As-of join: each click paired with the user's most recent "
    "prior-or-same-instant purchase (operators/asof.py; one keyed sort-merge "
    "pass, no per-key cross-match)",
    oracle="""
        WITH clicks AS (
            SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
        ),
        purchases AS (
            SELECT user_id, ts AS purchase_ts, event_id AS purchase_id,
                   value AS purchase_value
            FROM events WHERE event_type = 'purchase'
        )
        SELECT c.user_id, c.ts, c.event_id AS click_id,
               p.purchase_ts, p.purchase_id, p.purchase_value
        FROM clicks c
        ASOF LEFT JOIN purchases p
          ON c.user_id = p.user_id AND p.purchase_ts <= c.ts
    """,
)
def clicks_last_purchase_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_algorithms_with_pyspark_spark.operators.asof import asof_join

    events = load_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    return asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="purchase_ts"
    )


@register(
    "events_inter_arrival_stats",
    bench=True,
    tags=("events", "window", "lag"),
    description="Per-type avg/max gap between a user's consecutive events (lag)",
    oracle="""
        WITH gaps AS (
            SELECT event_type,
                   date_diff('second',
                             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                             ts) AS gap_s
            FROM events
        )
        SELECT event_type,
               CAST(count(gap_s) AS BIGINT) AS n_gaps,
               floor(avg(gap_s) * 100 + 0.5) / 100 AS avg_gap_s,
               CAST(max(gap_s) AS BIGINT) AS max_gap_s
        FROM gaps WHERE gap_s IS NOT NULL
        GROUP BY event_type
    """,
)
def events_inter_arrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """avg of INTEGER gaps is an exact small ratio (long sum / count —
    bit-identical on every engine), so the 2-dp rounding uses the
    floor(x*100+0.5) form: round() diverges when the ratio's shortest
    decimal repr ends in 5 (the cume_dist bug class)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    gap = (F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)).alias("gap_s")
    return (
        events.select("event_type", gap)
        .where(F.col("gap_s").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            (
                F.floor(F.avg("gap_s") * F.lit(100.0) + F.lit(0.5))
                / F.lit(100.0)
            ).alias("avg_gap_s"),
            F.max("gap_s").alias("max_gap_s"),
        )
    )


@register(
    "events_rolling_hour_avg",
    bench=True,
    tags=("events", "window", "timeseries"),
    description="Per-user trailing-1-hour rolling avg/count at each event "
    "(event-time RANGE frame)",
    oracle="""
        WITH q AS (
            SELECT event_id, user_id, epoch_us(ts) AS us,
                   CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vmicro
            FROM events
        )
        SELECT event_id,
               floor(CAST(sum(vmicro) OVER w AS DOUBLE)
                     / (count(*) OVER w) / 1000000.0
                     * 10000.0 + 0.5) / 10000.0 AS rolling_avg,
               CAST(count(*) OVER w AS BIGINT) AS rolling_n
        FROM q
        WINDOW w AS (
            PARTITION BY user_id ORDER BY us
            RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
        )
    """,
)
def events_rolling_hour_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE frame (not ROWS): every event sees exactly the
    trailing hour regardless of event density. The frame is ordered on
    FULL-precision epoch microseconds on BOTH engines — ordering on whole
    seconds would make same-second events frame peers (each would see the
    others' values, the oracle would not) and would mis-include pairs
    straddling the 3600s boundary by <1s. One shuffle on user_id; the
    in-partition sort is the window's price — at 100 TB pre-bucket by
    user_id to pay it at write time.

    The rolling average is computed on the INTEGER micro-unit lane:
    ``value`` quantizes to micros per row, the window sums longs (exact,
    order-independent — Spark's linear frame scan and DuckDB's
    segment-tree accumulate doubles in DIFFERENT orders, which drifted
    last ulps and flipped round() on 268/100k rows of an independently
    drawn events table), and the average is one integer-exact division
    chain + floor_round4. Requires |value| < ~9.2e12 (micro lane in
    int64)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    vmicro = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long")
    avg = (
        F.sum(vmicro).over(w).cast("double")
        / F.count("*").over(w)
        / F.lit(1e6)
    )
    return events.select(
        "event_id",
        (F.floor(avg * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)).alias(
            "rolling_avg"
        ),
        F.count("*").over(w).alias("rolling_n"),
    )


@register(
    "events_hourly_gap_fill",
    bench=True,
    tags=("events", "window", "timeseries"),
    description="Dense hourly grid per event type: zero-filled counts + "
    "last-observation-carried-forward sums (sequence+explode, LOCF window)",
    oracle="""
        WITH bounds AS (
            SELECT date_trunc('hour', min(ts)) AS lo,
                   date_trunc('hour', max(ts)) AS hi
            FROM events
        ),
        grid AS (
            SELECT t.h AS hour_start, et.event_type
            FROM bounds,
                 unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS t(h)
                 CROSS JOIN (SELECT DISTINCT event_type FROM events) et
        ),
        hourly AS (
            SELECT date_trunc('hour', ts) AS hour_start, event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
            FROM events GROUP BY 1, 2
        )
        SELECT g.hour_start, g.event_type,
               COALESCE(h.n, 0) AS n_events,
               COALESCE(h.sum_value,
                        last_value(h.sum_value IGNORE NULLS) OVER (
                            PARTITION BY g.event_type ORDER BY g.hour_start
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0.0) AS filled_sum_value
        FROM grid g LEFT JOIN hourly h
          ON g.hour_start = h.hour_start AND g.event_type = h.event_type
    """,
)
def events_hourly_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification: build the complete hour x type grid with
    sequence()+explode (no driver-side loop), left-join the real hourly
    aggregates, zero-fill counts, and carry the last seen sum forward
    (LOCF) with last(ignorenulls) over an unbounded-preceding frame."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        cents_sum(F.col("value")).alias("sum_value"),
    )
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    types = events.select("event_type").distinct()
    grid = (
        bounds.select(
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour_start")
        )
        .crossJoin(F.broadcast(types))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    joined = grid.join(hourly, ["hour_start", "event_type"], "left")
    return joined.select(
        "hour_start",
        "event_type",
        F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n_events"),
        F.coalesce(
            F.col("sum_value"),
            F.last("sum_value", ignorenulls=True).over(w),
            F.lit(0.0),
        ).alias("filled_sum_value"),
    )


@register(
    "linestatus_metrics_unpivot",
    tags=("relational", "reshape"),
    description="Wide->long reshape: per-linestatus aggregates unpivoted to "
    "(linestatus, metric, value) rows",
    oracle="""
        WITH wide AS (
            SELECT l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   floor(avg(l_discount) * 10000 + 0.5) / 10000 AS avg_disc,
                   CAST(count(*) AS DOUBLE)  AS n_items
            FROM lineitem GROUP BY l_linestatus
        )
        SELECT l_linestatus, 'sum_qty' AS metric, sum_qty AS value FROM wide
        UNION ALL
        SELECT l_linestatus, 'avg_disc', avg_disc FROM wide
        UNION ALL
        SELECT l_linestatus, 'n_items', n_items FROM wide
    """,
)
def linestatus_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inverse of the pivot query: melt wide aggregate columns into
    (metric, value) rows with DataFrame.unpivot — the reshape feeding
    generic metric sinks. All value columns must share one type (DOUBLE)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    wide = lineitem.groupBy("l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        floor_round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count("*").cast("double").alias("n_items"),
    )
    return wide.unpivot(
        ["l_linestatus"],
        ["sum_qty", "avg_disc", "n_items"],
        "metric",
        "value",
    )


@register(
    "events_sliding_windows",
    bench=True,
    tags=("events", "window"),
    description="Sliding event-time windows (1h width, 30min slide) per "
    "event type via the built-in window() operator — each event lands in "
    "exactly 2 epoch-aligned windows",
    oracle="""
        WITH w AS (
            SELECT make_timestamp(CAST((floor(epoch(ts) / 1800) * 1800
                                        - 1800 * i) AS BIGINT) * 1000000)
                       AS window_start,
                   event_type, value
            FROM events CROSS JOIN (SELECT unnest([0, 1]) AS i) offsets
        )
        SELECT window_start, event_type,
               count(*) AS n_events,
               CAST(sum(CAST(floor((value) * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   / 100.0 AS sum_value
        FROM w
        GROUP BY window_start, event_type
    """,
)
def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """window(ts, 1h, 30m) expands each row to its 2 containing windows in
    the map-side Expand/Generate, then one hash aggregate on
    (window, event_type) — same shuffle shape as the tumbling query, 2x
    the pre-aggregation rows. The oracle reproduces Spark's epoch-aligned
    window starts: floor-to-slide and the preceding slide."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window(F.col("ts"), "1 hour", "30 minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            cents_sum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "events_value_outliers",
    bench=True,
    tags=("events", "stats", "quality"),
    description="Anomaly detection: events whose value is > 3 sample-stddevs "
    "from their event_type mean — per-group stats broadcast back over the "
    "stream, outliers reported with their z-score",
    oracle="""
        WITH stats AS (
            SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
            FROM events GROUP BY event_type
        )
        SELECT e.event_id, e.event_type,
               floor(e.value * 100 + 0.5) / 100 AS value,
               floor(abs(e.value - s.mu) / s.sd * 10000 + 0.5) / 10000 AS abs_z
        FROM events e JOIN stats s USING (event_type)
        WHERE floor(abs(e.value - s.mu) / s.sd * 10000 + 0.5) / 10000 >= 3.0
    """,
)
def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two passes, no per-row shuffle: the per-type stats aggregate is a
    handful of rows broadcast back onto the scan; the outlier filter and
    z-score are pure codegen. The z is rounded BEFORE the threshold
    compare on both engines so borderline floats cannot disagree."""
    events = load_table(spark, sf_dir, "events")
    stats = events.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    abs_z = floor_round(F.abs(F.col("value") - F.col("mu")) / F.col("sd"), 4)
    return (
        events.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            floor_round(F.col("value"), 2).alias("value"),
            abs_z.alias("abs_z"),
        )
        .where(F.col("abs_z") >= 3.0)
    )


@register(
    "events_value_trend",
    bench=True,
    tags=("events", "stats", "functions"),
    description="Per-type linear trend of value over time: regr_slope / "
    "regr_intercept / regr_r2 built-in aggregates (JVM-side; one hash "
    "aggregate, no MLlib)",
    oracle="""
        SELECT event_type,
               count(*) AS n,
               floor(regr_slope(value, epoch(ts) - 1700000000) * 86400 * 10000 + 0.5) / 10000 AS slope_per_day,
               floor(regr_intercept(value, epoch(ts) - 1700000000) * 10000 + 0.5) / 10000 AS intercept,
               floor(regr_r2(value, epoch(ts) - 1700000000) * 10000 + 0.5) / 10000 AS r2
        FROM events
        GROUP BY event_type
    """,
)
def events_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS per group as ONE partial+final hash aggregate — the moment
    sums (n, Σx, Σy, Σxy, Σx²) combine associatively, so this scales like
    any groupBy-sum: no window, no iteration, no Python."""
    events = load_table(spark, sf_dir, "events")
    # Center x on a fixed epoch: with raw epoch-seconds (~1e9) the
    # intercept is mean_y - slope*mean_x, a catastrophic cancellation
    # that makes the 4th decimal engine-dependent. Centered, the
    # intercept is "value at the reference time" and bit-stable.
    x = F.unix_timestamp("ts").cast("double") - F.lit(1700000000.0)
    return events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        floor_round(F.regr_slope(F.col("value"), x) * 86400, 4).alias("slope_per_day"),
        floor_round(F.regr_intercept(F.col("value"), x), 4).alias("intercept"),
        floor_round(F.regr_r2(F.col("value"), x), 4).alias("r2"),
    )


@register(
    "events_funnel_stages",
    bench=True,
    tags=("events", "funnel"),
    description="Ordered conversion funnel signup->view->click->purchase: "
    "per-user stage timestamps via ONE sort+fold aggregate (no per-stage "
    "join chain), then global stage counts + completion time",
    oracle="""
        WITH base AS (
            SELECT user_id, epoch_us(ts) AS us, event_type FROM events
        ),
        s1 AS (
            SELECT user_id, min(us) AS t1 FROM base
            WHERE event_type = 'signup' GROUP BY user_id
        ),
        s2 AS (
            SELECT b.user_id, min(b.us) AS t2
            FROM base b JOIN s1 ON b.user_id = s1.user_id AND b.us > s1.t1
            WHERE b.event_type = 'view' GROUP BY b.user_id
        ),
        s3 AS (
            SELECT b.user_id, min(b.us) AS t3
            FROM base b JOIN s2 ON b.user_id = s2.user_id AND b.us > s2.t2
            WHERE b.event_type = 'click' GROUP BY b.user_id
        ),
        s4 AS (
            SELECT b.user_id, min(b.us) AS t4
            FROM base b JOIN s3 ON b.user_id = s3.user_id AND b.us > s3.t3
            WHERE b.event_type = 'purchase' GROUP BY b.user_id
        ),
        j AS (
            SELECT s1.user_id, t1, t2, t3, t4
            FROM s1 LEFT JOIN s2 USING (user_id)
                    LEFT JOIN s3 USING (user_id)
                    LEFT JOIN s4 USING (user_id)
        )
        SELECT CAST(count(t1) AS BIGINT) AS n_signup,
               CAST(count(t2) AS BIGINT) AS n_view,
               CAST(count(t3) AS BIGINT) AS n_click,
               CAST(count(t4) AS BIGINT) AS n_purchase,
               CAST(coalesce(sum((t4 - t1) // 1000000), 0) AS BIGINT)
                   AS sum_completion_s
        FROM j
    """,
)
def events_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic ordered funnel: the earliest view STRICTLY after the first
    signup, earliest click strictly after that view, etc. The oracle
    expresses it as a 4-stage join chain; the Spark plan instead sorts
    each user's events once (array_sort of collect_list) and folds the
    array through a 4-slot state struct — ONE shuffle on user_id total,
    versus four aggregate+join rounds. At 100 TB the fold's per-user
    array is bounded by per-user activity (watch whales; the state is 4
    longs regardless). All comparisons are on epoch MICROS longs on both
    engines so nanos-parquet truncation can't skew stage boundaries."""
    from data_algorithms_with_pyspark_spark.operators.windows import (
        funnel_stage_times,
    )

    events = load_table(spark, sf_dir, "events")
    staged = funnel_stage_times(
        events, ("signup", "view", "click", "purchase")
    )
    t1, t4 = F.col("t_signup"), F.col("t_purchase")
    return staged.agg(
        F.count("t_signup").alias("n_signup"),
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_click"),
        F.count("t_purchase").alias("n_purchase"),
        F.coalesce(
            F.sum(
                F.when(t4.isNotNull(), F.floor((t4 - t1) / F.lit(1000000)))
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("sum_completion_s"),
    )


@register(
    "events_cohort_retention",
    bench=True,
    tags=("events", "window"),
    description="Cohort retention triangle: users grouped by first-active "
    "day, distinct active users per (cohort_day, day_offset)",
    oracle="""
        WITH act AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        ),
        cohort AS (
            SELECT user_id, min(day) AS cohort_day FROM act GROUP BY user_id
        )
        SELECT c.cohort_day,
               CAST(a.day - c.cohort_day AS BIGINT) AS day_offset,
               CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
        FROM act a JOIN cohort c ON a.user_id = c.user_id
        GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The product-analytics retention triangle. Two shuffles: distinct
    (user, day) activity (collapses the event volume first — at 100 TB
    this is the pass that matters), then the cohort groupBy; the
    per-user first-day table joins back on user_id where AQE picks
    broadcast vs shuffle by actual size. Day arithmetic runs in the
    UTC-pinned session (readers.ensure_session_confs) so both engines
    bucket midnight-straddling events identically."""
    events = load_table(spark, sf_dir, "events")
    act = events.select("user_id", F.to_date("ts").alias("day")).distinct()
    cohort = act.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        act.join(cohort, on="user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@register(
    "events_value_histogram",
    tags=("events", "stats"),
    description="Fixed-width value histogram per event type in INTEGER "
    "space (cents div bucket-width) — the cross-engine-safe form of "
    "width_bucket over doubles",
    oracle="""
        SELECT event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) // 2500 AS bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY 1, 2
    """,
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram binning quantizes to integer cents FIRST (the engine's
    money idiom), then buckets by integer division — bucket edges can
    never drift between engines the way ``width_bucket`` over raw
    doubles can at representability boundaries. One partial+final
    hash aggregate; at 100 TB the map-side combine collapses each
    partition to at most (types x buckets) rows before the shuffle."""
    events = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    bucket = F.floor(cents / F.lit(2500)).cast("long").alias("bucket")
    return events.groupBy("event_type", bucket).agg(F.count("*").alias("n"))


@register(
    "events_seasonal_anomalies",
    bench=True,
    tags=("events", "stats", "quality", "window"),
    description="Seasonal anomaly detection: per-(dow, hour) baseline "
    "profile (mean/stddev of value) computed once and broadcast back over "
    "the stream; events > 2.5 sample-stddevs from THEIR seasonal slot are "
    "flagged — the profile is 168 rows at any corpus size",
    oracle="""
        WITH slotted AS (
            SELECT event_id, event_type, value,
                   isodow(ts) - 1 AS dow, hour(ts) AS hod
            FROM events
        ),
        profile AS (
            SELECT dow, hod, avg(value) AS mu, stddev_samp(value) AS sd,
                   count(*) AS n
            FROM slotted GROUP BY dow, hod
        )
        SELECT e.event_id, e.event_type,
               CAST(e.dow AS BIGINT) AS dow, CAST(e.hod AS BIGINT) AS hod,
               floor(e.value * 100 + 0.5) / 100 AS value,
               floor(abs(e.value - p.mu) / p.sd * 10000 + 0.5) / 10000 AS abs_z
        FROM slotted e JOIN profile p USING (dow, hod)
        WHERE p.n >= 2 AND p.sd > 0
          AND floor(abs(e.value - p.mu) / p.sd * 10000 + 0.5) / 10000 >= 2.5
    """,
)
def events_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-mean outlier checks miss load seasonality (a value normal at
    Friday noon is anomalous at 4am Sunday); the fix is a per-(day-of-week,
    hour) baseline (dow is Monday=0 on BOTH engines: Spark weekday() and
    DuckDB isodow()-1 — dayofweek() disagrees across engines, Sunday=1 vs
    Sunday=0, an off-by-one a small-SF vacuous test cannot catch).
    Scale shape: the profile aggregate map-side combines to
    at most 168 rows per task and BROADCASTS back over the corpus — the
    stream itself never shuffles for the join. Slots with fewer than two
    events or zero variance are excluded (z undefined), mirrored exactly
    in the oracle."""
    events = load_table(spark, sf_dir, "events")
    slotted = events.select(
        "event_id",
        "event_type",
        "value",
        F.weekday("ts").cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hod"),
    )
    profile = slotted.groupBy("dow", "hod").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sd"),
        F.count("*").alias("n"),
    )
    abs_z = floor_round(F.abs(F.col("value") - F.col("mu")) / F.col("sd"), 4)
    return (
        slotted.join(F.broadcast(profile), on=["dow", "hod"])
        .where((F.col("n") >= 2) & (F.col("sd") > 0) & (abs_z >= 2.5))
        .select(
            "event_id",
            "event_type",
            "dow",
            "hod",
            floor_round(F.col("value"), 2).alias("value"),
            abs_z.alias("abs_z"),
        )
    )


@register(
    "concurrent_session_pairs",
    bench=True,
    tags=("events", "join", "range"),
    description="Cross-user session concurrency: gap-based sessions as "
    "[start, end] micro-intervals, interval-overlap self-joined via the "
    "bucketed equi-join rewrite (first-shared-bucket emission, no "
    "distinct, no cross product)",
    oracle="""
        WITH marked AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess0 AS (
            SELECT user_id, ts,
                   sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS sid
            FROM marked
        ),
        sess AS (
            SELECT user_id, sid,
                   CAST(epoch_us(min(ts)) AS BIGINT) AS st,
                   CAST(epoch_us(max(ts)) AS BIGINT) AS en,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM sess0 GROUP BY user_id, sid
        )
        SELECT a.user_id AS u1, a.st AS st1,
               b.user_id AS u2, b.st AS st2,
               least(a.en, b.en) - greatest(a.st, b.st) AS overlap_us
        FROM sess a JOIN sess b
          ON a.user_id < b.user_id
         AND a.st <= b.en AND b.st <= a.en
        ORDER BY u1, st1, u2, st2
    """,
)
def concurrent_session_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which user sessions were on the system at the same time — the
    interval-overlap join every observability / capacity analysis runs.
    Sessions come from the same gap-based sessionization as
    ``events_sessionization``; the pairing uses
    ``operators.ranges.interval_overlap_join`` with 1-hour buckets
    (equi-join on bucket; the naive form is an un-shuffleable cross
    join). Same-user pairs are excluded (gap sessions of one user cannot
    overlap by construction)."""
    from data_algorithms_with_pyspark_spark.operators.ranges import (
        interval_overlap_join,
    )

    from pyspark import StorageLevel

    events = load_table(spark, sf_dir, "events")
    # Persisted: BOTH sides of the overlap self-join consume the session
    # table, and AQE broadcasts one side, so without the persist the
    # whole sessionization (events scan + two Windows + the per-session
    # aggregate) runs once PER SIDE (observed in plans/r12/
    # concurrent_session_pairs_before.txt). Sessions are one row per
    # (user, session) — the sketch, not the event stream.
    sess = persist(
        sessionize(events, gap_minutes=30)
        .groupBy("user_id", "session_id")
        .agg(
            F.min(F.unix_micros("ts")).alias("st"),
            F.max(F.unix_micros("ts")).alias("en"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    left = sess.select(
        F.col("user_id").alias("u1"),
        F.col("st").alias("st1"),
        F.col("en").alias("en1"),
    )
    right = sess.select(
        F.col("user_id").alias("u2"),
        F.col("st").alias("st2"),
        F.col("en").alias("en2"),
    )
    paired = interval_overlap_join(
        left, right, "st1", "en1", "st2", "en2", bucket_width=3_600_000_000
    ).where(F.col("u1") < F.col("u2"))
    return paired.select(
        "u1",
        "st1",
        "u2",
        "st2",
        (
            F.least("en1", "en2") - F.greatest("st1", "st2")
        ).alias("overlap_us"),
    ).orderBy("u1", "st1", "u2", "st2")


_PATH_N = 3
_PATH_TOP = 20


@register(
    "user_journey_path_ngrams",
    bench=True,
    tags=("events", "window", "text"),
    description=f"User-journey mining: top-{_PATH_TOP} {_PATH_N}-step "
    "event-type paths within per-(user, day) journeys (ordered collect "
    "per journey -> sliding n-grams -> count). Journey unit is the day — "
    "30-min gap sessions on this sparse stream are 95% singletons, which "
    "the sessionization query itself reports",
    oracle=f"""
        WITH seqs AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   list_transform(
                       list_sort(list_zip(
                           list(epoch_us(ts)), list(event_id),
                           list(event_type))),
                       z -> z[3]) AS types
            FROM events GROUP BY user_id, CAST(ts AS DATE)
        ),
        paths AS (
            SELECT unnest(CASE WHEN len(types) >= {_PATH_N}
                   THEN list_transform(range(1, len(types) - {_PATH_N} + 2),
                        i -> array_to_string(
                            list_slice(types, i, i + {_PATH_N} - 1), ' > '))
                   ELSE [] END) AS path
            FROM seqs
        )
        SELECT path, CAST(count(*) AS BIGINT) AS n_hits
        FROM paths GROUP BY path
        ORDER BY n_hits DESC, path
        LIMIT {_PATH_TOP}
    """,
)
def user_journey_path_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which {click > view > purchase}-style journeys dominate — the
    path-mining query product analytics runs on every event stream. One
    per-journey ordered collect (array_sort over (ts, event_id, type)
    structs inside the aggregate — no separate window pass), then
    expression-level sliding n-grams built DIRECTLY with
    ``concat_ws(' > ', slice(types, i, n))`` over an index sequence —
    not a space-join-then-regexp rewrite, so multi-word event types
    survive intact (ADVICE r3) — and a count aggregate. At 100 TB:
    journeys shuffle once on (user, day) — a bounded group (one
    user-day of events fits any executor), then paths shuffle as
    (string, partial count) rows — both map-side combined; nothing
    quadratic anywhere."""
    events = load_table(spark, sf_dir, "events")
    seqs = events.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.unix_micros("ts").alias("t"),
                        F.col("event_id").alias("e"),
                        F.col("event_type").alias("y"),
                    )
                )
            ),
            lambda s: s["y"],
        ).alias("types")
    )
    grams = F.when(
        F.size("types") >= _PATH_N,
        F.transform(
            F.sequence(F.lit(1), F.size("types") - F.lit(_PATH_N - 1)),
            lambda i: F.concat_ws(
                " > ", F.slice(F.col("types"), i, _PATH_N)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    paths = seqs.select(F.explode(grams).alias("path"))
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_hits"))
        .orderBy(F.col("n_hits").desc(), "path")
        .limit(_PATH_TOP)
    )


@register(
    "event_type_transition_matrix",
    tags=("events", "window", "stats"),
    description="First-order Markov view of user behavior: per-user "
    "chronological event streams reduced to type-to-type transition "
    "counts and floor-rounded row-conditional probabilities",
    oracle="""
        WITH seq AS (
            SELECT event_type AS src,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS dst
            FROM events
        ),
        t AS (
            SELECT src, dst, CAST(count(*) AS BIGINT) AS n
            FROM seq WHERE dst IS NOT NULL
            GROUP BY src, dst
        ),
        tot AS (SELECT src, sum(n) AS n_src FROM t GROUP BY src)
        SELECT t.src, t.dst, t.n,
               floor(CAST(t.n AS DOUBLE) / tot.n_src * 10000 + 0.5) / 10000
                   AS p
        FROM t JOIN tot USING (src)
        ORDER BY t.src, t.dst
    """,
)
def event_type_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which event follows which — the first-order Markov summary behind
    next-action prediction and anomaly scoring. One per-user window
    (lead over the chronological stream; the same single shuffle
    sessionization pays), then the word-count-shaped transition
    aggregate; output is |types|^2 rows at any corpus size. The
    conditional probability n/n_src is a small-integer ratio, so it uses
    the floor-rounding form (``operators/dedup.floor_round`` rationale)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    t = seq.groupBy("src", "dst").agg(F.count("*").alias("n"))
    tot = t.groupBy("src").agg(F.sum("n").alias("n_src"))
    p = F.floor(
        F.col("n").cast("double") / F.col("n_src") * F.lit(10000) + F.lit(0.5)
    ) / F.lit(10000)
    return (
        t.join(tot, on="src")
        .select("src", "dst", "n", p.alias("p"))
        .orderBy("src", "dst")
    )


_PSI_BINS = 20
_PSI_WIDTH = 25.0
_PSI_SPLIT_DAY = 15
_PSI_P = f"(COALESCE(rt.tr, 0) + {float(_PSI_BINS)})"
_PSI_PN = f"(COALESCE(nt.tn, 0) + {float(_PSI_BINS)})"


@register(
    "events_value_drift_psi",
    tags=("events", "quality", "monitoring"),
    description="Population-stability-index drift report: per-event-type "
    f"per-bin PSI of `value` between days 1-{_PSI_SPLIT_DAY} (reference) "
    "and the rest of the month (new batch) — the data-quality monitor a "
    "scheduled ingest runs after every batch (operators/drift.py)",
    oracle=f"""
        WITH ref AS (
            SELECT event_type,
                   LEAST(CAST(floor(value / {_PSI_WIDTH}) AS BIGINT),
                         {_PSI_BINS - 1}) AS bin
            FROM events WHERE day(ts) <= {_PSI_SPLIT_DAY}
        ),
        nw AS (
            SELECT event_type,
                   LEAST(CAST(floor(value / {_PSI_WIDTH}) AS BIGINT),
                         {_PSI_BINS - 1}) AS bin
            FROM events WHERE day(ts) > {_PSI_SPLIT_DAY}
        ),
        rc AS (SELECT event_type, bin, count(*) AS n_ref
               FROM ref GROUP BY 1, 2),
        nc AS (SELECT event_type, bin, count(*) AS n_new
               FROM nw GROUP BY 1, 2),
        rt AS (SELECT event_type, CAST(sum(n_ref) AS BIGINT) AS tr
               FROM rc GROUP BY 1),
        nt AS (SELECT event_type, CAST(sum(n_new) AS BIGINT) AS tn
               FROM nc GROUP BY 1),
        j AS (
            SELECT COALESCE(rc.event_type, nc.event_type) AS event_type,
                   COALESCE(rc.bin, nc.bin) AS bin,
                   CAST(COALESCE(rc.n_ref, 0) AS BIGINT) AS n_ref,
                   CAST(COALESCE(nc.n_new, 0) AS BIGINT) AS n_new
            FROM rc FULL OUTER JOIN nc
              ON rc.event_type = nc.event_type AND rc.bin = nc.bin
        )
        SELECT j.event_type, j.bin, j.n_ref, j.n_new,
               CAST(floor(
                   ((j.n_new + 1.0) / {_PSI_PN} - (j.n_ref + 1.0) / {_PSI_P})
                   * ln(((j.n_new + 1.0) / {_PSI_PN})
                        / ((j.n_ref + 1.0) / {_PSI_P}))
                   * 1000000000.0 + 0.5) AS BIGINT) AS psi_nano
        FROM j
        LEFT JOIN rt ON j.event_type = rt.event_type
        LEFT JOIN nt ON j.event_type = nt.event_type
    """,
)
def events_value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference window = days 1-15, new batch = the rest; fixed-width
    value bins (width 25, 20 bins) so edges are stable run-over-run;
    +1-smoothed probabilities keep one-sided bins finite. Per-bin
    psi_nano rows point a monitor at WHICH value range drifted;
    sum(psi_nano)/1e9 per event_type is the headline PSI.

    Plan: one hash aggregate per side keyed on (event_type, bin) — the
    corpus is scanned once per side, everything after is |types| x
    |bins| rows; group totals ride group-keyed windows over the bin
    aggregate, never a second scan (operators/drift.py)."""
    from data_algorithms_with_pyspark_spark.operators.drift import (
        fixed_width_bin,
        psi_drift,
    )

    events = load_table(spark, sf_dir, "events")
    ref = events.where(F.dayofmonth("ts") <= _PSI_SPLIT_DAY)
    new = events.where(F.dayofmonth("ts") > _PSI_SPLIT_DAY)
    return psi_drift(
        ref,
        new,
        fixed_width_bin(F.col("value"), _PSI_WIDTH, _PSI_BINS),
        ["event_type"],
        _PSI_BINS,
    )


_RPSI_P = f"(tn + {float(_PSI_BINS)})"
_RPSI_R = f"(tr + {float(_PSI_BINS)})"


@register(
    "events_daily_psi_monitor",
    tags=("events", "quality", "monitoring", "window"),
    description="ROLLING drift monitor (VERDICT r5 #7b): per-event-type "
    "PSI time series, each day compared against the previous day over "
    f"fixed value bins (width {_PSI_WIDTH}, {_PSI_BINS} bins) — the "
    "windowed form of events_value_drift_psi a scheduled ingest charts "
    "(operators/drift.py:rolling_psi_by_period)",
    oracle=f"""
        WITH c AS (
            SELECT event_type,
                   CAST(date_diff('day', DATE '1970-01-01',
                                  CAST(ts AS DATE)) AS BIGINT) AS period,
                   LEAST(CAST(floor(value / {_PSI_WIDTH}) AS BIGINT),
                         {_PSI_BINS - 1}) AS bin,
                   count(*) AS n
            FROM events GROUP BY 1, 2, 3
        ),
        nw AS (SELECT event_type, period, bin, n AS n_new FROM c),
        rf AS (SELECT event_type, period + 1 AS period, bin, n AS n_ref
               FROM c),
        j AS (
            SELECT COALESCE(nw.event_type, rf.event_type) AS event_type,
                   COALESCE(nw.period, rf.period) AS period,
                   COALESCE(nw.bin, rf.bin) AS bin,
                   CAST(COALESCE(nw.n_new, 0) AS BIGINT) AS n_new,
                   CAST(COALESCE(rf.n_ref, 0) AS BIGINT) AS n_ref
            FROM nw FULL OUTER JOIN rf
              ON nw.event_type = rf.event_type
             AND nw.period = rf.period AND nw.bin = rf.bin
        ),
        b AS (SELECT event_type, min(period) AS pmin, max(period) AS pmax
              FROM c GROUP BY 1),
        jj AS (
            SELECT j.*,
                   CAST(sum(n_new) OVER (PARTITION BY j.event_type, j.period)
                        AS BIGINT) AS tn,
                   CAST(sum(n_ref) OVER (PARTITION BY j.event_type, j.period)
                        AS BIGINT) AS tr
            FROM j JOIN b ON j.event_type = b.event_type
            WHERE j.period > b.pmin AND j.period <= b.pmax
        ),
        terms AS (
            SELECT event_type, period, n_ref, n_new,
                   CAST(floor(
                       ((n_new + 1.0) / {_RPSI_P} - (n_ref + 1.0) / {_RPSI_R})
                       * ln(((n_new + 1.0) / {_RPSI_P})
                            / ((n_ref + 1.0) / {_RPSI_R}))
                       * 1000000000.0 + 0.5) AS BIGINT) AS psi_nano
            FROM jj
        )
        SELECT event_type, period AS day_idx,
               CAST(sum(n_ref) AS BIGINT) AS n_ref,
               CAST(sum(n_new) AS BIGINT) AS n_new,
               CAST(sum(psi_nano) AS BIGINT) AS psi_nano
        FROM terms GROUP BY 1, 2
    """,
)
def events_daily_psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day PSI per event type: one (event_type, day) row with
    the summed integer-nano PSI (bin-level floors summed as exact longs,
    so the series is engine-replayable) plus both days' event totals.
    Day index = days since epoch (integer — cross-engine-stable, unlike
    a timestamp at the month boundary). Plan: one corpus scan into the
    (type, day, bin) aggregate, consecutive-day self-join of that tiny
    aggregate, window totals, pure-expression PSI — see
    operators/drift.py:rolling_psi_by_period."""
    from data_algorithms_with_pyspark_spark.operators.drift import (
        fixed_width_bin,
        rolling_psi_by_period,
    )

    events = load_table(spark, sf_dir, "events")
    per_bin = rolling_psi_by_period(
        events,
        ["event_type"],
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long"),
        fixed_width_bin(F.col("value"), _PSI_WIDTH, _PSI_BINS),
        _PSI_BINS,
    )
    return per_bin.groupBy(
        "event_type", F.col("period").alias("day_idx")
    ).agg(
        F.sum("n_ref").alias("n_ref"),
        F.sum("n_new").alias("n_new"),
        F.sum("psi_nano").alias("psi_nano"),
    )


_DP_SEED = "dp-v1"
_DP_EPSILON = 1.0


@register(
    "dp_event_type_release",
    tags=("privacy", "events"),
    description=f"Differential-privacy release SHAPE (Laplace mechanism, "
    f"epsilon={_DP_EPSILON}, sensitivity-1 counts): noisy per-event-type "
    "counts with PUBLIC-seeded inverse-CDF noise — deterministic for the "
    "oracle contract, and therefore NOT a real DP guarantee as shipped "
    "(the noise is exactly reconstructible from the public seed); swap "
    "the seeded draw for a CSPRNG in production "
    "(operators/quality.py:dp_laplace_counts)",
    oracle=f"""
        WITH c AS (
            SELECT event_type, count(*) AS n
            FROM events GROUP BY event_type
        ),
        u AS (
            SELECT event_type, n,
                   (CAST(('0x' || substring(md5(
                        '{_DP_SEED}' || chr(1) || CAST(event_type AS VARCHAR)
                    ), 1, 15))::BIGINT AS DOUBLE) + 0.5)
                   / 1152921504606846976.0 AS uu
            FROM c
        ),
        z AS (
            SELECT event_type, n, uu - 0.5 AS t,
                   ln(1.0 - 2.0 * abs(uu - 0.5)) * {1.0 / _DP_EPSILON!r}
                       AS mag
            FROM u
        )
        SELECT event_type,
               CAST(floor((n + CASE WHEN t < 0.0 THEN mag ELSE -mag END)
                          * 1000000.0 + 0.5) AS BIGINT)
                   AS noisy_count_micro
        FROM z
    """,
)
def dp_event_type_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The privacy pillar's release stage (after the PII scrub and the
    k-anonymity audit): per-event-type counts noised by the Laplace
    mechanism before publication. One hash aggregate; the noise is a
    per-group expression over an md5-seeded uniform, replayed exactly by
    the oracle — the deterministic-seed trade and the production CSPRNG
    swap are documented on the operator."""
    from data_algorithms_with_pyspark_spark.operators.quality import (
        dp_laplace_counts,
    )

    events = load_table(spark, sf_dir, "events")
    return dp_laplace_counts(
        events, ["event_type"], public_seed=_DP_SEED, epsilon=_DP_EPSILON
    )


_ROBUST_K = 3.5  # the standard modified-z cutoff (Iglewicz & Hoaglin)
_MAD_CONSISTENCY = 0.6745  # Phi^-1(0.75): scales MAD to sigma-equivalent


@register(
    "events_value_robust_outliers",
    tags=("events", "stats", "quality"),
    description=f"Robust anomaly detection (median/MAD modified z >= "
    f"{_ROBUST_K}): the skew-resistant twin of events_value_outliers — "
    "mean/stddev break down when the contamination itself inflates them; "
    "median and MAD have a 50% breakdown point",
    oracle=f"""
        WITH med AS (
            SELECT event_type,
                   quantile_cont(value, 0.5) AS med
            FROM events GROUP BY event_type
        ),
        mad AS (
            SELECT e.event_type,
                   quantile_cont(abs(e.value - m.med), 0.5) AS mad
            FROM events e JOIN med m USING (event_type)
            GROUP BY e.event_type
        )
        SELECT e.event_id, e.event_type,
               floor(e.value * 100 + 0.5) / 100 AS value,
               floor({_MAD_CONSISTENCY!r} * abs(e.value - m.med) / d.mad
                     * 10000 + 0.5) / 10000 AS robust_z
        FROM events e
        JOIN med m USING (event_type)
        JOIN mad d USING (event_type)
        WHERE floor({_MAD_CONSISTENCY!r} * abs(e.value - m.med) / d.mad
                    * 10000 + 0.5) / 10000
              >= {_ROBUST_K!r}
    """,
)
def events_value_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three passes, no per-row shuffle: per-type median, then per-type
    MAD (median of |x - med|), both tiny relations broadcast back over
    the scan; the modified z (0.6745 * |x - med| / MAD, Iglewicz &
    Hoaglin) is pure codegen, floor-quantized to 4dp BEFORE the
    threshold compare on both engines (exact-half ties are common here
    — med/MAD are midpoints of cent-valued data). Spark's interpolated ``percentile`` equals DuckDB's
    ``quantile_cont`` bit-for-bit (the doc_length_quantile_filter
    equivalence); at 100 TB swap in ``approx_percentile`` — identical
    plan shape, documented there too."""
    events = load_table(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    mad = (
        events.join(F.broadcast(med), on="event_type")
        .groupBy("event_type")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5))
            .alias("mad")
        )
    )
    # floor form, not round(): med and MAD are midpoints of cent-valued
    # data, so the modified z lands on EXACT 4dp halves where engines'
    # round() tie-breaks differ (bit the sf0.1 check; the
    # operators/dedup.floor_round rationale).
    rz = (
        F.floor(
            F.lit(_MAD_CONSISTENCY)
            * F.abs(F.col("value") - F.col("med"))
            / F.col("mad")
            * F.lit(10000)
            + F.lit(0.5)
        )
        / F.lit(10000)
    )
    return (
        events.join(F.broadcast(med), on="event_type")
        .join(F.broadcast(mad), on="event_type")
        .select(
            "event_id",
            "event_type",
            floor_round(F.col("value"), 2).alias("value"),
            rz.alias("robust_z"),
        )
        .where(F.col("robust_z") >= F.lit(_ROBUST_K))
    )


_FUNNEL_GAP_MIN = 30


@register(
    "session_funnel_report_pipeline",
    bench=True,
    tags=("pipeline", "events", "window", "funnel"),
    description=f"END-TO-END behavioral composite (the events-side twin of "
    f"corpus_train_ready_pipeline): {_FUNNEL_GAP_MIN}-min gap sessionization "
    "-> per-session ordered view<click<purchase funnel classification + "
    "integer-cent purchase totals -> per-stage report; ONE user-keyed "
    "window shuffle feeds everything (the session aggregate groups on a "
    "superset of the window key, the stage report is a 4-row final)",
    oracle=f"""
        WITH marked AS (
            SELECT user_id, ts, event_type, value, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch(ts) - epoch(lag(ts) OVER w)
                                > {_FUNNEL_GAP_MIN * 60}
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT *, sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) - 1 AS session_id
            FROM marked
        ),
        per_sess AS (
            SELECT user_id, session_id,
                   count(*) AS n,
                   min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
                   min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
                   min(CASE WHEN event_type = 'purchase' THEN ts END)
                       AS t_purchase,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                                 THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS p_cents
            FROM sess GROUP BY user_id, session_id
        ),
        staged AS (
            SELECT *,
                   CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                             AND t_purchase IS NOT NULL
                             AND t_view < t_click AND t_click < t_purchase
                        THEN 'purchased'
                        WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                             AND t_view < t_click
                        THEN 'clicked'
                        WHEN t_view IS NOT NULL THEN 'viewed'
                        ELSE 'other' END AS funnel_stage
            FROM per_sess
        )
        SELECT funnel_stage,
               CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(sum(n) AS BIGINT) AS n_events,
               CAST(sum(p_cents) AS BIGINT) AS purchase_cents
        FROM staged GROUP BY funnel_stage
    """,
)
def session_funnel_report_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize -> classify -> report in one lazy plan, ONE data-sized
    shuffle: the gap sessionization's per-user window (lag + running sum,
    operators/windows.py:sessionize) partitions on user_id; the
    per-session aggregate groups on (user_id, session_id) — a superset of
    the window key, so Catalyst reuses the partitioning — and the stage
    report is a |stages|-row final over pre-combined partials. The funnel
    rule is session-scoped and ORDERED (earliest view strictly before
    earliest click strictly before earliest purchase — a click-first
    session is not 'clicked'), the classification a conversion report
    actually wants; purchase revenue rides exact integer cents. At 100 TB
    user_id is the natural high-cardinality partition key and no stage
    widens beyond the per-session relation."""
    from data_algorithms_with_pyspark_spark.operators.windows import (
        sessionize,
    )

    events = load_table(spark, sf_dir, "events")
    sess = sessionize(events, gap_minutes=_FUNNEL_GAP_MIN)
    t_of = lambda et: F.min(  # noqa: E731 — tiny local expression builder
        F.when(F.col("event_type") == et, F.col("ts"))
    )
    per_sess = sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n"),
        t_of("view").alias("t_view"),
        t_of("click").alias("t_click"),
        t_of("purchase").alias("t_purchase"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("p_cents"),
    )
    ordered_all = (
        F.col("t_view").isNotNull()
        & F.col("t_click").isNotNull()
        & F.col("t_purchase").isNotNull()
        & (F.col("t_view") < F.col("t_click"))
        & (F.col("t_click") < F.col("t_purchase"))
    )
    ordered_click = (
        F.col("t_view").isNotNull()
        & F.col("t_click").isNotNull()
        & (F.col("t_view") < F.col("t_click"))
    )
    staged = per_sess.withColumn(
        "funnel_stage",
        F.when(ordered_all, "purchased")
        .when(ordered_click, "clicked")
        .when(F.col("t_view").isNotNull(), "viewed")
        .otherwise("other"),
    )
    return staged.groupBy("funnel_stage").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n").cast("long").alias("n_events"),
        F.sum("p_cents").cast("long").alias("purchase_cents"),
    )


@register(
    "events_variant_props_rollup",
    tags=("events", "json", "variant"),
    description="Spark 4 VARIANT surface: props parsed ONCE with "
    "parse_json into the binary variant encoding, typed paths extracted "
    "with variant_get (long-coerced $.k plus try-variant null/shape "
    "probes) and rolled up per event type — the open-schema telemetry "
    "shape where columnarizing every key upfront is impossible; the "
    "oracle replays extraction with DuckDB's JSON path functions",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS n_with_k,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS k_sum,
               CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS k_min,
               CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS k_max,
               CAST(count(CASE WHEN json_extract_string(props, '$.missing')
                               IS NULL THEN NULL ELSE 1 END) AS BIGINT)
                   AS n_with_missing_path
        FROM events
        WHERE props IS NOT NULL
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def events_variant_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT is Spark 4's answer to schema-on-read JSON columns: parse
    once into a binary encoding (cheaper than per-path get_json_object
    string re-parses — the sibling events_props_extraction row), then
    extract any path with type coercion at query time. The rollup proves
    parse -> typed extraction -> aggregate cross-engine: present path
    ($.k as long), absent path (NULL — variant_get on a missing field),
    and the per-type counts. Variant never escapes to the output schema
    (canonicalizability contract): every column is BIGINT/STRING."""
    events = load_table(spark, sf_dir, "events")
    v = events.where(F.col("props").isNotNull()).select(
        "event_type", F.parse_json("props").alias("pv")
    )
    k = F.variant_get(F.col("pv"), "$.k", "long")
    missing = F.variant_get(F.col("pv"), "$.missing", "string")
    return (
        v.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.count(k).cast("long").alias("n_with_k"),
            F.sum(k).cast("long").alias("k_sum"),
            F.min(k).cast("long").alias("k_min"),
            F.max(k).cast("long").alias("k_max"),
            F.count(missing).cast("long").alias("n_with_missing_path"),
        )
        .orderBy("event_type")
    )


_PIVOT_PRIORITIES = (
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
)


@register(
    "orders_priority_year_pivot",
    tags=("orders", "reshape"),
    description="groupBy(year).pivot(priority) long->wide reshape with an "
    "EXPLICIT value list (the scale contract: enumerating pivot values "
    "up front skips the extra distinct-collect job AND fixes the output "
    "schema regardless of which values a data slice happens to contain) "
    "— revenue in integer cents per (year, priority) cell; the unpivot "
    "twin is linestatus_metrics_unpivot",
    oracle=f"""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               {", ".join(
                   f'''CAST(coalesce(sum(CASE WHEN o_orderpriority = '{p}'
                       THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                       END), 0) AS BIGINT) AS "p{p[0]}_cents"'''
                   for p in _PIVOT_PRIORITIES
               )}
        FROM orders
        GROUP BY 1 ORDER BY 1
    """,
)
def orders_priority_year_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The wide report shape BI tools ask for: one row per year, one
    revenue column per priority. pivot() with explicit values plans as
    ONE partial+final aggregate pair over (year) with per-value
    conditional sums — same cost as the long groupBy, no second pass;
    missing cells land 0 via coalesce so the wide schema is total.
    Integer-cent sums keep every cell accumulation-order-exact."""
    orders = load_table(spark, sf_dir, "orders")
    wide = (
        orders.select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            "o_orderpriority",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("o_year")
        .pivot("o_orderpriority", list(_PIVOT_PRIORITIES))
        .sum("cents")
    )
    out = wide.select(
        "o_year",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0))
            .cast("long")
            .alias(f"p{p[0]}_cents")
            for p in _PIVOT_PRIORITIES
        ],
    )
    return out.orderBy("o_year")


@register(
    "events_session_window_builtin",
    tags=("events", "window", "api"),
    description="The BUILT-IN session_window operator in BATCH mode (30 min "
    "gap): per-user session ordinal, event count, integer-cent value sum, "
    "and span in integer micros — the oracle replays Spark's merge rule "
    "exactly (same session iff the gap to the previous event is STRICTLY "
    "below gapDuration; window end = last event + gap), the boundary that "
    "differs from the hand-rolled sessionizer's '> gap starts new' rule",
    oracle="""
        WITH m AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                >= 1800000000
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
            SELECT user_id, event_id, ts, value,
                   sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS sid
            FROM m
        )
        SELECT user_id,
               CAST(sid AS BIGINT) AS session_ord,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS value_cents,
               CAST(max(epoch_us(ts)) - min(epoch_us(ts)) + 1800000000
                   AS BIGINT) AS span_us
        FROM s GROUP BY user_id, sid
    """,
)
def events_session_window_builtin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``F.session_window`` is the streaming sessionizer
    (streaming_session_windows_parity drives it as a StreamingQuery);
    this row attests its BATCH semantics against an islands oracle —
    notably the merge boundary: session_window merges an event iff its
    window [ts, ts+gap) OVERLAPS the session's [first, last+gap), i.e.
    strictly-less-than-gap, where the hand-rolled ``sessionize`` starts
    a new session only when the gap EXCEEDS the threshold. On
    microsecond data the two disagree exactly at gap == 30:00.000000 —
    the class of boundary the alt-draw sweeps exist to catch. Outputs
    are timezone-free (ordinals, counts, integer cents, micro spans;
    the absolute window bounds never escape). One shuffle on user_id;
    session state is the aggregation buffer."""
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    sess = events.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("sw")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "value_cents"
        ),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("sw.start"))
    return sess.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("session_ord"),
        "n_events",
        "value_cents",
        (
            F.unix_micros(F.col("sw.end")) - F.unix_micros(F.col("sw.start"))
        ).alias("span_us"),
    )
