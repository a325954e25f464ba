"""Event-time windowing over the events table — SURVEY.md §7 M4.

These use the exact operators Structured Streaming executes (F.window,
F.session_window, dropDuplicates); running them on a static DataFrame gives
the batch-equivalent semantics, which is what makes them DuckDB-oracle-able.
The true streaming path (readStream + watermark + availableNow trigger) is
exercised in streaming/jobs.py and tests/test_streaming.py.

Oracle technique:
- tumbling window start == epoch-aligned floor; expressed in DuckDB as
  epoch-integer arithmetic (exact, no timezone involvement);
- sliding windows: each event belongs to window_size/slide buckets → cross
  join a small offset list;
- session windows: classic gaps-and-islands (lag + cumulative session break
  count) — bit-exact because timestamps are integer microseconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pucminas_data_pipelines_spark.operators import ordered as ORD
from pucminas_data_pipelines_spark.plans.registry import query
from pucminas_data_pipelines_spark.tables import load_table

# DuckDB expression: epoch-aligned tumbling bucket start as naive TIMESTAMP.
_DUCK_BUCKET = (
    "TIMESTAMP '1970-01-01 00:00:00' + "
    "(CAST(floor(epoch(ts) / {sec}) AS BIGINT) * {sec}) * INTERVAL '1 second'"
)


@query(
    "events_tumbling_window",
    oracle=f"""
    SELECT
      {_DUCK_BUCKET.format(sec=3600)} AS window_start,
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window aggregate — the core streaming operator run
    in batch mode. Scale: window+key groupBy is one shuffle with map-side
    combine; in streaming the same plan runs incrementally with state."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "events_sliding_window",
    oracle=f"""
    WITH offsets AS (SELECT UNNEST([0, 1]) AS j),
    assigned AS (
      SELECT
        {_DUCK_BUCKET.format(sec=1800)} - j * INTERVAL '30 minutes' AS window_start,
        value
      FROM events CROSS JOIN offsets
    )
    SELECT window_start, COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM assigned
    GROUP BY window_start
    ORDER BY window_start
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 30 minutes: each event lands in 2 windows
    (Spark materializes the overlap the same way the oracle's offset cross
    join does)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("window.start").alias("window_start"), "n_events", "sum_value")
        .orderBy("window_start")
    )


@query(
    "events_session_window",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
        CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
               OR LAG(ts) OVER w IS NULL
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WHERE user_id <= 30
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
      SELECT user_id, ts,
        SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    )
    SELECT user_id,
      CAST(MIN(ts) AS TIMESTAMP) AS session_start,
      COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute inactivity gap (F.session_window —
    the operator behind stateful streaming sessionization). The oracle is
    the gaps-and-islands rewrite, exact because timestamps are integer µs.

    session_window.start == min(ts) of the session, which is what we emit."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") <= 30)
    return (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "events_dedup_by_key",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM (SELECT DISTINCT event_id, event_type FROM events)
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates on the event key — the batch twin of streaming
    watermarked dedup (dropDuplicatesWithinWatermark in streaming/jobs.py)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select("event_id", "event_type")
        .dropDuplicates(["event_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


@query(
    "events_rate_per_user",
    oracle="""
    SELECT user_id,
      COUNT(*) AS n_events,
      CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchases,
      ROUND(CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS DOUBLE)
            / COUNT(*), 6) AS purchase_rate
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def events_rate_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (FILTER/CASE) — per-entity rates at one
    shuffle."""
    e = load_table(spark, sf_dir, "events")
    n_purch = F.sum(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    ).cast("long")
    return (
        e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            n_purch.alias("n_purchases"),
        )
        .select(
            "user_id",
            "n_events",
            "n_purchases",
            F.round(
                F.col("n_purchases").cast("double") / F.col("n_events"), 6
            ).alias("purchase_rate"),
        )
        .orderBy("user_id")
    )


@query(
    "events_enriched_by_segment",
    oracle=f"""
    SELECT
      {_DUCK_BUCKET.format(sec=3600)} AS window_start,
      c_mktsegment,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    ORDER BY window_start, c_mktsegment
    """,
)
def events_enriched_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment, batch twin: events joined to the customer
    dim (user → market segment), then hourly windowed counts per segment.
    The streaming version (streaming_static_join_live) runs the identical
    plan incrementally — the dim is broadcast once per micro-batch.

    Scale: the dim join is broadcast (no shuffle on the stream side);
    the window+segment groupBy is the one shuffle, map-side combined.
    """
    e = load_table(spark, sf_dir, "events")
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        e.join(F.broadcast(dim), F.col("user_id") == F.col("c_custkey"))
        .groupBy(F.window("ts", "1 hour"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "c_mktsegment",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "c_mktsegment")
    )


@query(
    "events_hypertable_rollup",
    oracle="""
    SELECT
      CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_bucket,
      date_trunc('hour', ts) AS hour_bucket,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      MIN(value) AS min_value,
      MAX(value) AS max_value
    FROM events
    GROUP BY ROLLUP (CAST(date_trunc('day', ts) AS TIMESTAMP), date_trunc('hour', ts))
    ORDER BY day_bucket NULLS FIRST, hour_bucket NULLS FIRST
    """,
)
def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: one pass over the
    event hypertable produces hour-level, day-level, and grand-total
    aggregates via hierarchical ROLLUP on time buckets (the batch form of
    a TimescaleDB continuous aggregate / materialized rollup).

    Scale: ROLLUP expands each row to its 3 grouping sets BEFORE the
    exchange, and map-side combine collapses them per partition — the
    shuffle carries O(partitions × (hours + days + 1)) rows, independent
    of event count. min/max/sum/count are all reusable partial aggregates
    (the same property a streaming continuous aggregate exploits for
    incremental maintenance).
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.rollup(
            F.date_trunc("day", F.col("ts")).alias("day_bucket"),
            F.date_trunc("hour", F.col("ts")).alias("hour_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy(
            F.col("day_bucket").asc_nulls_first(),
            F.col("hour_bucket").asc_nulls_first(),
        )
    )


@query(
    "events_funnel_conversion",
    oracle="""
    WITH t1 AS (
      SELECT user_id, MIN(ts) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN t1 ON e.user_id = t1.user_id
      WHERE e.event_type = 'click' AND e.ts > t1.t_view
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN t2 ON e.user_id = t2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t2.t_click
      GROUP BY e.user_id
    )
    SELECT '1_view' AS stage, COUNT(*) AS users FROM t1
    UNION ALL
    SELECT '2_click' AS stage, COUNT(*) AS users FROM t2
    UNION ALL
    SELECT '3_purchase' AS stage, COUNT(*) AS users FROM t3
    ORDER BY stage
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: users who viewed, then clicked after their
    first view, then purchased after that first click — the classic
    product-analytics conversion funnel with strict event ordering.

    Scale: three per-user min-aggregates, each map-side combined to one
    row per user; the stage joins are user-keyed hash joins on those
    shrunken aggregates (at 1000 executors, all three legs share the
    user_id partitioning; the raw events table is scanned once per stage
    with the type filter pushed to the scan). The final counts are
    3 scalar aggregates unioned — O(1) output.
    """
    e = load_table(spark, sf_dir, "events")
    t1 = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    t2 = (
        e.where(F.col("event_type") == "click")
        .join(t1, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    t3 = (
        e.where(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    count = lambda df, stage: df.agg(  # noqa: E731
        F.lit(stage).alias("stage"), F.count(F.lit(1)).alias("users")
    ).select("stage", "users")
    return (
        count(t1, "1_view")
        .unionAll(count(t2, "2_click"))
        .unionAll(count(t3, "3_purchase"))
        .orderBy("stage")
    )


@query(
    "events_retention_cohorts",
    oracle="""
    WITH cohorts AS (
      SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS TIMESTAMP) AS cohort_day
      FROM events GROUP BY user_id
    )
    SELECT
      cohort_day,
      date_diff('day', CAST(cohort_day AS DATE), CAST(e.ts AS DATE)) AS day_offset,
      COUNT(DISTINCT e.user_id) AS active_users
    FROM events e
    JOIN cohorts USING (user_id)
    WHERE date_diff('day', CAST(cohort_day AS DATE), CAST(e.ts AS DATE)) <= 7
    GROUP BY cohort_day, day_offset
    ORDER BY cohort_day, day_offset
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-activity day, then
    distinct-active counts per (cohort, day-offset) for the first week —
    the standard growth-analytics rollup.

    Scale: the cohort assignment is a per-user min-aggregate (map-side
    combined, one row per user) joined back user-keyed; the cohort×offset
    grid is tiny (days × 8), so the final COUNT(DISTINCT) shuffle carries
    pre-deduped (cohort, offset, user) triples — bounded by active users,
    not events.
    """
    e = load_table(spark, sf_dir, "events")
    cohorts = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    offset = F.datediff(F.col("ts").cast("date"), F.col("cohort_day").cast("date"))
    return (
        e.join(cohorts, "user_id")
        .withColumn("day_offset", offset)
        .where(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort_day", "day_offset")
    )


@query(
    "events_click_purchase_correlation",
    oracle="""
    SELECT c.user_id,
           COUNT(*) AS n_pairs,
           MIN(epoch_us(p.ts) - epoch_us(c.ts)) AS min_lag_us
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND p.event_type = 'purchase'
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL '30 minutes'
    GROUP BY c.user_id
    ORDER BY c.user_id
    """,
)
def events_click_purchase_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream join, batch twin: every (click, purchase) pair by the
    same user within 30 minutes — interval-bounded event correlation.
    The streaming version (streaming_stream_join_live) runs the identical
    join with watermarks bounding both sides' state.

    Scale: an equi join on user_id with the time interval as residual —
    hash join, never nested-loop; both legs filter event_type at the
    scan. The µs-integer lag arithmetic is exact, so the aggregate is
    engine-stable.
    """
    e = load_table(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    return (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min(
                F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("c_ts"))
            ).alias("min_lag_us"),
        )
        .orderBy("user_id")
    )


@query(
    "events_time_weighted_avg",
    oracle="""
    WITH deltas AS (
      SELECT user_id, value,
             epoch_us(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) -
             epoch_us(ts) AS dt_us
      FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_intervals,
           CAST(SUM(CAST(dt_us AS BIGINT)) AS BIGINT) AS total_us,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6)) * dt_us) AS DOUBLE)
                 / SUM(dt_us), 6) AS twa_value
    FROM deltas
    WHERE dt_us IS NOT NULL
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of a measurement per user: each reading is
    held until the next one (step interpolation), so its weight is the
    gap to the successor — the standard downsampling/TWA operator for
    sensor/metric streams that plain AVG gets wrong when sampling is
    irregular.

    Shape: one window (LEAD over user, time) = one shuffle on user_id,
    then a map-combined groupBy on the same key — AQE reuses the
    partitioning, so the second shuffle is free. Weighted sums run in
    DECIMAL (exact, associative) per the repo's float-parity discipline.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    deltas = ev.select(
        "user_id",
        "value",
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
        ).alias("dt_us"),
    ).where(F.col("dt_us").isNotNull())
    return (
        deltas.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dt_us").cast("bigint").alias("total_us"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)") * F.col("dt_us")).cast(
                    "double"
                )
                / F.sum("dt_us"),
                6,
            ).alias("twa_value"),
        )
        .orderBy("user_id")
    )


@query(
    "events_session_window_dynamic_gap",
    oracle="""
    WITH base AS (
      SELECT user_id, ts, epoch_us(ts) AS t,
             CASE WHEN event_type = 'purchase' THEN 7200000000
                  ELSE 1800000000 END AS gap_us
      FROM events WHERE user_id <= 30
    ),
    marked AS (
      SELECT user_id, ts, t,
             MAX(t + gap_us) OVER (PARTITION BY user_id ORDER BY ts, t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_end
      FROM base
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(CASE WHEN prev_max_end IS NULL OR t >= prev_max_end
                 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, t
                     ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def events_session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a PER-EVENT gap (F.session_window with a gap
    expression): purchases hold the session open 2 h, everything else
    30 min — the dynamic-gap sessionization real funnels need (checkout
    flows idle longer than browsing). Spark merges overlapping
    [ts, ts+gap) intervals; the oracle mirrors that exactly with a
    running-max-of-interval-end gaps-and-islands rewrite (a session
    breaks when an event starts at or after every previous interval's
    end)."""
    e = load_table(spark, sf_dir, "events").where(F.col("user_id") <= 30)
    gap = F.when(F.col("event_type") == "purchase", F.lit("2 hours")).otherwise(
        F.lit("30 minutes")
    )
    return (
        e.groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "events_gap_fill_ffill",
    oracle="""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hr,
             SUM(CAST(value AS DECIMAL(18,2))) AS hv
      FROM events GROUP BY 1, 2
    ),
    spans AS (
      SELECT user_id, MIN(hr) AS lo, MAX(hr) AS hi FROM hourly GROUP BY user_id
    ),
    grid AS (
      SELECT s.user_id, g.hr
      FROM spans s, UNNEST(generate_series(s.lo, s.hi, INTERVAL '1 hour')) AS g(hr)
    ),
    joined AS (
      SELECT g.user_id, g.hr, h.hv,
             last_value(h.hv IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS filled
      FROM grid g LEFT JOIN hourly h ON h.user_id = g.user_id AND h.hr = g.hr
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(SUM(CASE WHEN hv IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
           CAST(SUM(filled) AS DOUBLE) AS sum_filled
    FROM joined
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def events_gap_fill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: resample each user's event stream onto a
    regular hourly grid (sequence + explode between the user's observed
    span) and forward-fill missing hours with the last observed hourly
    value (last(ignoreNulls) over an UNBOUNDED PRECEDING frame) — the
    hypertable resample/locf primitive. Hourly values are DECIMAL sums
    (exact, order-independent) so the filled series is bit-identical
    across engines; output summarizes per user.

    Scale: the grid explode emits span-hours rows per user (bounded,
    time-window × users — never |events|²); both the fill window and
    the final rollup partition by user_id, one shuffle shared via AQE
    exchange reuse. Skewed users are span-bounded, not event-bounded."""
    ev = load_table(spark, sf_dir, "events")
    # Materialize the hourly rollup once: both the span derivation and the
    # grid join consume it, and without the checkpoint the plan scans the
    # raw events TWICE (verified via explain) — at 100 TB that doubles the
    # dominant cost. The rollup is |users × active hours|, tiny vs events.
    hourly = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("hv"))
        .localCheckpoint(eager=True)
    )
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hr"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = grid.join(hourly, ["user_id", "hr"], "left").select(
        "user_id",
        "hr",
        "hv",
        F.last("hv", ignorenulls=True).over(w).alias("filled"),
    )
    return (
        joined.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum(F.when(F.col("hv").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_filled"),
            F.sum("filled").cast("double").alias("sum_filled"),
        )
        .orderBy("user_id")
    )


@query(
    "events_first_touch_attribution",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type, value,
        CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
               OR LAG(ts) OVER w IS NULL
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    ),
    ft AS (
      SELECT *, FIRST_VALUE(event_type) OVER (PARTITION BY user_id, session_id
                                              ORDER BY ts, event_id
                                              ROWS UNBOUNDED PRECEDING)
                  AS first_touch
      FROM sessions
    )
    SELECT first_touch, COUNT(*) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM ft WHERE event_type = 'purchase'
    GROUP BY first_touch ORDER BY first_touch
    """,
)
def events_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: every purchase is credited to the FIRST
    event type of its 30-minute-gap session (the marketing-analytics twin
    of sessionization — 'which entry action leads to conversions').
    Gaps-and-islands sessionization, then one more window over the same
    (user, session) partitioning for the first touch — Catalyst reuses
    the user-keyed exchange across the chained windows, so the whole
    query is one shuffle plus the final small aggregate. Exact µs integer
    gap arithmetic and (ts, event_id) tie-breaks keep both engines
    deterministic; DECIMAL sums keep the revenue column bit-stable."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    flagged = e.withColumn(
        "new_session",
        F.when(
            F.lag(us).over(w).isNull() | (us - F.lag(us).over(w) >= 1_800_000_000),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    ft = sess.withColumn("first_touch", F.first("event_type").over(ws))
    return (
        ft.where(F.col("event_type") == "purchase")
        .groupBy("first_touch")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("first_touch")
    )


@query(
    "events_ohlc_bars",
    oracle="""
    WITH ranked AS (
      SELECT event_type,
             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bar_ts,
             value,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rk_open,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rk_close
      FROM events
    )
    SELECT event_type, bar_ts,
           MAX(CASE WHEN rk_open = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rk_close = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
    FROM ranked
    GROUP BY event_type, bar_ts
    ORDER BY event_type, bar_ts
    LIMIT 100
    """,
)
def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars (open/high/low/close + tick count + volume)
    per event type per hour — the canonical time-series downsampling a
    hypertable serves (TimescaleDB `time_bucket` + first/last aggregates),
    here via min_by/max_by over a (ts, event_id) ordering struct so ties
    are engine-deterministic.

    Scale: ONE hash aggregate, no window — min_by/max_by carry a single
    (ord, value) pair per group per partition through map-side combine, so
    the shuffle is O(groups), not O(ticks). The oracle's ROW_NUMBER
    formulation is the plan this avoids (a full per-group sort)."""
    e = load_table(spark, sf_dir, "events")
    ord_key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        e.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("bar_ts")
        )
        .agg(
            F.min_by("value", ord_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ord_key).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("volume"),
        )
        .orderBy("event_type", "bar_ts")
        .limit(100)
    )


@query(
    "events_peak_concurrency",
    oracle="""
    WITH intervals AS (
      SELECT ts AS s, ts + INTERVAL 5 MINUTE AS e FROM events
    ),
    endpoints AS (
      SELECT s AS t, 1 AS delta FROM intervals
      UNION ALL
      SELECT e AS t, -1 AS delta FROM intervals
    ),
    merged AS (
      SELECT t, CAST(SUM(delta) AS BIGINT) AS net FROM endpoints GROUP BY t
    ),
    swept AS (
      SELECT CAST(date_trunc('day', t) AS TIMESTAMP) AS day,
             t,
             SUM(net) OVER (ORDER BY t
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS concurrent
      FROM merged
    )
    SELECT day,
           CAST(MAX(concurrent) AS BIGINT) AS peak_concurrent,
           CAST(COUNT(*) AS BIGINT) AS n_change_points
    FROM swept
    GROUP BY day ORDER BY day
    LIMIT 30
    """,
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day via the endpoint-sweep algorithm: each
    event holds a 5-minute activity interval; +1/-1 deltas at interval
    endpoints, coalesced per timestamp, then a running sum ordered by time
    gives the instantaneous concurrency, whose per-day max is the peak —
    the load-planning metric an interval self-join would compute
    quadratically.

    Scale: the endpoint aggregate is map-side combined to distinct
    timestamps; the sweep is a two-pass range-partitioned prefix sum
    (operators/ordered.py: literal-boundary buckets -> per-bucket
    partials -> broadcast base offsets -> bucket-local window), so no
    task ever sees more than one bucket's endpoints. No self-join, no
    explosion beyond 2 rows per event."""
    e = load_table(spark, sf_dir, "events")
    iv = e.select(
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("e"),
    )
    endpoints = iv.select(F.col("s").alias("t"), F.lit(1).alias("delta")).unionAll(
        iv.select(F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )
    merged = endpoints.groupBy("t").agg(F.sum("delta").alias("net"))
    swept = ORD.range_prefix_sum(
        merged.withColumn("_tk", F.col("t").cast("double")),
        ["t"],
        ["net"],
        "_tk",
        materialize=True,  # endpoint aggregate: don't compute it twice
    ).select(
        F.date_trunc("day", F.col("t")).alias("day"),
        F.col("cum_net").alias("concurrent"),
    )
    return (
        swept.groupBy("day")
        .agg(
            F.max("concurrent").cast("bigint").alias("peak_concurrent"),
            F.count(F.lit(1)).alias("n_change_points"),
        )
        .orderBy("day")
        .limit(30)
    )


@query(
    "events_journey_paths",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN FLOOR(EXTRACT(epoch FROM ts))
                       - FLOOR(EXTRACT(epoch FROM LAG(ts) OVER (
                             PARTITION BY user_id ORDER BY ts, event_id)))
                       > 1800
                  OR LAG(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(is_start) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS session_no
      FROM marked
    ),
    paths AS (
      SELECT user_id, session_no,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
             CAST(COUNT(*) AS BIGINT) AS path_len
      FROM sessions
      GROUP BY user_id, session_no
      HAVING COUNT(*) BETWEEN 2 AND 5
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(MIN(path_len) AS BIGINT) AS path_len
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 15
    """,
)
def events_journey_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey path analysis: sessionize (30-min gap), serialize each
    session's event-type sequence in time order, and rank the most common
    2-5-step paths — the funnel-discovery complement to
    events_funnel_conversion (which checks ONE hypothesized path; this
    surfaces which paths actually occur).

    Gap semantics are truncated-second on BOTH engines (Spark compares
    ``ts.cast("long")`` deltas; the oracle floors each epoch — the
    registry-header convention), so a fractional-second gap straddling
    1800 s sessionizes identically.

    Scale: sessionization is the standard gaps-and-islands window; the
    path string is built by sort_array over (ts, event_id, type) structs
    INSIDE the session aggregate (deterministic total order, no second
    window); path cardinality — not session count — sizes the final
    rollup. The whale-session guard runs BEFORE the aggregate: session
    sizes come from a count over the (user, session) frame — one more
    window on the SAME partitioning as sessionization (no extra
    shuffle; the exchange is reused) — and >5-event sessions are
    dropped before collect_list, so no aggregate buffer ever
    materializes a whale session (a bot with 10^6 events contributes
    zero buffer, not a 10^6-element array)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
                > 1800
            ),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    sessions = marked.withColumn(
        "session_no",
        F.sum("is_start").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # whale guard: session size via a full-frame count over the same
    # (user_id)-partitioned sort, so oversized sessions are dropped
    # BEFORE the path aggregate ever buffers them
    wsess = Window.partitionBy("user_id", "session_no").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    bounded = sessions.withColumn(
        "_sess_len", F.count(F.lit(1)).over(wsess)
    ).where(F.col("_sess_len") <= 5)
    paths = (
        bounded.groupBy("user_id", "session_no")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path"),
            F.count(F.lit(1)).alias("path_len"),
        )
        .where(F.col("path_len").between(2, 5))
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.min("path_len").alias("path_len"),
        )
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(15)
    )


@query(
    "events_rfm_segmentation",
    oracle="""
    WITH anchor AS (SELECT MAX(ts) AS max_ts FROM events),
    per_user AS (
      SELECT user_id,
             CAST(EXTRACT(epoch FROM a.max_ts) - EXTRACT(epoch FROM MAX(ts))
                  AS BIGINT) AS recency_s,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      FROM events CROSS JOIN anchor a
      GROUP BY user_id, a.max_ts
    ),
    scored AS (
      SELECT user_id,
             NTILE(4) OVER (ORDER BY recency_s, user_id) AS r_score,
             NTILE(4) OVER (ORDER BY frequency DESC, user_id) AS f_score,
             NTILE(4) OVER (ORDER BY monetary DESC, user_id) AS m_score
      FROM per_user
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
)
def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-user recency (seconds since last activity,
    against the corpus max timestamp), frequency and exact-decimal
    monetary value, quartiled with NTILE into the classic 4x4x4 segment
    grid — counts per segment. Tie-breaks on user_id make every NTILE
    deterministic across engines.

    Scale: one per-user aggregate, then three two-pass range-partitioned
    NTILEs over the USER table (operators/ordered.py range_ntile: global
    row number from bucket-local rank + broadcast base counts, tile from
    the closed-form NTILE formula) — no single-partition window at any
    user count. DESC orders are expressed as ASC over the negated key so
    one ascending bucketer serves all three."""
    e = load_table(spark, sf_dir, "events")
    # Materialize the user rollup once: each of the three two-pass NTILEs
    # runs its own boundary-sampling action, and without the checkpoint
    # every one of those re-aggregates raw events (5.5 s -> 2.5 s warm at
    # sf0.1 together with the independent-tile join below). The rollup is
    # user-grain — tiny vs events.
    # r13 (guide §2.4): the recency anchor is the max of the per-user max
    # timestamps, so it is read off the USER-GRAIN rollup instead of a
    # second full events scan (the old broadcast-anchor crossJoin put an
    # events-wide agg subtree beside the main groupBy — two scans of the
    # fact table in one job). The anchor agg doubles as the lazy
    # checkpoint's materializing action: one job, one events scan.
    rollup = (
        e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
            F.max("ts").alias("_last_ts"),
        )
        .localCheckpoint(eager=False)
    )
    anchor_ts = rollup.agg(F.max("_last_ts")).collect()[0][0]
    per_user = rollup.select(
        "user_id",
        (
            F.unix_timestamp(F.lit(anchor_ts))
            - F.unix_timestamp("_last_ts")
        ).alias("recency_s"),
        "frequency",
        "monetary",
        (-F.col("frequency")).cast("double").alias("_negf"),
        (-F.col("monetary")).alias("_negm"),
    )
    # ONE boundary-sampling action for all three tile keys (VERDICT r06
    # #5): approxQuantile accepts a column list, so the three boundary
    # lists cost a single pass over the checkpointed rollup instead of
    # one action per NTILE.
    bl = ORD.compute_boundaries(
        per_user, ["recency_s", "_negf", "_negm"], n_buckets=32
    )
    # r14 (guide §2.4): the three tile computations share ONE two-pass
    # NTILE subtree. The r13 shape ran range_ntile PER metric — three
    # rollup passes, three partials exchanges, three placement windows —
    # and only stitched the outputs. Here the metrics unpivot ROW-LOCALLY
    # to (user_id, _k, _v), the per-metric range bucket is one CASE over
    # the three boundary lists (still literals from the single
    # compute_boundaries action above), and grouped_range_ntile
    # (operators/ordered.py) runs the partials + bases + placement once
    # with every key extended by _k. Identical tiles: per metric the
    # order (_v, user_id) equals the old (metric, user_id) order —
    # recency_s is an exact int-in-double, _negf/_negm were double
    # already.
    def _bucket_case(v):
        pid = None
        for key, col in (("r", "recency_s"), ("f", "_negf"), ("m", "_negm")):
            expr = ORD.bucket_expr(bl[col], v)
            pid = (
                F.when(F.col("_k") == key, expr)
                if pid is None
                else pid.when(F.col("_k") == key, expr)
            )
        return pid
    stacked = per_user.select(
        "user_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit("r").alias("_k"),
                    F.col("recency_s").cast("double").alias("_v"),
                ),
                F.struct(F.lit("f").alias("_k"), F.col("_negf").alias("_v")),
                F.struct(F.lit("m").alias("_k"), F.col("_negm").alias("_v")),
            )
        ).alias("_e"),
    ).select("user_id", "_e._k", "_e._v")
    stacked = stacked.withColumn("_rb", _bucket_case(F.col("_v")))
    u = ORD.grouped_range_ntile(
        stacked, "_k", ["_v", "user_id"], 4, out="_s", bucket_col="_rb"
    )
    scored = u.groupBy("user_id").agg(
        F.max(F.when(F.col("_k") == "r", F.col("_s"))).alias("r_score"),
        F.max(F.when(F.col("_k") == "f", F.col("_s"))).alias("f_score"),
        F.max(F.when(F.col("_k") == "m", F.col("_s"))).alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("r_score", "f_score", "m_score")
    )


@query(
    "events_outage_gaps",
    oracle="""
    WITH minutes AS (
      SELECT DISTINCT event_type,
             CAST(date_trunc('minute', ts) AS TIMESTAMP) AS m
      FROM events
    ),
    gaps AS (
      SELECT event_type, m,
             LAG(m) OVER (PARTITION BY event_type ORDER BY m) AS prev_m
      FROM minutes
    )
    SELECT event_type, prev_m AS silence_start, m AS silence_end,
           CAST((EXTRACT(epoch FROM m) - EXTRACT(epoch FROM prev_m)) / 60
                AS BIGINT) AS silence_minutes
    FROM gaps
    WHERE EXTRACT(epoch FROM m) - EXTRACT(epoch FROM prev_m) > 600
    ORDER BY event_type, silence_start
    LIMIT 50
    """,
)
def events_outage_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-outage detection: silences longer than 10 minutes in each
    event-type stream, found by LAG over the DISTINCT active minutes —
    the monitoring query that catches a dead producer or a stuck
    ingestion job (per-user gap-fill handles missing readings; this finds
    whole-stream holes).

    Scale: the distinct-(type, minute) collapse happens FIRST (map-side
    combined, cardinality <= types x minutes — time-bounded regardless of
    event volume), so the lag window sorts the tiny minute table, never
    the event stream."""
    e = load_table(spark, sf_dir, "events")
    minutes = e.select(
        "event_type", F.date_trunc("minute", F.col("ts")).alias("m")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("m")
    gaps = minutes.withColumn("prev_m", F.lag("m").over(w))
    silence_s = F.col("m").cast("long") - F.col("prev_m").cast("long")
    return (
        gaps.where(silence_s > 600)
        .select(
            "event_type",
            F.col("prev_m").alias("silence_start"),
            F.col("m").alias("silence_end"),
            (silence_s / 60).cast("bigint").alias("silence_minutes"),
        )
        .orderBy("event_type", "silence_start")
        .limit(50)
    )


@query(
    "events_decayed_engagement",
    oracle="""
    WITH anchor AS (SELECT MAX(ts) AS max_ts FROM events),
    scored AS (
      SELECT user_id,
             CAST(ROUND(
               1.0 / (1.0 + 0.1 * (FLOOR(EXTRACT(epoch FROM a.max_ts))
                                   - FLOOR(EXTRACT(epoch FROM ts))) / 86400.0),
               8) AS DECIMAL(18,8)) AS w
      FROM events CROSS JOIN anchor a
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(w), 4) AS DOUBLE) AS decayed_score
    FROM scored
    GROUP BY user_id
    ORDER BY decayed_score DESC, user_id
    LIMIT 25
    """,
)
def events_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed engagement score: each event contributes
    1 / (1 + 0.1 x age_in_days) against the corpus max timestamp, so last
    week's activity dominates and history fades smoothly — the
    recency-weighted ranking signal feeds (trending, churn risk) use
    instead of a hard recency cutoff.

    Determinism note: the decay kernel is RATIONAL on purpose — exp()
    differs by 1 ulp between JVM and C libm and a 25k-term sum can land
    exactly on a rounding boundary (observed in development); +,x,/ are
    IEEE-exact so the hyperbolic kernel is bit-identical on both engines,
    then per-row DECIMAL quantization makes the group sum order-free.
    Ages are TRUNCATED-second on both sides (Spark cast-to-long floors;
    the oracle floors epoch() explicitly — DuckDB's epoch keeps
    microseconds, which silently shifted weights at sf0.001; caught by
    the second-SF parity suite).

    Scale: one broadcast single-row anchor, one map-side-combined
    aggregate. The decay constant composes with
    events_rfm_segmentation's recency quartiles."""
    e = load_table(spark, sf_dir, "events")
    anchor = e.agg(F.max("ts").alias("max_ts"))
    age_days = (
        F.col("max_ts").cast("long") - F.col("ts").cast("long")
    ).cast("double") / 86400.0
    return (
        e.crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            # per-row quantization to DECIMAL(18,8) makes the group sum
            # exact and ORDER-FREE — raw float sums differ in the last ulp
            # across partitionings and can land on a rounding boundary
            F.round(F.lit(1.0) / (F.lit(1.0) + F.lit(0.1) * age_days), 8)
            .cast("decimal(18,8)")
            .alias("w"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("w"), 4).cast("double").alias("decayed_score"),
        )
        .orderBy(F.col("decayed_score").desc(), "user_id")
        .limit(25)
    )


@query(
    "events_type_affinity",
    oracle="""
    WITH per_user AS (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    n_users AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n FROM events
    ),
    type_counts AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_type
      FROM per_user GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM per_user a
      JOIN per_user b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_both,
           ROUND((p.n_both * u.n) / (ca.n_type * cb.n_type), 6) AS lift
    FROM pairs p
    JOIN type_counts ca ON ca.event_type = p.type_a
    JOIN type_counts cb ON cb.event_type = p.type_b
    CROSS JOIN n_users u
    ORDER BY type_a, type_b
    """,
)
def events_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity between event types: for every type pair,
    the users who do BOTH and the lift P(a,b)/(P(a)·P(b)) — lift > 1
    means the behaviors attract (cross-sell/bundling signal), < 1 means
    they repel. The association-rules primitive over the behavior log.

    Scale: the self-join runs on the DISTINCT (user, type) table — at
    most |types| rows per user, so the pair explosion is users x
    C(|types|,2), bounded by the small type vocabulary, never by event
    volume; with thousands of item types you'd switch to the
    frequent-itemset pruning (support threshold before pairing). Exact
    integer ratios rounded at 6."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.select("user_id", "event_type").distinct()
    n_users = e.agg(
        F.count_distinct("user_id").cast("double").alias("n")
    )
    type_counts = per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_type")
    )
    a = per_user.select("user_id", F.col("event_type").alias("type_a"))
    b = per_user.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ca = type_counts.select(
        F.col("event_type").alias("type_a"), F.col("n_type").alias("na")
    )
    cb = type_counts.select(
        F.col("event_type").alias("type_b"), F.col("n_type").alias("nb")
    )
    return (
        pairs.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                (F.col("n_both") * F.col("n")) / (F.col("na") * F.col("nb")), 6
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "events_activity_heatmap",
    oracle="""
    SELECT CAST(EXTRACT(isodow FROM ts) AS INTEGER) AS dow,
           CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2
    ORDER BY dow, hour
    """,
)
def events_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weekday x hour activity heatmap (168-cell grid of event and
    unique-user counts) — the first dashboard any behavior log gets, and
    the raw material stats_seasonality_dow_index marginalizes.

    Scale: one map-side-combined aggregate to <= 168 groups; the distinct
    user count expands per-cell but combines partially. Nothing else
    moves."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            (((F.dayofweek("ts") + 5) % 7) + 1).alias("dow"),
            F.hour("ts").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("dow", "hour")
    )


@query(
    "events_linear_attribution",
    oracle="""
    WITH purchases AS (
      SELECT event_id AS p_id, user_id, ts AS p_ts FROM events
      WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT user_id, ts AS c_ts,
             CAST(json_extract_string(props, '$.k') AS INTEGER) % 4
               AS channel
      FROM events WHERE event_type = 'click'
    ),
    touches AS (
      SELECT p.p_id, c.channel,
             CAST(COUNT(*) OVER (PARTITION BY p.p_id) AS BIGINT) AS n_touches
      FROM purchases p
      JOIN clicks c
        ON c.user_id = p.user_id
       AND c.c_ts >= p.p_ts - INTERVAL 30 MINUTE
       AND c.c_ts < p.p_ts
    ),
    credited AS (
      SELECT channel,
             CAST(ROUND(1.0 / n_touches, 9) AS DECIMAL(18,9)) AS credit
      FROM touches
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_touchpoints,
           CAST(ROUND(SUM(credit), 6) AS DOUBLE) AS attributed_conversions
    FROM credited
    GROUP BY channel
    ORDER BY channel
    """,
)
def events_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution: every click in the 30 minutes
    before a purchase shares the conversion credit equally (1/n per
    touch), rolled up by channel (the props.k bucket standing in for a
    campaign id) — the equal-credit counterpart to
    events_first_touch_attribution, and the model marketers reach for
    when last/first-touch over-rewards one end of the journey. Total
    attributed credit across channels equals the attributed-purchase
    count by construction.

    Determinism: per-touch credit quantizes to DECIMAL(18,9) (1/3-style
    repeating fractions are rounded identically on both engines), so
    channel sums are exact and order-free.

    Scale: the touch join is user-equi + time-band (hash-partitioned on
    user, band as residual — the as-of join family's plan); per-purchase
    touch counts ride a window over the join output, already partitioned
    by purchase."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    clicks = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        (
            F.get_json_object("props", "$.k").cast("int") % 4
        ).alias("channel"),
    )
    touches = purchases.join(
        clicks,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") < F.col("p_ts")),
    )
    w = Window.partitionBy("p_id")
    credited = touches.select(
        "channel",
        F.round(F.lit(1.0) / F.count(F.lit(1)).over(w), 9)
        .cast("decimal(18,9)")
        .alias("credit"),
    )
    return (
        credited.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_touchpoints"),
            F.round(F.sum("credit"), 6).cast("double").alias(
                "attributed_conversions"
            ),
        )
        .orderBy("channel")
    )


@query(
    "events_dau_mau_stickiness",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS month,
             CAST(ts AS DATE) AS d,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
      FROM events GROUP BY 1, 2
    ),
    monthly AS (
      SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS month,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
      FROM events GROUP BY 1
    )
    SELECT d.month,
           CAST(COUNT(*) AS BIGINT) AS active_days,
           CAST(SUM(d.dau) AS BIGINT) AS dau_sum,
           m.mau,
           ROUND(CAST(SUM(d.dau) AS DOUBLE) / COUNT(*) / m.mau, 6)
             AS stickiness
    FROM daily d JOIN monthly m USING (month)
    GROUP BY d.month, m.mau
    ORDER BY d.month
    """,
)
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month (average daily actives over monthly
    actives — the engagement-frequency ratio growth teams track; 1.0
    means every monthly user shows up every day). Exact integer distinct
    counts, one final division.

    Scale: two distinct-count aggregates (per day, per month) over the
    same scan — both expand-and-combine map-side; the join carries
    |months| rows. At billions of users swap count_distinct for the
    registry's mergeable sketches (agg_hll_sketch_mergeable /
    agg_bitmap_exact_distinct) and the shape is unchanged."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("month", F.col("ts")).alias("month"),
        F.to_date("ts").alias("d"),
    ).agg(F.count_distinct("user_id").alias("dau"))
    monthly = e.groupBy(
        F.date_trunc("month", F.col("ts")).alias("month")
    ).agg(F.count_distinct("user_id").alias("mau"))
    return (
        daily.join(monthly, "month")
        .groupBy("month", "mau")
        .agg(
            F.count(F.lit(1)).alias("active_days"),
            F.sum("dau").alias("dau_sum"),
        )
        .select(
            "month",
            "active_days",
            "dau_sum",
            "mau",
            F.round(
                F.col("dau_sum").cast("double")
                / F.col("active_days")
                / F.col("mau"),
                6,
            ).alias("stickiness"),
        )
        .orderBy("month")
    )


@query(
    "events_interarrival_distribution",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             FLOOR(EXTRACT(epoch FROM ts))
               - FLOOR(EXTRACT(epoch FROM LAG(ts) OVER (
                   PARTITION BY event_type, user_id ORDER BY ts, event_id)))
               AS gap_s
      FROM events
    ),
    binned AS (
      SELECT event_type,
             CAST(FLOOR(LN(CAST(GREATEST(gap_s, 1) AS DOUBLE)) / LN(2.0))
                  AS INTEGER) AS log2_bucket
      FROM gaps WHERE gap_s IS NOT NULL
    )
    SELECT event_type, log2_bucket,
           CAST(POW(2, log2_bucket) AS BIGINT) AS bucket_min_seconds,
           CAST(COUNT(*) AS BIGINT) AS n_gaps
    FROM binned
    GROUP BY event_type, log2_bucket
    ORDER BY event_type, log2_bucket
    """,
)
def events_interarrival_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time distribution per event type (per-user
    consecutive-event gaps in power-of-two second buckets) — the workload
    characterization behind every capacity model and the empirical basis
    for choosing session gaps (events_session_window's 30-minute
    parameter should sit in this histogram's valley) and stream watermark
    delays.

    Scale: one lag window per (type, user) partition, integer-exact
    bucketing, map-side-combined rollup over ~|types| x ~40 buckets.
    Gaps are truncated-second on both engines (the oracle floors each
    epoch — fractional-microsecond gaps shifted bucket boundaries at
    sf0.1; caught by the r8 pre-clear sweep)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "event_type",
        (F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")).alias(
            "gap_s"
        ),
    ).where(F.col("gap_s").isNotNull())
    binned = gaps.select(
        "event_type",
        F.floor(
            F.log(F.greatest(F.col("gap_s"), F.lit(1)).cast("double"))
            / F.log(F.lit(2.0))
        )
        .cast("int")
        .alias("log2_bucket"),
    )
    return (
        binned.groupBy("event_type", "log2_bucket")
        .agg(
            F.pow(F.lit(2), F.col("log2_bucket")).cast("bigint").alias(
                "bucket_min_seconds"
            ),
            F.count(F.lit(1)).alias("n_gaps"),
        )
        .select("event_type", "log2_bucket", "bucket_min_seconds", "n_gaps")
        .orderBy("event_type", "log2_bucket")
    )


@query(
    "events_growth_accounting",
    oracle="""
    WITH user_months AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('month', ts) AS TIMESTAMP) AS month
      FROM events
    ),
    seq AS (
      SELECT user_id, month,
             LAG(month) OVER (PARTITION BY user_id ORDER BY month)
               AS prev_month
      FROM user_months
    ),
    staged AS (
      SELECT month,
             CASE WHEN prev_month IS NULL THEN 'new'
                  WHEN month = prev_month + INTERVAL 1 MONTH THEN 'retained'
                  ELSE 'resurrected' END AS stage
      FROM seq
    ),
    actives AS (
      SELECT month, stage, CAST(COUNT(*) AS BIGINT) AS n
      FROM staged GROUP BY month, stage
    ),
    churned AS (
      SELECT a.month + INTERVAL 1 MONTH AS month,
             'churned' AS stage,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM user_months a
      LEFT JOIN user_months b
        ON b.user_id = a.user_id AND b.month = a.month + INTERVAL 1 MONTH
      WHERE b.user_id IS NULL
        AND a.month + INTERVAL 1 MONTH <= (SELECT MAX(month) FROM user_months)
      GROUP BY 1
    )
    SELECT CAST(month AS TIMESTAMP) AS month, stage, n
    FROM (SELECT * FROM actives UNION ALL SELECT * FROM churned)
    ORDER BY month, stage
    """,
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting (the new / retained / resurrected / churned
    decomposition): each user-month is staged by comparing to the user's
    previous active month, and churn is counted into the FOLLOWING month
    (actives last month, absent this month) — the monthly growth ledger
    where net MAU change = new + resurrected - churned, the
    lifecycle-flow view that DAU/MAU stickiness
    (events_dau_mau_stickiness) collapses into one ratio.

    Scale: distinct user-months collapse first (map-side combined); the
    staging lag is one window over that reduced table; churn is a
    self-join on (user, month+1) — all hash joins on the reduced
    cardinality, never the raw event stream."""
    e = load_table(spark, sf_dir, "events")
    um = e.select(
        "user_id", F.date_trunc("month", F.col("ts")).alias("month")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("month")
    staged = um.withColumn("prev_month", F.lag("month").over(w)).select(
        "month",
        F.when(F.col("prev_month").isNull(), "new")
        .when(
            F.col("month") == F.col("prev_month") + F.expr("INTERVAL 1 MONTH"),
            "retained",
        )
        .otherwise("resurrected")
        .alias("stage"),
    )
    actives = staged.groupBy("month", "stage").agg(
        F.count(F.lit(1)).alias("n")
    )
    max_month = um.agg(F.max("month").alias("mx"))
    a = um.select(F.col("user_id").alias("u"), F.col("month").alias("m"))
    b = um.select(
        F.col("user_id").alias("u2"), F.col("month").alias("m2")
    )
    churn = (
        a.join(
            b,
            (F.col("u") == F.col("u2"))
            & (F.col("m2") == F.col("m") + F.expr("INTERVAL 1 MONTH")),
            "left_anti",
        )
        .crossJoin(F.broadcast(max_month))
        .where(F.col("m") + F.expr("INTERVAL 1 MONTH") <= F.col("mx"))
        .select(
            (F.col("m") + F.expr("INTERVAL 1 MONTH")).alias("month"),
            F.lit("churned").alias("stage"),
        )
        .groupBy("month", "stage")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return actives.unionByName(churn).orderBy("month", "stage")


@query(
    "events_cep_v_pattern",
    oracle="""
    WITH seq AS (
      SELECT event_type, value,
             lag(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev,
             lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS nxt
      FROM events
    ),
    v AS (
      SELECT event_type,
             CAST(prev + nxt - 2 * value AS DECIMAL(18, 6)) AS depth
      FROM seq
      WHERE prev IS NOT NULL AND nxt IS NOT NULL
        AND prev > value AND nxt > value
        AND prev + nxt - 2 * value >= 200
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_patterns,
           ROUND(CAST(SUM(depth) AS DOUBLE) / COUNT(*), 6) AS avg_depth
    FROM v GROUP BY event_type ORDER BY event_type
    """,
)
def events_cep_v_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern detection (the MATCH_RECOGNIZE /
    Flink-CEP shape 'A then B then C' on a per-key ordered stream): a
    V-shaped dip is a strict local minimum in a user's value sequence
    whose combined drop+recovery depth clears a threshold — the
    drop-then-rebound signature monitoring pipelines alert on. SQL engines
    express this as lag/lead over the per-key event-time order, which is
    exactly how Spark runs it: one shuffle keyed by user_id, then the
    pattern predicate is row-local.

    Determinism: depth = prev + nxt - 2*value uses only +/- (exactly
    rounded IEEE ops, identical across engines); per-row DECIMAL
    quantization before the group sum makes the average order-free.

    Scale: pattern matching never leaves the per-key window — no
    self-join over the event table (the naive CEP translation); state per
    key is the 3-row lag/lead frame, the same bound a streaming
    transformWithState implementation would hold."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        "value",
        F.lag("value").over(w).alias("prev"),
        F.lead("value").over(w).alias("nxt"),
    )
    depth = F.col("prev") + F.col("nxt") - 2 * F.col("value")
    v = seq.where(
        F.col("prev").isNotNull()
        & F.col("nxt").isNotNull()
        & (F.col("prev") > F.col("value"))
        & (F.col("nxt") > F.col("value"))
        & (depth >= 200)
    ).select("event_type", depth.cast("decimal(18,6)").alias("depth"))
    return (
        v.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_patterns"),
            F.round(
                F.sum("depth").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_depth"),
        )
        .orderBy("event_type")
    )


@query(
    "events_sliding_distinct_users",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    days AS (SELECT DISTINCT d FROM ud),
    contrib AS (
      SELECT ud.user_id, ud.d + CAST(o.i AS INTEGER) AS window_end
      FROM ud, UNNEST(generate_series(0, 6)) AS o(i)
    )
    SELECT c.window_end AS d,
           CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS distinct_users_7d
    FROM contrib c JOIN days ON days.d = c.window_end
    GROUP BY c.window_end
    ORDER BY d
    """,
)
def events_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window COUNT DISTINCT (7-day rolling distinct active users
    per day) — the aggregate SQL windows cannot express (COUNT(DISTINCT)
    OVER a moving frame is unsupported in Spark and most engines). The
    scalable rewrite: dedup to (user, day) grain first, explode each
    user-day to the <=7 window-ends it contributes to, then an ordinary
    distinct count per window-end — shuffle volume is 7x the DEDUPED
    grain, not 7x the raw events.

    Determinism: all date/integer arithmetic.

    Scale: the (user, day) dedup is the volume cliff (map-side combined);
    the explode multiplies by window width — for wide windows (90d) the
    same query swaps the explode for an HLL-sketch merge tree
    (agg_hll_sketch_mergeable) at the cost of exactness."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    days = ud.select("d").distinct()
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "d",
    ).select("user_id", F.date_add(F.col("d"), F.col("i")).alias("window_end"))
    return (
        contrib.join(
            F.broadcast(days.select(F.col("d").alias("window_end"))),
            "window_end",
        )
        .groupBy(F.col("window_end").alias("d"))
        .agg(F.countDistinct("user_id").cast("bigint").alias("distinct_users_7d"))
        .orderBy("d")
    )


@query(
    "events_conversion_lag_percentiles",
    oracle="""
    WITH signups AS (
      SELECT user_id, MIN(ts) AS signup_ts
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    first_purchase AS (
      SELECT e.user_id, MIN(e.ts) AS purchase_ts
      FROM events e JOIN signups s
        ON e.user_id = s.user_id AND e.ts > s.signup_ts
      WHERE e.event_type = 'purchase'
      GROUP BY e.user_id
    ),
    lags AS (
      SELECT CAST(floor(epoch(purchase_ts)) - floor(epoch(signup_ts))
                  AS BIGINT) AS lag_s
      FROM first_purchase f JOIN signups s USING (user_id)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(quantile_cont(lag_s, 0.50), 6) AS p50_lag_s,
           ROUND(quantile_cont(lag_s, 0.90), 6) AS p90_lag_s,
           CAST(MAX(lag_s) AS BIGINT) AS max_lag_s
    FROM lags
    """,
)
def events_conversion_lag_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-to-convert distribution: per user, the lag from first signup
    to the first STRICTLY LATER purchase, summarized as interpolated
    percentiles — the activation-latency readout growth teams pair with
    funnel counts (events_funnel_conversion says how many converted; this
    says how long conversion takes).

    Determinism: both engines pin TRUNCATED-second semantics — Spark's
    unix_timestamp floors each timestamp to whole seconds, and the
    oracle matches with floor(epoch(..)) per timestamp (epoch(p)-epoch(s)
    cast would ROUND the fractional difference and disagree on ~25% of
    users at other scale factors); the percentiles interpolate order
    statistics (no running float sums).

    Scale: two map-side-combined MIN aggregates keyed by user plus one
    user-keyed join — the event table is never self-joined at event grain
    (a naive 'pair every signup with every later purchase' explodes
    quadratically on active users); the percentile runs over user-grain
    lags."""
    e = load_table(spark, sf_dir, "events")
    signups = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    first_purchase = (
        purchases.join(signups, "user_id")
        .where(F.col("ts") > F.col("signup_ts"))
        .groupBy("user_id", "signup_ts")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    lags = first_purchase.select(
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("signup_ts")
        )
        .cast("bigint")
        .alias("lag_s")
    )
    return lags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        F.round(F.expr("percentile(lag_s, 0.50)"), 6).alias("p50_lag_s"),
        F.round(F.expr("percentile(lag_s, 0.90)"), 6).alias("p90_lag_s"),
        F.max("lag_s").cast("bigint").alias("max_lag_s"),
    )


@query(
    "events_fraud_velocity_rule",
    oracle="""
    WITH counted AS (
      SELECT user_id, ts, event_id,
             COUNT(*) OVER (
               PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_1h
      FROM events
    ),
    flagged AS (SELECT * FROM counted WHERE n_1h >= 4)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_violations,
           CAST(MAX(n_1h) AS BIGINT) AS peak_rate_1h
    FROM flagged
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def events_fraud_velocity_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Velocity rule (fraud/abuse detection): flag any event that is the
    4th-or-later event by the same user within a trailing 1-hour window,
    then report per-offender violation counts and peak observed rate —
    the rate-limit primitive risk engines evaluate per transaction.
    Expressed as a time-RANGE window frame (the streaming twin holds the
    same per-key frame as timer state in transformWithState).

    Determinism: pure integer epoch arithmetic and counts; the oracle
    orders its RANGE frame by floor(epoch(ts)) so frame membership and
    peer grouping use the same truncated-second key as Spark's
    unix_timestamp on every row, not just away from hour boundaries.

    Scale: one shuffle keyed by user_id; frame state is bounded by the
    per-user event rate within the window, never the history. Zipfian
    offenders are exactly the keys AQE skew-split."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    counted = e.select(
        "user_id", F.count(F.lit(1)).over(w).alias("n_1h")
    )
    return (
        counted.where(F.col("n_1h") >= 4)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_violations"),
            F.max("n_1h").cast("bigint").alias("peak_rate_1h"),
        )
        .orderBy("user_id")
    )


_LTTB_BUCKET_HOURS = 12  # downsample the hourly series ~12:1


@query(
    "events_lttb_downsample",
    oracle=f"""
    WITH series AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    bounds AS (SELECT MIN(h) AS min_h FROM series),
    pts AS (
      SELECT s.h, s.y,
             CAST(FLOOR((s.h - b.min_h) / {_LTTB_BUCKET_HOURS}) AS BIGINT) AS b
      FROM series s CROSS JOIN bounds b
    ),
    nb AS (SELECT MAX(b) AS max_b FROM pts),
    cent AS (
      SELECT b,
             CAST(SUM(h) AS DOUBLE) / COUNT(*) AS cx,
             CAST(SUM(y) AS DOUBLE) / COUNT(*) AS cy
      FROM pts GROUP BY b
    ),
    scored AS (
      SELECT p.b, p.h, p.y, nb.max_b,
             ABS((l.cx - r.cx) * (CAST(p.y AS DOUBLE) - l.cy)
                 - (l.cx - CAST(p.h AS DOUBLE)) * (r.cy - l.cy)) AS area
      FROM pts p
      CROSS JOIN nb
      LEFT JOIN cent l ON l.b = p.b - 1
      LEFT JOIN cent r ON r.b = p.b + 1
    ),
    ranked AS (
      SELECT b, h, y,
             ROW_NUMBER() OVER (
               PARTITION BY b
               ORDER BY area DESC NULLS LAST,
                        CASE WHEN b = max_b THEN -h ELSE h END
             ) AS rn
      FROM scored
    )
    SELECT b AS bucket, h AS hour_epoch, y AS n_events
    FROM ranked WHERE rn = 1
    ORDER BY bucket
    """,
)
def events_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB downsampling (Steinarsson 2013, largest-triangle-three-
    buckets) of the hourly event-count series, in the PARALLEL
    fixed-reference variant: each 12-hour bucket keeps the point whose
    triangle against the NEIGHBOR BUCKETS' CENTROIDS has the largest
    area — the standard visualization-grade reducer that preserves
    peaks/valleys a plain per-bucket average flattens. (Classic LTTB
    anchors on the previously SELECTED point, a sequential chain; the
    centroid-anchored variant is order-free, which is what makes it one
    Spark job instead of a driver loop.) The first bucket keeps its
    first point and the last bucket its last, matching LTTB's pinned
    endpoints; a bucket missing a neighbor (series gaps) falls back to
    the same endpoint rule via NULLS LAST.

    Determinism: the OUTPUT is integer-only (bucket, epoch-hour, count);
    floats appear only in the selection, where every input double comes
    from one correctly-rounded division of exact integers and the area
    arithmetic is the same IEEE ops on both engines — bit-identical
    areas, ties broken by hour.

    Scale: one data-grain shuffle (the hourly aggregate); centroids are
    bucket-grain and broadcast; the selection window is partitioned per
    bucket. A 10-year, billion-point series downsampled for a dashboard
    is the same three-aggregate plan."""
    series = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    )
    # hour-grain (dimension-bounded) and consumed by four subtrees
    # (bounds, points, bucket count, centroids): persist it so the
    # event-grain scan+aggregate runs ONCE regardless of series length.
    series.persist()
    bounds = series.agg(F.min("h").alias("min_h"))
    pts = series.crossJoin(F.broadcast(bounds)).select(
        "h",
        "y",
        F.floor((F.col("h") - F.col("min_h")) / _LTTB_BUCKET_HOURS)
        .cast("bigint")
        .alias("b"),
    )
    nb = pts.agg(F.max("b").alias("max_b"))
    cent = pts.groupBy("b").agg(
        (F.sum("h").cast("double") / F.count(F.lit(1))).alias("cx"),
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias("cy"),
    )
    left = F.broadcast(
        cent.select(
            (F.col("b") + 1).alias("b"),
            F.col("cx").alias("lx"),
            F.col("cy").alias("ly"),
        )
    )
    right = F.broadcast(
        cent.select(
            (F.col("b") - 1).alias("b"),
            F.col("cx").alias("rx"),
            F.col("cy").alias("ry"),
        )
    )
    area = F.abs(
        (F.col("lx") - F.col("rx")) * (F.col("y").cast("double") - F.col("ly"))
        - (F.col("lx") - F.col("h").cast("double"))
        * (F.col("ry") - F.col("ly"))
    )
    scored = (
        pts.join(left, "b", "left")
        .join(right, "b", "left")
        .crossJoin(F.broadcast(nb))
        .select("b", "h", "y", "max_b", area.alias("area"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("b").orderBy(
        F.col("area").desc_nulls_last(),
        F.when(F.col("b") == F.col("max_b"), -F.col("h")).otherwise(F.col("h")),
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("b").alias("bucket"),
            F.col("h").alias("hour_epoch"),
            F.col("y").alias("n_events"),
        )
        .orderBy("bucket")
    )



_EWMA_ALPHA = 0.4


@query(
    "events_ewma_daily",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, day, x,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
               AS BIGINT) AS t
      FROM daily
    ),
    terms AS (
      SELECT a.event_type, a.day, a.t, a.x AS x_t,
             CAST(b.x AS DECIMAL(12, 0))
             * CAST(ROUND(
                 CASE WHEN b.t = 1 THEN POWER({1 - _EWMA_ALPHA}, a.t - 1)
                      ELSE {_EWMA_ALPHA} * POWER({1 - _EWMA_ALPHA}, a.t - b.t)
                 END, 9) AS DECIMAL(12, 9)) AS wx
      FROM idx a
      JOIN idx b ON a.event_type = b.event_type AND b.t <= a.t
    )
    SELECT event_type, day, x_t AS n_events,
           CAST(CAST(FLOOR(SUM(wx) * 1000000 + 0.5) AS BIGINT) AS DOUBLE)
             / 1000000.0 AS ewma
    FROM terms
    GROUP BY event_type, day, x_t
    ORDER BY event_type, day
    """,
)
def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of daily event counts
    (alpha = 0.4, s_1 = x_1) in CLOSED FORM: s_t = (1-a)^(t-1) x_1 +
    sum_k a (1-a)^(t-k) x_k — each day's smoothed value is a weighted
    sum over the window's history, expressed as a bounded self-join on
    the per-type day index instead of a sequential scan. The trade is
    explicit: O(T^2) weight terms per key for a calendar-bounded T
    (30 days here), zero sequential state — for unbounded streams the
    recurrence runs in applyInPandasWithState instead (the
    streaming_stateful_totals_live machinery).

    Determinism: each weight is quantized to DECIMAL(12,9) before the
    exact decimal sum (POWER's 1-ulp libm drift cannot survive the
    1e-9 round); the final value converts through the integer-micros
    floor shift — the registry's engine-portable float discipline.

    Scale: the daily aggregate is the only data-grain shuffle; the
    index and self-join run on (types x days) rows, dimension-bounded."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    daily.persist()  # dimension-bounded; feeds both join sides
    w = Window.partitionBy("event_type").orderBy("day")
    idx = daily.select(
        "event_type", "day", "x", F.row_number().over(w).cast("bigint").alias("t")
    )
    a = idx.select(
        F.col("event_type").alias("et"),
        F.col("day").alias("day"),
        F.col("x").alias("x_t"),
        F.col("t").alias("t"),
    )
    b = idx.select(
        F.col("event_type").alias("et_b"),
        F.col("x").alias("x_k"),
        F.col("t").alias("k"),
    )
    alpha = _EWMA_ALPHA
    weight = F.when(
        F.col("k") == 1, F.pow(F.lit(1 - alpha), F.col("t") - 1)
    ).otherwise(F.lit(alpha) * F.pow(F.lit(1 - alpha), F.col("t") - F.col("k")))
    terms = a.join(
        b, (F.col("et") == F.col("et_b")) & (F.col("k") <= F.col("t"))
    ).select(
        "et",
        "day",
        "x_t",
        (
            F.col("x_k").cast("decimal(12,0)")
            * F.round(weight, 9).cast("decimal(12,9)")
        ).alias("wx"),
    )
    ewma = (
        F.floor(F.sum("wx") * F.lit(1000000) + F.lit(0.5))
        .cast("bigint")
        .cast("double")
        / F.lit(1000000.0)
    )
    return (
        terms.groupBy(F.col("et").alias("event_type"), "day", F.col("x_t"))
        .agg(ewma.alias("ewma"))
        .select(
            "event_type", "day", F.col("x_t").alias("n_events"), "ewma"
        )
        .orderBy("event_type", "day")
    )


@query(
    "events_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(COUNT(*) AS BIGINT) AS x,
             (CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) + 4)
               % 7 AS dow
      FROM events GROUP BY 1, 2, 4
    ),
    tr AS (
      SELECT event_type, day, x, dow,
             CASE WHEN COUNT(*) OVER w = 7
                  THEN CAST(SUM(x) OVER w AS DOUBLE) / 7.0 END AS trend
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
      SELECT *, CAST(FLOOR((x - trend) * 1000000 + 0.5) AS BIGINT) AS det_u
      FROM tr
    ),
    season AS (
      SELECT event_type, dow,
             CAST(SUM(det_u) AS DOUBLE)
               / (COUNT(det_u) * 1000000.0) AS s_raw
      FROM det WHERE det_u IS NOT NULL GROUP BY 1, 2
    ),
    season_u AS (
      SELECT event_type, dow,
             CAST(FLOOR(s_raw * 1000000 + 0.5) AS BIGINT) AS s_u
      FROM season
    ),
    season_c AS (
      SELECT event_type, dow,
             CAST(s_u - CAST(FLOOR(
                 CAST(SUM(s_u) OVER (PARTITION BY event_type) AS DOUBLE)
                 / COUNT(*) OVER (PARTITION BY event_type) + 0.5
               ) AS BIGINT) AS DOUBLE) / 1000000.0 AS seasonal
      FROM season_u
    )
    SELECT d.event_type, d.day, d.x AS n_events,
           d.trend,
           s.seasonal,
           CASE WHEN d.trend IS NOT NULL
                THEN CAST(FLOOR((d.x - d.trend - s.seasonal) * 1000000 + 0.5)
                     AS BIGINT) / 1000000.0 END AS residual
    FROM det d JOIN season_c s
      ON d.event_type = s.event_type AND d.dow = s.dow
    ORDER BY d.event_type, d.day
    """,
)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of the per-type daily series
    (STL-lite): trend = centered 7-row moving average (NULL at the
    edges, where the window is short), seasonal = the per-day-of-week
    mean of the detrended series re-centered to sum ~0, residual =
    observed - trend - seasonal — the anomaly-detection preprocessing
    step (alerts fire on residuals, not raw counts, so weekend dips
    stop paging anyone).

    Determinism: day-of-week comes from integer epoch-day arithmetic
    ((days+4)%7 — engine-portable, no locale/calendar involvement);
    every value that feeds an UNORDERED float SUM is first quantized to
    integer micros (float addition is non-associative; integer addition
    is), and each division is a single correctly-rounded IEEE op over
    exact integers — so trend/seasonal/residual are bit-identical
    across engines.

    Scale: one data-grain shuffle (the daily aggregate); the MA window
    is partitioned per type; seasonal factors are (type x 7) rows,
    broadcast back by the join."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    daily = (
        e.groupBy(
            "event_type",
            day.alias("day"),
            (
                (F.floor(F.unix_timestamp(day) / 86400).cast("bigint") + 4) % 7
            ).alias("dow"),
        ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    tr = daily.select(
        "event_type",
        "day",
        "x",
        "dow",
        F.when(
            F.count(F.lit(1)).over(w) == 7,
            F.sum("x").over(w).cast("double") / F.lit(7.0),
        ).alias("trend"),
    )
    det = tr.withColumn(
        "det_u",
        F.floor((F.col("x") - F.col("trend")) * 1000000 + F.lit(0.5)).cast(
            "bigint"
        ),
    )
    season = (
        det.where(F.col("det_u").isNotNull())
        .groupBy("event_type", "dow")
        .agg(
            (
                F.sum("det_u").cast("double")
                / (F.count("det_u") * F.lit(1000000.0))
            ).alias("s_raw")
        )
    )
    season_u = season.select(
        "event_type",
        "dow",
        F.floor(F.col("s_raw") * 1000000 + F.lit(0.5)).cast("bigint").alias("s_u"),
    )
    wt = Window.partitionBy("event_type")
    season_c = season_u.select(
        "event_type",
        "dow",
        (
            (
                F.col("s_u")
                - F.floor(
                    F.sum("s_u").over(wt).cast("double")
                    / F.count(F.lit(1)).over(wt)
                    + F.lit(0.5)
                ).cast("bigint")
            ).cast("double")
            / F.lit(1000000.0)
        ).alias("seasonal"),
    )
    return (
        det.join(F.broadcast(season_c), ["event_type", "dow"])
        .select(
            "event_type",
            "day",
            F.col("x").alias("n_events"),
            "trend",
            "seasonal",
            F.when(
                F.col("trend").isNotNull(),
                F.floor(
                    (F.col("x") - F.col("trend") - F.col("seasonal")) * 1000000
                    + F.lit(0.5)
                ).cast("bigint")
                / F.lit(1000000.0),
            ).alias("residual"),
        )
        .orderBy("event_type", "day")
    )


from pucminas_data_pipelines_spark.plans.registry import ORACLES as _OR

_ANOMALY_ORACLE = f"""
    WITH dec AS ({_OR["events_seasonal_decompose"]}),
    res AS (
      SELECT event_type, day,
             CAST(FLOOR(residual * 1000000 + 0.5) AS BIGINT) AS r_u
      FROM dec WHERE residual IS NOT NULL
    ),
    med AS (
      SELECT event_type, quantile_cont(r_u, 0.5) AS med_u
      FROM res GROUP BY event_type
    ),
    dev AS (
      SELECT r.event_type, r.r_u, m.med_u, ABS(r.r_u - m.med_u) AS adev_u
      FROM res r JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, ANY_VALUE(med_u) AS med_u,
             quantile_cont(adev_u, 0.5) AS mad_u
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_scored,
           ANY_VALUE(m.med_u) / 1000000.0 AS residual_median,
           ANY_VALUE(m.mad_u) / 1000000.0 AS residual_mad,
           CAST(SUM(CASE WHEN ABS(d.r_u - d.med_u) > 3 * m.mad_u
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type ORDER BY d.event_type
    """


@query(
    "events_residual_anomaly_gate",
    oracle=_ANOMALY_ORACLE,
)
def events_residual_anomaly_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The alerting rule on top of events_seasonal_decompose: per type,
    score every fully-windowed day's residual against the robust
    3-sigma-equivalent gate |r - median(r)| > 3 * MAD(r) — the
    volume-anomaly detector that ignores weekly seasonality and trend
    by construction (it fires on residuals, not raw counts). Reported
    per type: days scored, residual median and MAD (micros-exact), and
    the anomaly count.

    Determinism: residuals are bit-identical across engines (see the
    decompose query); they are shifted to integer micros BEFORE the
    percentile aggregates, and both engines use the same interpolated
    median (the agg_percentile_interpolated precedent), so the gate
    compares identical doubles.

    Scale: one pass over the (type x day) decomposition — everything
    downstream of the daily aggregate is dimension-bounded."""
    dec = events_seasonal_decompose(spark, sf_dir)
    res = dec.where(F.col("residual").isNotNull()).select(
        "event_type",
        "day",
        F.floor(F.col("residual") * 1000000 + F.lit(0.5))
        .cast("bigint")
        .alias("r_u"),
    )
    med = res.groupBy("event_type").agg(
        F.percentile(F.col("r_u"), F.lit(0.5)).alias("med_u")
    )
    dev = res.join(F.broadcast(med), "event_type").select(
        "event_type",
        "r_u",
        "med_u",
        F.abs(F.col("r_u") - F.col("med_u")).alias("adev_u"),
    )
    mad = dev.groupBy("event_type").agg(
        F.any_value("med_u").alias("med_u"),
        F.percentile(F.col("adev_u"), F.lit(0.5)).alias("mad_u"),
    )
    gated = dev.join(
        F.broadcast(mad.select("event_type", F.col("mad_u").alias("mad_u2"))),
        "event_type",
    )
    counts = gated.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        F.sum(
            F.when(
                F.abs(F.col("r_u") - F.col("med_u")) > 3 * F.col("mad_u2"), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_anomalies"),
    )
    return (
        counts.join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            "n_scored",
            (F.col("med_u") / F.lit(1000000.0)).alias("residual_median"),
            (F.col("mad_u") / F.lit(1000000.0)).alias("residual_mad"),
            "n_anomalies",
        )
        .orderBy("event_type")
    )
