"""Structured Streaming jobs over the events table — SURVEY.md §7 M4.

Real readStream pipelines (not batch stand-ins): file source with explicit
schema, watermarks, tumbling-window aggregation, watermarked dedup, and a
foreachBatch upsert sink into the versioned table. Driven with the
Trigger.AvailableNow pattern (process everything, then stop) so the same
code serves both tests and a long-running deployment.

Scale: event-time windows + watermark bound the state store; the
foreachBatch sink gives exactly-once-per-batch upserts (idempotent MERGE on
the key) — the standard streaming-lakehouse pattern.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pucminas_data_pipelines_spark.operators.upsert import ManifestVersionedTable
from pucminas_data_pipelines_spark.session import configure_session

def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet with the canonical
    logical schema (ts converted to TimestampType).

    readStream needs an explicit schema, but the physical type of ``ts``
    varies by testdata generator version (nanos-long vs real timestamp —
    see tables._normalize_ts), so probe it with a batch scan of the parquet
    footer (metadata-only) and mirror the batch normalization."""
    configure_session(spark)
    from pucminas_data_pipelines_spark.tables import _normalize_ts

    disk_ts = dict(
        spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet").dtypes
    )["ts"]
    schema = (
        f"event_id bigint, ts {disk_ts}, user_id bigint, event_type string, "
        "value double, props string"
    )
    # the testdata table is a single file; the streaming file source wants
    # a directory, so point at the dir and glob-filter to this table
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir.rstrip("/"))
    )
    return _normalize_ts(raw)


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Windowed aggregation with late-data watermark — the streaming twin
    of plans.events.events_tumbling_window."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
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
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful streaming dedup on the event key, state bounded by the
    watermark (dropDuplicatesWithinWatermark)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming sessionization: F.session_window with an inactivity gap,
    state bounded by the watermark — the streaming twin of
    plans.events.events_session_window (which carries the
    gaps-and-islands oracle)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    (n_events, sum_value) kept in explicit GroupState across micro-batches,
    emitting the updated totals for each user seen in a batch.

    This is the escape hatch for stateful logic Spark's built-in windowed
    aggregations can't express (bespoke accumulators, custom eviction);
    the built-ins stay preferable when they fit (SURVEY §2.3 streaming row).

    Scale: state is partitioned by the group key across executors and
    checkpointed by the state store; each micro-batch touches only the
    keys present in that batch, and Arrow batches the pandas transfer.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_totals(key, pdf_iter, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [total]}
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update_totals,
            outputStructType="user_id bigint, n_events bigint, sum_value double",
            stateStructType="n bigint, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


@contextmanager
def _pinned_shuffle_partitions(spark: SparkSession, n: int | None):
    """Temporarily pin spark.sql.shuffle.partitions around a stream START.

    Stateful streaming operators freeze their STATE STORE partition count
    from this conf at first run (AQE never re-plans stateful exchanges),
    and every state partition pays a fixed per-micro-batch cost: store
    init/commit plus, for applyInPandasWithState, an Arrow state-protocol
    round with a Python worker. When keys-per-partition is small that
    fixed cost dominates wall-clock — measured 10.5 s -> 2.0 s on the
    sf0.1 stateful-totals job (1 500 keys) going 32 -> 8 partitions,
    identical results. Size state partitions to key cardinality /
    executor count, not to the CPU-wide batch shuffle default."""
    if n is None:
        yield
        return
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_to_memory(
    stream_df: DataFrame,
    output_mode: str = "complete",
    name: str | None = None,
    state_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame to completion (AvailableNow) into a
    memory sink; returns the result as a batch DataFrame.

    ``state_partitions`` pins the state-store partition count for this
    stream (see _pinned_shuffle_partitions); None keeps the session
    default."""
    table = name or f"stream_out_{uuid.uuid4().hex[:8]}"
    spark = stream_df.sparkSession
    with _pinned_shuffle_partitions(spark, state_partitions):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(table)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(table)


def run_foreachbatch_upsert(
    stream_df: DataFrame,
    table_path: str,
    key: str,
    state_partitions: int | None = None,
) -> ManifestVersionedTable:
    """foreachBatch sink: MERGE every micro-batch into a versioned table
    (idempotent upsert on the key)."""
    spark = stream_df.sparkSession
    target = ManifestVersionedTable(spark, table_path, key=key)

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        if target.latest_version() < 0:
            target.overwrite(batch_df)
        else:
            target.merge(batch_df, key=key, broadcast_source=False)

    with _pinned_shuffle_partitions(spark, state_partitions):
        q = (
            stream_df.writeStream.foreachBatch(upsert)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return target


def run_foreachbatch_manifest_ingest(
    stream_df: DataFrame,
    table_path: str,
    key: str,
    n_buckets: int = 4,
    redeliver: bool = False,
    state_partitions: int | None = None,
):
    """foreachBatch APPEND-ONLY ingest into a ManifestVersionedTable with
    the idempotent-writer handshake (Delta txnAppId/txnVersion): every
    micro-batch appends under ``txn_version=batch_id``, so a re-delivered
    epoch — Structured Streaming's at-least-once foreachBatch contract
    after a crash between data-write and checkpoint-advance — is a no-op
    instead of a double-append. ``redeliver=True`` re-invokes the append
    for every batch to exercise exactly that replay path live.

    Scale: append is O(micro-batch) (bucket file-lists extend, nothing
    rewrites), so ingest cost tracks stream volume, not table size —
    the property that lets a 100 TB hypertable absorb a continuous
    stream; merge/optimize compact on their own cadence."""
    spark = stream_df.sparkSession
    target = ManifestVersionedTable(
        spark, table_path, key=key, n_buckets=n_buckets
    )
    # bootstrap the layout so every batch takes the same append path
    target.overwrite(spark.createDataFrame([], stream_df.schema))
    app = "stream_ingest"

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        target.append(batch_df, txn_app=app, txn_version=batch_id)
        if redeliver:
            # simulate the crash-replay delivery: same epoch, same rows —
            # the txn handshake must turn this into a no-op
            target.append(batch_df, txn_app=app, txn_version=batch_id)

    with _pinned_shuffle_partitions(spark, state_partitions):
        q = (
            stream_df.writeStream.foreachBatch(ingest)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return target


def enriched_segment_counts(
    events: DataFrame, customer_dim: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Stream-static join: enrich the event stream with a static dimension
    (user → market segment), then hourly windowed counts per segment —
    the streaming twin of plans.events.events_enriched_by_segment.

    Scale: Spark re-broadcasts the static side per micro-batch (picking
    up dim updates between batches); the stream side never shuffles for
    the join, only for the windowed aggregate, whose state the watermark
    bounds.
    """
    return (
        events.withWatermark("ts", watermark)
        .join(F.broadcast(customer_dim), F.col("user_id") == F.col("c_custkey"))
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
    )


def stream_stream_click_purchase(
    events: DataFrame, watermark: str = "1 hour", within: str = "30 minutes"
) -> DataFrame:
    """Stream-stream inner join: clicks matched to same-user purchases
    within a time bound — the streaming twin of
    plans.events.events_click_purchase_correlation.

    Scale: BOTH sides are watermarked and the join condition bounds the
    event-time range, so the state store evicts rows once the watermark
    passes their join horizon — without the time bound a stream-stream
    join's state grows without limit. The join itself hash-partitions
    both streams on user_id.
    """
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", watermark)
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {within}")),
    )


def stream_stream_click_purchase_outer(
    events: DataFrame, watermark: str = "1 hour", within: str = "30 minutes"
) -> DataFrame:
    """Stream-stream LEFT OUTER join — the inner join above plus
    watermark-driven null emission: a click with no same-user purchase
    inside its `within` horizon is held in the state store until the
    global watermark (min over both legs of max-event-time - delay)
    passes c_ts + within, at which point the engine PROVES no match can
    arrive, evicts the row, and emits it null-extended. Unmatched clicks
    newer than that horizon are still pending when the stream drains and
    are NOT emitted — the oracle encodes exactly this cutoff.

    Scale: same bounded-state story as the inner join (both legs
    watermarked, event-time-bounded condition, hash-partitioned on
    user_id); the outer side adds no state, only the eviction-time
    emission."""
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", watermark)
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {within}")),
        "leftOuter",
    )


def sliding_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """1-hour windows sliding every 30 min with late-data watermark — the
    streaming twin of plans.events.events_sliding_window. Each event
    lands in 2 windows; watermark bounds the open-window state to
    (window + watermark) / slide entries per key."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"), "n_events", "sum_value"
        )
    )


def run_late_data_drop_scenario(spark: SparkSession, src_dir: str) -> DataFrame:
    """Deterministic watermark late-data drop: three micro-batches through
    a file-source stream (maxFilesPerTrigger=1, AvailableNow), an hourly
    APPEND-mode windowed count with a 1-hour watermark.

    Batch 1 carries 10 events in the 00:00 window, 4 in the 01:00 window
    and a lone 03:00 event that advances event-time max to 03:00, so the
    watermark after batch 1 is 02:00. Batch 2 (one on-time 03:10 event)
    runs under that watermark, finalizing and emitting the 00:00 and 01:00
    windows — eviction happens one batch after the watermark passes, and a
    late row arriving in the SAME batch as the eviction would still be
    merged, which is why the late data must come one batch later. Batch 3
    replays 5 events into the closed 00:00 window — all dropped
    (numRowsDroppedByWatermark): the emitted count stays 10, and no
    second 00:00 row appears. The 03:00 window never passes the final
    watermark and never emits — append-mode semantics exactly.

    Scale: the watermark is what BOUNDS the state store on an unbounded
    stream — without it every window lives forever. This scenario pins the
    drop semantics the engine relies on for that bound (file mtimes force
    batch order; everything else is event-time arithmetic)."""
    import os
    import shutil as _sh

    _sh.rmtree(src_dir, ignore_errors=True)
    os.makedirs(src_dir, exist_ok=True)
    schema = "event_id bigint, ts timestamp, user_id bigint, value double"

    def _rows(ids_ts):
        return [(i, ts, 1, 1.0) for i, ts in ids_ts]  # (id, ts, user, value)

    b1 = _rows(
        [(i, f"2024-01-01 00:{5 + i:02d}:00") for i in range(10)]
        + [(100 + i, f"2024-01-01 01:{10 + i:02d}:00") for i in range(4)]
        + [(999, "2024-01-01 03:00:00")]
    )
    b2 = _rows([(500, "2024-01-01 03:10:00")])
    b3 = _rows([(200 + i, "2024-01-01 00:30:00") for i in range(5)])

    def _write(rows, sub, mtime):
        # pyarrow directly: the fixture is 21 rows, and three Spark write
        # jobs cost multiple seconds of pure scheduling — the file source
        # only cares about bytes-on-disk and mtime order
        from datetime import datetime, timezone

        import pyarrow as pa
        import pyarrow.parquet as pq

        p = f"{src_dir}/{sub}"
        os.makedirs(p, exist_ok=True)
        table = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [
                        datetime.strptime(r[1], "%Y-%m-%d %H:%M:%S").replace(
                            tzinfo=timezone.utc
                        )
                        for r in rows
                    ],
                    pa.timestamp("us", tz="UTC"),
                ),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "value": pa.array([r[3] for r in rows], pa.float64()),
            }
        )
        full = f"{p}/data.parquet"
        pq.write_table(table, full)
        os.utime(full, (mtime, mtime))

    base = 1_700_000_000
    _write(b1, "b1", base)
    _write(b2, "b2", base + 100)
    _write(b3, "b3", base + 200)

    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .load(src_dir)
    )
    counted = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("window_start"), "n_events")
    )
    # 15 distinct keys across 3 windows: 2 state partitions, not the
    # CPU-wide default (each partition pays store init/commit per batch)
    return run_to_memory(counted, output_mode="append", state_partitions=2)


def transform_with_state_available() -> bool:
    """Spark 4's transformWithStateInPandas ships its state protocol over
    protobuf; the Python `protobuf` package is absent in this container
    (verified: the TWS driver worker crashes with `cannot import
    'descriptor' from 'google.protobuf'` — PROGRESS r5), so the API is
    gated on the package being importable."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def stateful_user_stats_tws(events: DataFrame) -> DataFrame:
    """Custom stateful operator on the transformWithStateInPandas API
    (Spark 4 arbitrary-state v2): per-user running (n_events, max_value)
    in an explicit ValueState — the successor to applyInPandasWithState
    (stateful_user_totals above) with typed state handles, timers, and
    TTL support. Unlike the v1 job's float SUM, count+max are
    order-independent, so this job's output is deterministic across
    micro-batch boundaries and batch-oracle-able once the environment can
    run it.

    Requires the RocksDB state store provider and the protobuf Python
    package (transform_with_state_available); tests skip when absent.

    Scale: state is keyed and RocksDB-backed (spillable beyond heap, the
    v2 store built for billions of keys); per-batch work touches only the
    keys present in that batch, Arrow-batched."""
    import pandas as pd  # noqa: F811 (worker-side import)
    from pyspark.sql.streaming import StatefulProcessor
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    class _RunningStats(StatefulProcessor):
        def init(self, handle) -> None:
            self._state = handle.getValueState(
                "agg",
                StructType(
                    [StructField("n", LongType()), StructField("mx", DoubleType())]
                ),
            )

        def handleInputRows(self, key, rows, timer_values):
            if self._state.exists():
                n, mx = self._state.get()
            else:
                n, mx = 0, float("-inf")
            for pdf in rows:
                n += len(pdf)
                mx = max(mx, float(pdf["value"].max()))
            self._state.update((n, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
            )

        def close(self) -> None:
            pass

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("max_value", DoubleType()),
        ]
    )
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_RunningStats(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )


def run_foreachbatch_silver_rollup(
    stream_df: DataFrame,
    silver,
    poll_total: callable,
    expected_total: int,
    state_partitions: int | None = 8,
    timeout_s: int = 120,
) -> None:
    """Medallion silver-layer maintenance: every micro-batch's per-type
    delta is ADDED into the silver manifest table through a full-outer
    merge, committed under the idempotent-writer handshake
    (txn_app/txn_version=batch_id) — and every epoch is deliberately
    APPLIED TWICE, the at-least-once replay a crash between data-write
    and checkpoint-advance produces. Because the delta is ADDITIVE
    (unlike the raw-append ingest), a replayed epoch that actually
    re-merged would DOUBLE the counts — the txn no-op is what keeps the
    rollup exact. Empty batches (no new bronze commits between polls)
    are skipped entirely.

    Runs the stream on a processingTime trigger and polls
    ``poll_total()`` until ``expected_total`` is reached (Python stream
    sources fall back to single-batch under AvailableNow)."""
    import time

    spark = stream_df.sparkSession

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("d_n"),
            (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("d_cents"),
        )
        cur = silver.read().select(
            "event_type",
            F.col("n_events").alias("c_n"),
            F.col("cents").alias("c_cents"),
        )
        merged = (
            cur.join(delta, "event_type", "full_outer")
            .select(
                "event_type",
                (F.coalesce("c_n", F.lit(0)) + F.coalesce("d_n", F.lit(0)))
                .cast("bigint")
                .alias("n_events"),
                (
                    F.coalesce("c_cents", F.lit(0))
                    + F.coalesce("d_cents", F.lit(0))
                )
                .cast("bigint")
                .alias("cents"),
            )
        )
        merged = merged.localCheckpoint()  # pin: both merges apply the SAME delta
        silver.merge(merged, txn_app="medallion", txn_version=batch_id)
        # deliberate second delivery: must no-op under the txn handshake
        silver.merge(merged, txn_app="medallion", txn_version=batch_id)

    with _pinned_shuffle_partitions(spark, state_partitions):
        q = (
            stream_df.writeStream.foreachBatch(apply_batch)
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = time.time() + timeout_s
            while time.time() < deadline:
                if poll_total() == expected_total:
                    break
                time.sleep(0.3)
        finally:
            q.stop()
            q.awaitTermination(30)
