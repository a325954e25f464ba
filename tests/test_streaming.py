"""Structured Streaming tests: streaming results must agree with their
batch twins, and the foreachBatch upsert sink must land exactly the
distinct keys."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from pucminas_data_pipelines_spark.plans import QUERIES
from pucminas_data_pipelines_spark.io import scratch_path
from pucminas_data_pipelines_spark.streaming import jobs
from tests.conftest import SF_SMOKE


def test_streaming_tumbling_matches_batch(spark):
    stream_res = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in QUERIES["streaming_tumbling_window_live"](spark, SF_SMOKE).collect()
    }
    batch_res = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in QUERIES["events_tumbling_window"](spark, SF_SMOKE).collect()
    }
    assert stream_res == batch_res


def test_streaming_dedup_counts(spark):
    events = jobs.read_events_stream(spark, SF_SMOKE)
    deduped = jobs.run_to_memory(
        jobs.dedup_within_watermark(events).select("event_id"), output_mode="append"
    )
    n_distinct = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("event_id")
        .distinct()
        .count()
    )
    assert deduped.count() == n_distinct


def test_foreachbatch_upsert_sink(spark):
    path = scratch_path("test_stream_upsert")
    shutil.rmtree(path, ignore_errors=True)
    try:
        events = jobs.read_events_stream(spark, SF_SMOKE).select(
            "event_id", "event_type", "value"
        )
        table = jobs.run_foreachbatch_upsert(events, path, key="event_id")
        got = table.read()
        expected = (
            spark.read.parquet(f"{SF_SMOKE}/events.parquet")
            .select("event_id")
            .distinct()
            .count()
        )
        assert got.count() == expected
        assert got.select("event_id").distinct().count() == expected
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_stateful_user_totals_matches_batch(spark):
    import pytest

    stream_res = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in QUERIES["streaming_stateful_totals_live"](spark, SF_SMOKE).collect()
    }
    from pucminas_data_pipelines_spark.tables import load_table

    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .collect()
    )
    batch_res = {r["user_id"]: (r["n_events"], r["sum_value"]) for r in batch}
    assert set(stream_res) == set(batch_res)
    for uid, (n, total) in batch_res.items():
        assert stream_res[uid][0] == n
        # float-sum order differs between the pandas state path and the
        # JVM agg — compare to 1e-6 relative
        assert stream_res[uid][1] == pytest.approx(total, rel=1e-6)


def test_streaming_session_window_matches_batch(spark):
    stream_res = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in QUERIES["streaming_session_window_live"](spark, SF_SMOKE).collect()
    }
    batch_res = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in QUERIES["events_session_window"](spark, SF_SMOKE).collect()
    }
    assert stream_res == batch_res


def test_streaming_static_join_matches_batch(spark):
    """The stream-static join must produce exactly the batch twin's rows."""
    from pucminas_data_pipelines_spark.plans import QUERIES
    from tests.conftest import SF_SMOKE

    live = QUERIES["streaming_static_join_live"](spark, SF_SMOKE)
    batch = QUERIES["events_enriched_by_segment"](spark, SF_SMOKE)
    assert sorted(map(tuple, live.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_stream_join_matches_batch(spark):
    """The watermarked stream-stream join must produce exactly the batch
    twin's pairs (AvailableNow processes everything, so no late drops)."""
    from pucminas_data_pipelines_spark.plans import QUERIES
    from tests.conftest import SF_SMOKE

    live = QUERIES["streaming_stream_join_live"](spark, SF_SMOKE)
    batch = QUERIES["events_click_purchase_correlation"](spark, SF_SMOKE)
    assert sorted(map(tuple, live.collect())) == sorted(map(tuple, batch.collect()))


def test_checkpointed_file_sink_exactly_once(spark, tmp_path):
    """File sink + checkpointLocation: the deduped stream lands exactly the
    batch-distinct rows, and a RESTART with the same checkpoint writes
    nothing new (offsets are committed — the exactly-once contract a real
    deployment relies on)."""
    from pucminas_data_pipelines_spark.streaming import jobs
    from tests.conftest import SF_SMOKE

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        events = jobs.read_events_stream(spark, SF_SMOKE)
        q = (
            jobs.dedup_within_watermark(events)
            .select("event_id", "event_type")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = spark.read.parquet(out).count()
    expected = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("event_id")
        .distinct()
        .count()
    )
    assert first == expected
    run_once()  # restart against the committed checkpoint
    assert spark.read.parquet(out).count() == first


def test_foreachbatch_upsert_live_is_incremental(spark):
    """The registered foreachBatch query must build the table by REAL
    incremental merges: 4 single-file micro-batches → version history
    v0 (overwrite) + 3 merge commits."""
    from pucminas_data_pipelines_spark.operators.upsert import ManifestVersionedTable

    QUERIES["streaming_foreachbatch_upsert_live"](spark, SF_SMOKE).collect()
    table = ManifestVersionedTable(
        spark, scratch_path("stream_upsert_live", "table"), key="user_id"
    )
    assert table.history() == [0, 1, 2, 3]


def test_transform_with_state_running_stats(spark):
    """transformWithStateInPandas (arbitrary-state v2): per-user count+max
    must equal the batch aggregate (both order-independent). Skips where
    the protobuf package TWS's state protocol needs is not installed."""
    import pytest

    from pucminas_data_pipelines_spark.streaming import jobs

    if not jobs.transform_with_state_available():
        pytest.skip("protobuf absent: transformWithState cannot run here")
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev = jobs.read_events_stream(spark, SF_SMOKE).select("user_id", "value")
        out = jobs.run_to_memory(
            jobs.stateful_user_stats_tws(ev),
            output_mode="update",
            state_partitions=4,
        )
        from pyspark.sql import functions as F

        from pucminas_data_pipelines_spark.tables import load_table

        batch = (
            load_table(spark, SF_SMOKE, "events")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"), F.max("value").alias("max_value"))
        )
        got = {r["user_id"]: (r["n_events"], r["max_value"]) for r in out.collect()}
        want = {r["user_id"]: (r["n_events"], r["max_value"]) for r in batch.collect()}
        assert got == want
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_stream_stream_outer_join_evicts_on_watermark(spark):
    """LEFT OUTER stream-stream join: matched pairs equal the batch inner
    join; null-extended rows appear EXACTLY for clicks whose 30-minute
    match horizon fell behind the final global watermark (min over both
    legs of max-event-time - 1h). Emitting tail clicks still inside the
    horizon (over-emission) or dropping evicted ones (under-emission)
    both fail the exact set compare."""
    import datetime

    from pyspark.sql import functions as F

    from pucminas_data_pipelines_spark.streaming import jobs
    from pucminas_data_pipelines_spark.tables import load_table

    events = jobs.read_events_stream(spark, SF_SMOKE)
    live = jobs.run_to_memory(
        jobs.stream_stream_click_purchase_outer(events),
        output_mode="append",
        state_partitions=4,
    )
    ev = load_table(spark, SF_SMOKE, "events")
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 minutes"))
    )
    batch = c.join(p, cond, "leftOuter")
    wm = min(
        c.agg(F.max("c_ts")).collect()[0][0],
        p.agg(F.max("p_ts")).collect()[0][0],
    ) - datetime.timedelta(hours=1)
    want_matched = sorted(
        map(tuple, batch.where(F.col("p_user").isNotNull()).collect())
    )
    want_unmatched = sorted(
        map(
            tuple,
            batch.where(F.col("p_user").isNull())
            .where(F.col("c_ts") + F.expr("INTERVAL 30 minutes") < F.lit(wm))
            .collect(),
        )
    )
    got_matched = sorted(
        map(tuple, live.where(F.col("p_user").isNotNull()).collect())
    )
    got_unmatched = sorted(
        map(tuple, live.where(F.col("p_user").isNull()).collect())
    )
    assert got_matched == want_matched
    assert got_unmatched == want_unmatched
    # the withheld tail is real: some unmatched clicks stay pending
    n_all_unmatched = batch.where(F.col("p_user").isNull()).count()
    assert len(got_unmatched) < n_all_unmatched
