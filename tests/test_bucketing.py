"""Bucketing: pre-partitioned table layout so fact↔fact joins need no
shuffle at read time — the co-located-join lever for 100 TB
(PERFORMANCE.md 'Joins')."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pucminas_data_pipelines_spark.io import scratch_path
from pucminas_data_pipelines_spark.tables import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def bucketed(spark):
    # warehouse dir is a static conf — set in conftest's session factory
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    o = load_table(spark, SF_SMOKE, "orders")
    l = load_table(spark, SF_SMOKE, "lineitem")
    (
        o.write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("b_orders")
    )
    (
        l.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("b_lineitem")
    )
    yield
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_join_avoids_shuffle(spark, bucketed):
    # disable auto-broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # bucketed-on-key tables: no Exchange feeding the join
        assert "Exchange hashpartitioning" not in plan
        # result parity with the unbucketed join
        plain = load_table(spark, SF_SMOKE, "lineitem").join(
            load_table(spark, SF_SMOKE, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        assert j.count() == plain.count()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_compaction_bounds_file_count(spark):
    import glob

    from pucminas_data_pipelines_spark.plans import QUERIES

    QUERIES["sink_compacted_files"](spark, SF_SMOKE).collect()
    files = glob.glob(scratch_path("orders_compacted", "*.parquet"))
    assert len(files) == 2  # repartition(2), under maxRecordsPerFile


def test_range_sorted_layout_prunes(spark):
    """The range-sorted layout must give files DISJOINT key ranges (that
    disjointness is what lets parquet min/max stats prune whole files)."""
    import glob

    from pucminas_data_pipelines_spark.plans.sources import (
        sink_range_sorted_layout,
    )
    from tests.conftest import SF_SMOKE

    sink_range_sorted_layout(spark, SF_SMOKE).collect()
    files = sorted(glob.glob(scratch_path("orders_range_sorted", "*.parquet")))
    assert len(files) >= 2
    ranges = []
    for f in files:
        row = (
            spark.read.parquet(f)
            .agg(F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi"))
            .collect()[0]
        )
        ranges.append((row.lo, row.hi))
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next


def test_registered_bucketed_join_query_has_no_exchange(spark):
    """The driver-registered sink_bucketed_colocated_join must plan as a
    sort-merge join with NO Exchange on either side (bucket-co-located
    reads) — the point of paying the bucketed write."""
    from pucminas_data_pipelines_spark.plans import QUERIES

    df = QUERIES["sink_bucketed_colocated_join"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    # children print below their parent: everything after the SMJ node is
    # its input subtree — the bucketed scans — which must not re-shuffle
    # (the groupBy's own exchange sits above the join and is expected)
    join_subtree = plan[plan.index("SortMergeJoin") :]
    assert "Exchange hashpartitioning" not in join_subtree


def test_zorder_layout_clusters_both_dimensions(spark):
    """Z-order files must cluster BOTH keys: per-file spread of custkey
    AND orderdate each well under the global range (a 1-D sort gives
    ~full-range spread on the non-sorted key)."""
    import glob

    from pucminas_data_pipelines_spark.plans import QUERIES

    QUERIES["sink_zorder_layout"](spark, SF_SMOKE).collect()
    files = glob.glob(scratch_path("orders_zorder", "*.parquet"))
    assert len(files) >= 4
    g = (
        spark.read.parquet(scratch_path("orders_zorder"))
        .agg(
            (F.max("o_custkey") - F.min("o_custkey")).alias("ck"),
            (
                F.unix_date(F.to_date(F.max("o_orderdate")))
                - F.unix_date(F.to_date(F.min("o_orderdate")))
            ).alias("d"),
        )
        .first()
    )
    spreads = []
    for f in files:
        r = (
            spark.read.parquet(f)
            .agg(
                (F.max("o_custkey") - F.min("o_custkey")).alias("ck"),
                (
                    F.unix_date(F.to_date(F.max("o_orderdate")))
                    - F.unix_date(F.to_date(F.min("o_orderdate")))
                ).alias("d"),
            )
            .first()
        )
        spreads.append((r["ck"] / g["ck"], r["d"] / g["d"]))
    avg_ck = sum(s[0] for s in spreads) / len(spreads)
    avg_d = sum(s[1] for s in spreads) / len(spreads)
    # 8 z-range files over a 16x16-rank grid: each file covers a fraction
    # of both axes; 1-D sorting would put one of these at ~1.0
    assert avg_ck < 0.75, (avg_ck, avg_d)
    assert avg_d < 0.75, (avg_ck, avg_d)
