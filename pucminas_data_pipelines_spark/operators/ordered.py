"""Two-pass range-partitioned ordered analytics: scalable replacements
for unpartitioned global windows (prefix sums, global row numbers,
NTILE, LEAD).

A ``Window.orderBy(...)`` with no ``partitionBy`` routes EVERY row
through ONE task — Spark's WindowExec is not range-parallel (unlike a
global ``orderBy``, which range-partitions). At 100 TB that single task
is the job. The scalable equivalent is the classic two-pass scheme used
by every distributed prefix-scan (e.g. MPI_Scan, cub::DeviceScan,
Flink's keyed pre-aggregation):

  pass 0  pick ~``n_buckets``-1 split points of the order key via
          ``approxQuantile`` (a bounded driver-side list, embedded as
          LITERALS so the bucket id is a deterministic per-row
          expression — stable across plan branches without any
          cache/checkpoint, because both branches evaluate the same
          literal boundaries);
  pass 1  per-bucket partials (one map-side-combined aggregate, bucket
          grain), then cumulative base offsets over the <= n_buckets
          partial rows — the only unpartitioned window left, and its
          input cardinality is bounded by CONFIG, not data (the plan
          hygiene gate in tests/test_plan_hygiene.py recognizes it by
          the reserved ``_rb`` order key);
  pass 2  a bucket-partitioned window plus the broadcast base offset.

Correctness does NOT depend on boundary quality: any monotone boundary
set yields the right answer (skewed boundaries only unbalance the
buckets), and equal keys always land in the same bucket, so a
partition-local order by the full key extends to a global total order.

Used by: events_peak_concurrency, quality_id_gap_summary,
stats_equidepth_histogram, stats_ks_drift, stats_gini_concentration,
events_rfm_segmentation, multimodal_webdataset_shard_layout,
multimodal_shard_roundtrip, text_heaps_vocab_growth.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_BUCKET = "_rb"  # reserved bucket-id column; hygiene gate keys on it


def compute_boundaries(
    df: DataFrame, key_cols: list[str], n_buckets: int = 32
) -> dict[str, list[float]]:
    """One bounded ``approxQuantile`` action over SEVERAL key columns at
    once, returning ``{col: sorted boundary list}`` for each.

    Call sites that bucket the same (already materialized) table on
    multiple keys — e.g. an RFM rollup NTILE'd on recency, frequency and
    monetary — should pay the split-point scan ONCE here and pass each
    list to :func:`with_range_buckets` via ``boundaries=`` instead of
    triggering one action per key."""
    probs = [i / n_buckets for i in range(1, n_buckets)]
    rows = df.approxQuantile(key_cols, probs, 0.001)
    return {
        c: sorted({b for b in bs if b == b})  # drop NaN split points
        for c, bs in zip(key_cols, rows)
    }


def bucket_expr(boundaries: list[float], key: Column) -> Column:
    """Range-bucket id of the double-valued ``key`` against literal split
    points: the number of boundaries strictly below it, so bucket ``i``
    holds keys in (b[i-1], b[i]]. NULL keys land in bucket 0 (the lambda
    predicate is null per element, so the filter keeps nothing) and NaN
    keys in the LAST bucket, matching Spark's ASC NULLS FIRST order with
    NaN after every double. NaN split points are dropped; with none left
    every row is bucket 0."""
    bounds = sorted({float(b) for b in boundaries if b == b})
    if not bounds:
        return F.lit(0)
    arr = F.array(*[F.lit(b) for b in bounds])
    return F.when(F.isnan(key), F.lit(len(bounds))).otherwise(
        F.size(F.filter(arr, lambda b: b < key))
    )


def with_range_buckets(
    df: DataFrame,
    key_col: str,
    n_buckets: int = 32,
    boundaries: list[float] | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Append the deterministic range-bucket id column ``_rb``.

    ``key_col`` must be numeric (cast timestamps with
    ``.cast("double")`` first). Boundaries come from one bounded
    ``approxQuantile`` action (n_buckets-1 doubles on the driver — the
    same "sample split points" pass every distributed sort does) and are
    embedded as literals, so ``_rb`` is a pure row expression: every
    plan branch that re-evaluates it agrees, with no materialization.

    The quantile pass is an eager action at plan-build time, so an
    expensive un-materialized upstream DAG would be computed twice (once
    for the boundaries, once at execution). Either pass
    ``materialize=True`` to ``localCheckpoint`` the input first (right
    choice when ``df`` is a small pre-bucketing aggregate), or compute
    boundaries once with :func:`compute_boundaries` on an already
    materialized frame and pass them via ``boundaries=``.

    Bucket assignment is :func:`bucket_expr`: NULL keys land in bucket 0
    and sort first inside it, NaN keys in the last bucket — consistent
    with Spark's default global ASC NULLS FIRST order.
    """
    if materialize:
        df = df.localCheckpoint(eager=True)
    if boundaries is None:
        boundaries = compute_boundaries(df, [key_col], n_buckets)[key_col]
    return df.withColumn(
        _BUCKET, bucket_expr(boundaries, F.col(key_col).cast("double"))
    )


def _bases(
    bucketed: DataFrame, partial_aggs: list[Column], names: list[str]
) -> DataFrame:
    """Per-bucket partials -> exclusive cumulative base offsets.

    The window here is unpartitioned but runs over the AGGREGATED
    bucket table (<= n_buckets rows — bounded by config, not data)."""
    partials = bucketed.groupBy(_BUCKET).agg(
        *[a.alias(f"_p_{n}") for a, n in zip(partial_aggs, names)]
    )
    wb = Window.orderBy(_BUCKET).rowsBetween(Window.unboundedPreceding, -1)
    return partials.select(
        _BUCKET,
        *[
            F.coalesce(F.sum(f"_p_{n}").over(wb), F.lit(0)).alias(f"_base_{n}")
            for n in names
        ],
    )


def range_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_cols: list[str],
    key_col: str,
    n_buckets: int = 32,
    out_prefix: str = "cum_",
    materialize: bool = False,
) -> DataFrame:
    """Global running SUM of each ``value_cols`` ordered by
    ``order_cols`` (ROWS UNBOUNDED PRECEDING..CURRENT ROW semantics),
    computed without a single-partition window. ``key_col`` is the
    numeric bucketing key — normally ``order_cols[0]`` or a cast of it;
    equal keys share a bucket so the result is exact for any total
    order whose first component is ``key_col``-monotone.

    Pass ``materialize=True`` when ``df`` is an un-checkpointed upstream
    aggregate: the boundary-sampling action would otherwise compute that
    DAG twice (once for split points, once at execution).

    NULL semantics match global SUM exactly: the running sum is NULL only
    while NO non-null value has appeared yet in the total order. The
    stitch therefore carries a prior-bucket non-null COUNT alongside each
    base sum — ``NULL + base`` would otherwise wrongly null out any row
    whose bucket-local frame is all-NULL even though earlier buckets
    already contributed (the range_lead boundary-conflation class)."""
    b = with_range_buckets(df, key_col, n_buckets, materialize=materialize)
    bases = _bases(
        b,
        [a for c in value_cols for a in (F.sum(c), F.count(c))],
        [n for c in value_cols for n in (c, f"{c}__cnt")],
    )
    wloc = Window.partitionBy(_BUCKET).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = b.join(F.broadcast(bases), _BUCKET, "left")
    for c in value_cols:
        local = F.sum(c).over(wloc)
        out = out.withColumn(
            out_prefix + c,
            F.when(
                local.isNotNull() | (F.col(f"_base_{c}__cnt") > 0),
                F.coalesce(local, F.lit(0)) + F.col(f"_base_{c}"),
            ),
        )
    return out.drop(
        _BUCKET,
        *[f"_base_{c}" for c in value_cols],
        *[f"_base_{c}__cnt" for c in value_cols],
    )


def range_row_number(
    df: DataFrame,
    order_cols: list,
    key_col: str,
    n_buckets: int = 32,
    out: str = "rn",
    boundaries: list[float] | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Global 1-based ROW_NUMBER over ``order_cols`` (which must be a
    total order, all ascending, with ``key_col`` as — or monotone in —
    the leading component), as bucket-local row_number + broadcast
    exclusive count base."""
    b = with_range_buckets(
        df, key_col, n_buckets, boundaries=boundaries, materialize=materialize
    )
    bases = _bases(b, [F.count(F.lit(1))], ["n"])
    wloc = Window.partitionBy(_BUCKET).orderBy(*order_cols)
    return (
        b.join(F.broadcast(bases), _BUCKET, "left")
        .withColumn(
            out,
            (
                F.row_number().over(wloc)
                + F.coalesce(F.col("_base_n"), F.lit(0))
            ).cast("bigint"),
        )
        .drop(_BUCKET, "_base_n")
    )


def range_ntile(
    df: DataFrame,
    order_cols: list,
    key_col: str,
    k: int,
    out: str = "tile",
    n_buckets: int = 32,
    boundaries: list[float] | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Global NTILE(k) over ``order_cols`` via the two-pass global row
    number plus the closed-form tile assignment: with n rows, q = n/k
    and r = n%k, the first r tiles hold q+1 rows — so
    tile(rn) = ceil(rn/(q+1)) while rn <= r(q+1), else
    r + ceil((rn - r(q+1))/q). Matches SQL NTILE exactly (both engines
    verified by the stats_equidepth_histogram / events_rfm_segmentation
    oracles). Runs as :func:`grouped_range_ntile` over one constant group.

    The total row count rides the SAME bucket-grain partials that feed
    the base offsets (a full-frame sum over the <= n_buckets partial
    rows), NOT a separate ``df.agg(count)`` — that leg was a third full
    pass over the input in the physical plan (the bases subtree and the
    main scan being the other two), pure waste at any scale."""
    b = with_range_buckets(
        df, key_col, n_buckets, boundaries=boundaries, materialize=materialize
    )
    return grouped_range_ntile(
        b.withColumn("_ntile_g", F.lit(0)), "_ntile_g", order_cols, k, out=out
    ).drop("_ntile_g")


def grouped_range_ntile(
    df: DataFrame,
    group_col: str,
    order_cols: list,
    k: int,
    out: str = "tile",
    bucket_col: str = _BUCKET,
) -> DataFrame:
    """Several independent global NTILE(k)s in ONE two-pass subtree:
    :func:`range_ntile`'s scheme with every key extended by a GROUP
    column, for inputs where the ntile targets are stacked as rows
    (e.g. the three RFM metrics unpivoted to (user, metric, value)).
    One bucket-partials exchange, one bases window (per-group, still
    <= groups × n_buckets rows), one broadcast join and one placement
    window replace one full subtree PER metric — same bytes through the
    placement window, 1/Nth the stage launches and input passes.

    The caller supplies the per-row bucket id column (``bucket_col``):
    per-group boundary lists are caller knowledge (one
    :func:`compute_boundaries` action covers all groups), and the bucket
    assignment is a row-local CASE of :func:`bucket_expr` over them. The
    bucket id must be non-NULL: a NULL id would miss the equi-join with
    the bases and silently get a NULL tile, so such a row fails the query
    instead (the check folds away when the id is provably non-NULL).
    Tile semantics per group are the closed form documented on
    :func:`range_ntile`."""
    partials = df.groupBy(group_col, bucket_col).agg(
        F.count(F.lit(1)).alias("_p_n")
    )
    wb = Window.partitionBy(group_col).orderBy(bucket_col)
    bases = partials.select(
        group_col,
        bucket_col,
        F.coalesce(
            F.sum("_p_n").over(wb.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("_base_n"),
        F.sum("_p_n")
        .over(
            wb.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        .alias("_n_total"),
    )
    wloc = Window.partitionBy(group_col, bucket_col).orderBy(*order_cols)
    grn = (
        F.row_number().over(wloc) + F.coalesce(F.col("_base_n"), F.lit(0))
    ).cast("bigint")
    q = F.floor(F.col("_n_total") / k)
    r = F.col("_n_total") % k
    big = r * (q + F.lit(1))
    tile = (
        F.when(
            F.col(bucket_col).isNull(),
            F.raise_error(
                F.lit(f"grouped_range_ntile: NULL bucket id in {bucket_col!r}")
            ),
        )
        .when(F.col("_grn") <= big, F.ceil(F.col("_grn") / (q + F.lit(1))))
        .otherwise(r + F.ceil((F.col("_grn") - big) / q))
        .cast("int")
    )
    return (
        df.join(F.broadcast(bases), [group_col, bucket_col], "left")
        .withColumn("_grn", grn)
        .withColumn(out, tile)
        .drop(bucket_col, "_base_n", "_n_total", "_grn")
    )


def range_lead(
    df: DataFrame,
    order_cols: list[str],
    col: str,
    key_col: str,
    n_buckets: int = 32,
    out: str = "lead",
    materialize: bool = False,
) -> DataFrame:
    """Global LEAD(col) over ``order_cols``: bucket-local lead, then the
    last row of each bucket takes the first value of the next non-empty
    bucket (a tiny per-bucket firsts table, stitched with one
    bucket-grain window and broadcast back).

    The stitch keys on an explicit last-row-of-bucket flag
    (``lead(lit(1)) IS NULL`` over the same window — no extra sort), NOT
    on ``_lead_loc IS NULL``: a mid-bucket row whose successor carries a
    genuinely NULL ``col`` must return NULL, exactly like global LEAD,
    not the next bucket's first value."""
    b = with_range_buckets(df, key_col, n_buckets, materialize=materialize)
    wloc = Window.partitionBy(_BUCKET).orderBy(*order_cols)
    led = b.withColumn("_lead_loc", F.lead(col).over(wloc)).withColumn(
        "_is_last", F.lead(F.lit(1)).over(wloc).isNull()
    )
    firsts = b.groupBy(_BUCKET).agg(
        F.min(
            F.struct(
                *[F.col(c).alias(f"_o{i}") for i, c in enumerate(order_cols)],
                F.col(col).alias("_v"),
            )
        ).alias("_s")
    )
    wb = Window.orderBy(_BUCKET)
    nexts = firsts.select(
        _BUCKET, F.lead("_s._v").over(wb).alias("_next_first")
    )
    return (
        led.join(F.broadcast(nexts), _BUCKET, "left")
        .withColumn(
            out,
            F.when(F.col("_is_last"), F.col("_next_first")).otherwise(
                F.col("_lead_loc")
            ),
        )
        .drop(_BUCKET, "_lead_loc", "_is_last", "_next_first")
    )
