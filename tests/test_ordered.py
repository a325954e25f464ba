"""operators/ordered.py: the two-pass range-partitioned ordered
analytics must agree exactly with the single-partition global window it
replaces, on skewed/tied/bucket-straddling inputs, and must never plan
an unpartitioned Window over anything but the reserved bucket table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pucminas_data_pipelines_spark.operators import ordered as ORD


def _df(spark, rows):
    return spark.createDataFrame(rows, "k double, v bigint, id bigint")


@pytest.fixture(scope="module")
def skewed(spark):
    # heavy ties (k=5.0 x 40), negatives, a single outlier bucket
    rows = (
        [(5.0, i % 7 - 3, i) for i in range(40)]
        + [(float(i), i, 100 + i) for i in range(30)]
        + [(-2.5, 10, 200), (1e6, 1, 201), (1e6, 2, 202)]
    )
    return _df(spark, rows)


def test_range_prefix_sum_matches_global_window(spark, skewed):
    got = (
        ORD.range_prefix_sum(skewed, ["k", "id"], ["v"], "k", n_buckets=7)
        .select("id", "cum_v")
        .collect()
    )
    w = Window.orderBy("k", "id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = skewed.select("id", F.sum("v").over(w).alias("cum_v")).collect()
    assert sorted((r.id, r.cum_v) for r in got) == sorted(
        (r.id, r.cum_v) for r in want
    )


def test_range_row_number_matches_global_window(spark, skewed):
    got = (
        ORD.range_row_number(skewed, ["k", "id"], "k", n_buckets=5, out="rn")
        .select("id", "rn")
        .collect()
    )
    w = Window.orderBy("k", "id")
    want = skewed.select("id", F.row_number().over(w).alias("rn")).collect()
    assert sorted((r.id, r.rn) for r in got) == sorted(
        (r.id, r.rn) for r in want
    )


@pytest.mark.parametrize("k", [1, 3, 4, 10, 200])
def test_range_ntile_matches_global_window(spark, skewed, k):
    # k=200 > n exercises the one-row-per-tile branch (q=0)
    got = (
        ORD.range_ntile(skewed, ["k", "id"], "k", k, out="tile", n_buckets=6)
        .select("id", "tile")
        .collect()
    )
    w = Window.orderBy("k", "id")
    want = skewed.select("id", F.ntile(k).over(w).alias("tile")).collect()
    assert sorted((r.id, r.tile) for r in got) == sorted(
        (r.id, r.tile) for r in want
    )


@pytest.mark.parametrize("k", [1, 4, 200])
def test_grouped_range_ntile_matches_per_group_global_window(spark, skewed, k):
    # Stack the same skewed table under three group tags with different
    # orderings per group (mirrors the RFM unpivot: value asc / negated)
    # and check every group's tiles against a per-group global NTILE.
    stacked = skewed.select(
        "id",
        F.explode(
            F.array(
                F.struct(F.lit("a").alias("_g"), F.col("k").alias("_v")),
                F.struct(F.lit("b").alias("_g"), (-F.col("k")).alias("_v")),
                F.struct(
                    F.lit("c").alias("_g"), F.col("v").cast("double").alias("_v")
                ),
            )
        ).alias("_e"),
    ).select("id", "_e._g", "_e._v")
    bounds = {
        g: ORD.compute_boundaries(
            stacked.where(F.col("_g") == g).select("_v"), ["_v"], n_buckets=5
        )["_v"]
        for g in ("a", "b", "c")
    }
    pid = None
    for g in ("a", "b", "c"):
        expr = ORD.bucket_expr(bounds[g], F.col("_v"))
        pid = (
            F.when(F.col("_g") == g, expr)
            if pid is None
            else pid.when(F.col("_g") == g, expr)
        )
    got = (
        ORD.grouped_range_ntile(
            stacked.withColumn("_rb", pid), "_g", ["_v", "id"], k, out="tile",
            bucket_col="_rb",
        )
        .select("_g", "id", "tile")
        .collect()
    )
    w = Window.partitionBy("_g").orderBy("_v", "id")
    want = stacked.select(
        "_g", "id", F.ntile(k).over(w).alias("tile")
    ).collect()
    assert sorted((r._g, r.id, r.tile) for r in got) == sorted(
        (r._g, r.id, r.tile) for r in want
    )


def test_grouped_range_ntile_refuses_null_bucket_id(spark):
    """A NULL caller-supplied bucket id cannot join its bucket's bases:
    the row must fail the query, not come back with a NULL tile."""
    from pyspark.errors import PySparkException

    df = spark.createDataFrame(
        [("a", 1.0, 1, 0), ("a", 2.0, 2, None), ("a", 3.0, 3, 1)],
        "_g string, _v double, id bigint, _rb int",
    )
    out = ORD.grouped_range_ntile(df, "_g", ["_v", "id"], 2, out="tile")
    with pytest.raises(PySparkException, match="NULL bucket id"):
        out.collect()


def test_range_lead_matches_global_window(spark, skewed):
    got = (
        ORD.range_lead(skewed, ["k", "id"], "id", "k", n_buckets=5, out="nx")
        .select("id", "nx")
        .collect()
    )
    w = Window.orderBy("k", "id")
    want = skewed.select("id", F.lead("id").over(w).alias("nx")).collect()
    assert sorted((r.id, r.nx) for r in got) == sorted(
        (r.id, r.nx) for r in want
    )


def test_single_bucket_degenerate(spark):
    # constant key -> approxQuantile returns one repeated bound -> all
    # rows in <=2 buckets; still exact
    df = _df(spark, [(1.0, i, i) for i in range(10)])
    got = (
        ORD.range_prefix_sum(df, ["k", "id"], ["v"], "k", n_buckets=4)
        .select("id", "cum_v")
        .collect()
    )
    assert sorted((r.id, r.cum_v) for r in got) == [
        (i, i * (i + 1) // 2) for i in range(10)
    ]


def test_no_unpartitioned_window_outside_bucket_table(spark, skewed):
    """The whole point: the plan may only contain unpartitioned Window
    nodes ordered by the reserved ``_rb`` bucket column (bounded by
    config, not data)."""
    from tests.test_plan_hygiene import unpartitioned_window_orders

    df = ORD.range_ntile(skewed, ["k", "id"], "k", 4, out="tile")
    for names in unpartitioned_window_orders(df):
        assert any("_rb" in n for n in names), names


def test_null_keys_sort_first_like_global_window(spark):
    """NULL order keys fall into bucket 0 and sort first — identical to
    the single-partition window's ASC NULLS FIRST placement."""
    rows = [(None, 1, 0), (None, 2, 1), (1.0, 3, 2), (2.0, 4, 3)]
    df = _df(spark, rows)
    got = {
        r.id: r.cum_v
        for r in ORD.range_prefix_sum(
            df, ["k", "id"], ["v"], "k", n_buckets=3
        ).collect()
    }
    w = Window.orderBy("k", "id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        r.id: r.cum
        for r in df.select("id", F.sum("v").over(w).alias("cum")).collect()
    }
    assert got == want

def test_range_lead_null_values_mid_bucket(spark):
    """ADVICE r6 (ordered.py:211): a mid-bucket row whose SUCCESSOR
    carries a genuinely NULL value must lead to NULL — the next bucket's
    first value may substitute ONLY on each bucket's true last row."""
    rows = [(float(i), 0, i) for i in range(20)]
    df = _df(spark, rows).withColumn(
        "val", F.when(F.col("id") % 3 == 1, F.col("id")).cast("bigint")
    )  # val NULL on ids 0,2,3,5,6,8,... including mid-bucket successors
    got = {
        r.id: r.nx
        for r in ORD.range_lead(
            df, ["k", "id"], "val", "k", n_buckets=4, out="nx"
        ).collect()
    }
    w = Window.orderBy("k", "id")
    want = {
        r.id: r.nx
        for r in df.select("id", F.lead("val").over(w).alias("nx")).collect()
    }
    assert got == want
    # sanity: the scenario is actually exercised — some expected NULLs
    assert any(v is None for v in want.values())


def test_range_prefix_sum_all_null_bucket_holds_base(spark):
    """A bucket whose values are ALL NULL must carry the prior buckets'
    running sum forward (global SUM skips NULLs), not null it out via
    NULL + base; and rows before the FIRST non-null value must stay
    NULL, exactly like the global window."""
    # 20 rows, 4 buckets of 5; values NULL on ids 0-2 (leading-NULL run)
    # and on the whole second quartile (ids 5-9: an all-NULL bucket
    # after non-null values at ids 3-4)
    rows = [(float(i), 0, i) for i in range(20)]
    df = _df(spark, rows).withColumn(
        "val",
        F.when((F.col("id") >= 3) & ~F.col("id").between(5, 9), F.col("id"))
        .cast("bigint"),
    )
    got = {
        r.id: r.cum_val
        for r in ORD.range_prefix_sum(
            df, ["k", "id"], ["val"], "k", n_buckets=4
        ).collect()
    }
    w = Window.orderBy("k", "id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        r.id: r.cum_val
        for r in df.select(
            "id", F.sum("val").over(w).alias("cum_val")
        ).collect()
    }
    assert got == want
    # sanity: both divergence classes are actually exercised
    assert want[0] is None and want[7] == 3 + 4


def test_nan_keys_route_to_last_bucket(spark):
    """ADVICE r6 (ordered.py:69): Spark's global ASC sort orders NaN
    LAST (after every double); the bucket assignment must agree."""
    rows = [(float("nan"), 100, 0), (1.0, 1, 1), (2.0, 2, 2), (3.0, 3, 3)]
    df = _df(spark, rows)
    got = {
        r.id: r.cum_v
        for r in ORD.range_prefix_sum(
            df, ["k", "id"], ["v"], "k", n_buckets=3
        ).collect()
    }
    w = Window.orderBy("k", "id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        r.id: r.cum
        for r in df.select("id", F.sum("v").over(w).alias("cum")).collect()
    }
    assert got == want
    assert got[0] == 106  # NaN row is globally last: 1+2+3+100


def test_precomputed_boundaries_single_action(spark, skewed):
    """compute_boundaries pays ONE approxQuantile action for several
    keys; passing boundaries= must reproduce the per-key result exactly
    and skip the per-call action."""
    bl = ORD.compute_boundaries(skewed, ["k", "v"], n_buckets=5)
    assert set(bl) == {"k", "v"}
    got = (
        ORD.range_row_number(
            skewed, ["k", "id"], "k", n_buckets=5, out="rn"
        )
        .select("id", "rn")
        .collect()
    )
    b = ORD.with_range_buckets(skewed, "k", boundaries=bl["k"])
    from pucminas_data_pipelines_spark.operators.ordered import _bases

    bases = _bases(b, [F.count(F.lit(1))], ["n"])
    wloc = Window.partitionBy("_rb").orderBy("k", "id")
    got2 = (
        b.join(F.broadcast(bases), "_rb", "left")
        .withColumn(
            "rn",
            (
                F.row_number().over(wloc)
                + F.coalesce(F.col("_base_n"), F.lit(0))
            ).cast("bigint"),
        )
        .select("id", "rn")
        .collect()
    )
    assert sorted((r.id, r.rn) for r in got) == sorted(
        (r.id, r.rn) for r in got2
    )
