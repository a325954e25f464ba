"""Vector math over array<float> columns as pure Catalyst expressions.

No UDFs: dot products and norms are higher-order-function folds
(`zip_with` + `aggregate`), which run JVM-side inside codegen. Accumulation
is in double, sequentially in list order — deterministic, so results are
reproducible across runs and comparable against an oracle that folds in the
same order.

Scale: an expression-only cosine costs ~dim multiply-adds per row with zero
serialization; this beats a Pandas UDF for small dims (<= a few hundred).
For very wide vectors batched BLAS via pandas_udf can win — that variant
lives in operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in double, folded left-to-right."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sq_norm(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(sq_norm(a))


def cosine_similarity(a: Column, b: Column) -> Column:
    """cos(a,b) = dot / (|a|·|b|); NULL when either norm is 0 AND when
    the result is NaN (a NaN/Inf component in either vector).

    The NaN→NULL mapping is load-bearing for every ranking built on this
    function: Spark's total ordering sorts NaN ABOVE every number, so one
    corrupt embedding component would otherwise place its row FIRST in
    each descending top-k (brute-force/LSH/IVF kNN, contrastive mining),
    displacing every legitimate neighbor. NULL sorts last under desc and
    fails `> threshold` filters, so corrupt vectors fall out of results
    instead of dominating them."""
    cos = dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))
    return F.when(~F.isnan(cos), cos)


def cosine_from_norms(
    a: Column, b: Column, norm_a: Column, norm_b: Column
) -> Column:
    """``cosine_similarity`` with the two norms supplied as columns —
    bit-identical (same fold, same operand order, same NaN/NULL
    handling), for call sites that join/replicate vectors into PAIRS:
    computing ``norm_a``/``norm_b`` once per SIDE row before the join
    turns the per-pair cost from three interpreted HOF folds (dot + two
    norms) into one (dot) — a ~3x per-pair compute cut that grows with
    fan-out (every corpus row scores against every probe/query it
    meets). The norms are pure row expressions of each side, so
    evaluating them pre-join cannot change the value."""
    cos = dot(a, b) / F.nullif(norm_a * norm_b, F.lit(0.0))
    return F.when(~F.isnan(cos), cos)


def normalize(a: Column) -> Column:
    """Unit-normalize an array<float|double> into array<double>; NULL for
    a zero vector or one with NaN/Inf components (0.0/0.0 per component
    would otherwise yield a silently corrupt all-NaN "unit" vector)."""
    n = norm(a)
    # n > 0 rejects zero vectors; n < inf rejects both Inf norms (which
    # would silently normalize to an all-zero "unit" vector) and NaN
    # norms — Spark's total ordering puts NaN above every value
    # including Inf, so NaN > 0 is TRUE but NaN < inf is FALSE
    return F.when(
        (n > 0) & (n < F.lit(float("inf"))),
        F.transform(a, lambda x: x.cast("double") / n),
    )
