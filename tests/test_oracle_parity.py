"""Differential test: every registered query with an oracle must match
DuckDB exactly at sf0.01 (mirrors the driver's CORRECTNESS gate), AND at
sf0.001 — a single scale factor can agree by data-luck when the two
engines' semantics differ only on values absent from that dataset (the
r5 advisory found exactly this: truncation-vs-rounding of fractional
timestamp seconds passed at sf0.01 and diverged at sf0.001/sf0.1).
Running the whole registry at a second SF makes such luck much harder."""

from __future__ import annotations

import pytest

from pucminas_data_pipelines_spark.plans import DRIVER_WINDOW, ORACLES, QUERIES
from tests.conftest import SF_BENCH, SF_ORACLE, SF_SMOKE


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, name):
    from tests.oracle_utils import compare_query

    compare_query(spark, name, QUERIES[name], ORACLES[name], SF_ORACLE)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity_second_sf(spark, name):
    from tests.oracle_utils import compare_query

    compare_query(spark, name, QUERIES[name], ORACLES[name], SF_SMOKE)


@pytest.mark.parametrize("name", sorted(set(DRIVER_WINDOW) & set(ORACLES)))
def test_oracle_parity_window_at_bench_sf(spark, name):
    """The 50 driver-graded queries additionally verify at sf0.1 — the
    bench scale, 10x the driver's compare scale — so every window entry
    is parity-proven at ALL THREE shipped scale factors before the
    driver ever scores it."""
    from tests.oracle_utils import compare_query

    compare_query(spark, name, QUERIES[name], ORACLES[name], SF_BENCH)


def test_every_query_runs_at_smoke_scale(spark):
    """Queries without an oracle still have to run at smoke scale. The
    oracled ones already run (and are compared) at this scale in
    test_oracle_parity_second_sf, so they are not run twice."""
    from tests.conftest import SF_SMOKE

    for name in sorted(set(QUERIES) - set(ORACLES)):
        df = QUERIES[name](spark, SF_SMOKE)
        assert df.count() >= 0, name
