"""bench.py contract guards: the frozen headline list must stay resolvable
against the registry (a rename there would silently drop the longitudinal
perf signal), and the registry must keep the driver window as its prefix."""

from __future__ import annotations

import os

import bench
from pucminas_data_pipelines_spark import plans


def test_headline_queries_all_registered():
    missing = [n for n in bench.HEADLINE if n not in plans.QUERIES]
    assert not missing, f"headline names missing from registry: {missing}"


def test_driver_window_is_registry_prefix():
    assert list(plans.QUERIES)[: len(plans.DRIVER_WINDOW)] == plans.DRIVER_WINDOW
    assert len(plans.DRIVER_WINDOW) == 50
    # rows-only queries must stay out of the scored window
    assert all(n in plans.ORACLES for n in plans.DRIVER_WINDOW)


def test_every_registered_query_documented_in_coverage():
    """COVERAGE.md is the judge's line-by-line inventory — every registered
    query name must appear in it (individually or inside a family row)."""
    from pucminas_data_pipelines_spark import plans

    cov = open(
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "COVERAGE.md")
    ).read()
    missing = [n for n in plans.QUERIES if n not in cov]
    assert not missing, f"queries missing from COVERAGE.md: {missing}"


def _record_dicts():
    """The string-keyed dict literals of bench.main, by metric name."""
    import ast
    import inspect

    out = {}
    for node in ast.walk(ast.parse(inspect.getsource(bench.main))):
        if isinstance(node, ast.Dict):
            keys = [
                k.value
                for k in node.keys
                if isinstance(k, ast.Constant) and isinstance(k.value, str)
            ]
            if "metric" in keys:
                for k, v in zip(node.keys, node.values):
                    if (
                        isinstance(k, ast.Constant)
                        and k.value == "metric"
                        and isinstance(v, ast.Constant)
                    ):
                        out[v.value] = keys
    return out


def test_bench_record_split_keeps_all_attribution_fields():
    """The r8-r10 noise-attribution fields must survive the r11 record
    split (VERDICT r10 #2): the primary line keeps the longitudinal
    essentials; every per-query attribution map lives in
    BENCH_DETAIL.json. Nothing may be silently dropped."""
    records = _record_dicts()
    primary = set(records["headline_queries_total"])
    detail = set(records["headline_queries_detail"])
    required_primary = {
        "metric", "value", "unit", "queries", "sf", "detail",
        "calibration_ratio", "calibration_ratio_end", "noisy_host",
        "total_steal_sec", "registry_sweep_sec",
        "registry_sweep_queries", "registry_sweep_failed",
        "noise_flagged",
        # VERDICT r11 #6: quiet-host protocol in the primary record —
        # per steal-touched headline name, the best steal-free attempt
        "quiet_queries", "quiet_dropped",
    }
    required_detail = {
        "calibration_sec", "noise_ratio_per_query",
        "registry_sweep_slowest", "registry_sweep_slowest_offsets",
        "registry_sweep_slowest_steal_sec", "registry_sweep_slowest_cold",
        "registry_sweep_probes", "headline_steal_sec",
        "headline_steal_min_attempt_sec", "registry_sweep_times",
        "quiet_queries_all",
    }
    assert not required_primary - primary, sorted(required_primary - primary)
    assert not required_detail - detail, sorted(required_detail - detail)


def test_bench_emits_longitudinal_fields_last():
    """The driver archives only the TAIL of bench's single JSON line
    (r7/r8 both truncated); the longitudinal fields must be the final
    keys of the primary record — queries, then value — so even a
    truncated tail still carries the per-query headline timings and the
    headline total."""
    record = _record_dicts()["headline_queries_total"]
    assert record[-2:] == ["queries", "value"], (
        f"longitudinal fields must close the record; got tail {record[-2:]}"
    )


def test_bench_primary_line_fits_driver_window():
    """The driver keeps the last ~2000 chars of stdout and parses the
    final JSON line whole; BENCH_r01-r10 all recorded parsed=null
    because the line outgrew that window. Build the primary record with
    worst-case representative values for the CURRENT headline list and
    assert the serialized line leaves headroom."""
    import json

    queries = {n: 123.4567 for n in bench.HEADLINE}
    record = {
        "metric": "headline_queries_total",
        "unit": "sec",
        "sf": 0.1,
        "detail": "BENCH_DETAIL.json",
        "calibration_ratio": 12.34,
        "calibration_ratio_end": 12.34,
        "noisy_host": True,
        "total_steal_sec": 1234.5,
        "registry_sweep_sec": 12345.6,
        "registry_sweep_queries": 999,
        "registry_sweep_failed": [],
        "noise_flagged": {n: 12.34 for n in list(bench.HEADLINE)[:5]},
        # worst case bench.py can emit: the quiet map is hard-capped at
        # 10 entries (overflow goes to quiet_dropped + BENCH_DETAIL)
        "quiet_queries": {n: 123.4567 for n in list(bench.HEADLINE)[:10]},
        "quiet_dropped": 18,
        "queries": queries,
        "value": 12345.6789,
    }
    line = json.dumps(record, separators=(",", ":"))
    assert len(line) < 1800, (
        f"primary bench line is {len(line)} chars; trim fields or move "
        "more maps to BENCH_DETAIL.json before the driver window "
        "truncates it again"
    )


def test_steal_counter_reads():
    """_steal_sec must return a non-negative float on this platform and
    be monotone across two reads (cumulative counter)."""
    a = bench._steal_sec()
    b = bench._steal_sec()
    assert isinstance(a, float) and a >= 0.0
    assert b >= a
