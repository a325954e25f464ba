"""Self-tests of the benchmark: seeded inputs are deterministic, every
declared metric is emitted with its unit, and a short run of each
workload on its small inputs exercises the layer it is there for.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import datagen  # noqa: E402
import run  # noqa: E402
from oracle import TableModel  # noqa: E402
from workloads import QueryWorkload, TableIngest  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCHMARK = json.load(fh)


def _inputs_digest(workload: str, seed: int, work: str) -> str:
    if workload == "table_ingest":
        wl = TableIngest(seed, work, size="smoke")
    else:
        wl = QueryWorkload(workload, seed, work, size="smoke")
    wl.generate_inputs()
    return datagen.tree_digest(wl.data_dir)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_generator_is_deterministic_per_seed(workload, tmp_path):
    a = _inputs_digest(workload, 7, str(tmp_path / "a"))
    b = _inputs_digest(workload, 7, str(tmp_path / "b"))
    c = _inputs_digest(workload, 8, str(tmp_path / "c"))
    assert a == b
    assert a != c


def test_upscaled_copies_do_not_tie_on_prices():
    orders = datagen.orders_table(3, 0.001)
    copies = [
        datagen.upscaled_copy(orders, 3, "orders", k, {"o_orderkey": orders.num_rows},
                              ["o_totalprice"])
        for k in range(3)
    ]
    keys = [c.column("o_orderkey").to_pylist() for c in copies]
    assert keys[1][0] == keys[0][0] + orders.num_rows
    prices = [c.column("o_totalprice").to_pylist() for c in copies]
    assert sum(p0 != p1 for p0, p1 in zip(prices[0], prices[1])) > 0.9 * orders.num_rows
    # whole cents, so the oracles' decimal sums stay exact
    assert all(abs(p * 100 - round(p * 100)) < 1e-6 for p in prices[1])


def test_declared_metrics_match_the_emitter():
    e2e = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    assert "setup_s" in e2e
    assert {w["name"] for w in BENCHMARK["workloads"]} <= set(run.WORKLOADS)


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    values = [float(i) for i in range(1, 41)]
    value, pct, n = run.tail(values)
    assert (value, pct, n) == (30.0, 75.0, 40)
    assert sum(v > value for v in values) == 10
    assert run.tail([1.0, 5.0, 3.0]) == (5.0, 100.0, 3)


def test_table_model_diff_pairs_updates():
    old = {1: ("a",), 2: ("b",), 3: ("c",)}
    new = {1: ("a",), 2: ("B",), 4: ("d",)}
    assert TableModel.diff(old, new) == {
        "insert": (1, 4),
        "update_preimage": (1, 2),
        "update_postimage": (1, 2),
        "delete": (1, 3),
    }


def _smoke(workload: str) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", "1", "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[0]), json.loads(lines[-1])


def _check_emitted(report: dict, result: dict) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    for m in BENCHMARK["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    assert set(result["metrics"]) == set(run.PER_LAYER)
    for m in BENCHMARK["end_to_end"]:
        assert report["metrics"][m["name"]]["unit"] == m["unit"]
        assert report["metrics"][m["name"]]["value"] > 0
    assert report["metrics"]["wrong_results"]["value"] == 0
    assert report["metrics"]["fail_ratio"]["value"] == 0


def test_smoke_tpch_scans_several_files_per_fact_table():
    report, result = _smoke("tpch_x8")
    _check_emitted(report, result)
    files = report["layout"]["files_per_table"]
    for table in ("orders", "lineitem", "events"):
        assert files[table] > 1, files
    assert result["metrics"]["scan.tasks"]["value"] > len(report["trace"]["per_kind"])


def test_smoke_llm_records_python_cells():
    report, result = _smoke("llm_curation")
    _check_emitted(report, result)
    assert result["metrics"]["plans.python_cells"]["value"] > 0
    assert result["metrics"]["python.bytes_sent"]["value"] > 0
    assert result["metrics"]["join.rows_out"]["value"] > 0


def test_smoke_table_ingest_commits_every_write_type():
    report, result = _smoke("table_ingest")
    _check_emitted(report, result)
    kinds = report["layout"]["ops_by_kind"]
    for kind in ("append", "merge", "delete", "optimize", "vacuum"):
        assert kinds.get(kind, 0) >= 1, kinds
    assert result["metrics"]["upsert.jobs_per_commit"]["value"] > 0
    assert report["metrics"]["space_amp"]["value"] >= 1


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tpch_x8", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
