"""Benchmark entry point.

    python3 perfbench/run.py --workload tpch_x8 --seed 1 --seconds 12 --trace 0

Run from the repository root. It generates the workload's inputs from the
seed under a private directory of ``.perfbench_work/``, starts a
``local[4]`` session through the package's ``get_spark``, warms up, runs
the workload as a closed loop for ``--seconds`` seconds, checks every
result and prints two JSON lines: the full per-workload report, then the
result line (end-to-end metrics with ``--trace 0``; per-layer metrics
from a second, traced run with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tpch_x8", "llm_curation", "table_ingest")
GEN_REPEATS = 3

# Metric name -> unit. The gated end-to-end set is the one every workload
# has; the rest of the report lives in the first output line.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_s.p50": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "scan.input_bytes": "bytes",
    "scan.input_rows": "rows",
    "scan.tasks": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.cpu_s": "s",
    "exec.run_s": "s",
    "exec.busy_cores": "cores",
    "exec.task_skew": "ratio",
    "exec.gc_s": "s",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s",
    "spill.bytes": "bytes",
    "plans.call_s": "s",
    "plans.eager_jobs": "count",
    "plans.exchanges": "count",
    "plans.python_cells": "count",
    "join.rows_out": "rows",
    "result.rows": "rows",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "upsert.append_s": "s",
    "upsert.merge_s": "s",
    "upsert.delete_s": "s",
    "upsert.jobs_per_commit": "count",
    "upsert.bytes_written_per_user_byte": "ratio",
    "upsert.optimize_s": "s",
    "upsert.vacuum_s": "s",
    "upsert.maintenance_bytes_rewritten": "bytes",
    "upsert.read_keys_s": "s",
    "upsert.read_where_s": "s",
    "upsert.read_version_s": "s",
    "upsert.version_diff_s": "s",
    "upsert.files_planned_per_read": "count",
    "upsert.max_dirs_per_bucket": "count",
    "upsert.live_files": "count",
    "upsert.manifest_bytes": "bytes",
    "trace.overhead_pass_s": "s",
    "trace.overhead_op_p50_s": "s",
    "host.steal_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full",
                   help="input size; 'smoke' is the self-tests' small inputs")
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every temporary file of this process, the JVM and the Python
    workers under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": "4",
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "TZ": "UTC",
    })
    time.tzset()
    tempfile.tempdir = tmp


def start_session(work: str, event_log: str | None = None):
    from pucminas_data_pipelines_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            # the host has no zstd decoder for Spark's default codec
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def steal_seconds() -> float:
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _proc_stats() -> dict[int, list[str]]:
    """The fields after the command name of /proc/<pid>/stat, per pid."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stats[int(name)] = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                pass
    return stats


def _tree(stats: dict[int, list[str]]) -> list[int]:
    """This process and its live descendants: the Spark JVM and its
    Python daemon and workers."""
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_seconds() -> float:
    """User + system CPU seconds of this process and its descendants."""
    stats = _proc_stats()
    ticks = sum(int(stats[p][11]) + int(stats[p][12]) for p in _tree(stats) if p in stats)
    return ticks / os.sysconf("SC_CLK_TCK")


def stop_jvm(timeout: float = 60.0) -> None:
    """End the Spark JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    others = [p for p in _tree(_proc_stats()) if p != os.getpid()]
    SparkContext._gateway = SparkContext._jvm = None
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.monotonic() + timeout
    while any(os.path.exists(f"/proc/{p}") for p in others) and time.monotonic() < deadline:
        time.sleep(0.1)


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) of the highest percentile that has at least
    ten samples beyond it. Below 21 samples that percentile would sit
    under the median, so the maximum is reported instead."""
    s = sorted(values)
    n = len(s)
    i = n - 11 if n >= 21 else n - 1
    return s[i], round(100.0 * (i + 1) / n, 1), n


def latency_stats(prefix: str, lats: list[float], out: dict) -> None:
    if not lats:
        return
    value, pct, n = tail(lats)
    out[f"{prefix}.p50"] = (statistics.median(lats), "s")
    out[f"{prefix}.tail"] = (value, "s")
    out[f"{prefix}.tail_percentile"] = (pct, "%")
    out[f"{prefix}.samples"] = (n, "count")


def end_to_end(wl, ops: list[dict]) -> dict:
    """Every end-to-end metric the workload has, as name -> (value, unit)."""
    from workloads import CYCLE, MAINTENANCE, READ_OPS, WRITE_OPS

    done = [o for o in ops if o["ok"]]
    lats = [o["latency_s"] for o in done]
    out = {}
    latency_stats("op_s", lats, out)
    if wl.name == "table_ingest":
        latency_stats("commit_s", [o["latency_s"] for o in done if o["kind"] in WRITE_OPS], out)
        latency_stats("read_s", [o["latency_s"] for o in done if o["kind"] in READ_OPS], out)
        by_kind: dict[str, list[float]] = {}
        for o in done:
            by_kind.setdefault(o["kind"], []).append(o["latency_s"])
        # one cycle's time, from each op type's median latency
        pass_s = sum(statistics.median(by_kind[k]) for k in CYCLE + MAINTENANCE if k in by_kind)
    else:
        latency_stats("query_s", lats, out)
        totals: dict[int, float] = {}
        for o in ops:
            totals[o["pass"]] = totals.get(o["pass"], 0.0) + o["latency_s"]
        pass_s = statistics.median(totals.values())
    out["pass_s"] = (pass_s, "s")
    out["ops_per_s"] = (len(done) / sum(lats) if lats else 0.0, "1/s")
    out["fail_ratio"] = ((len(ops) - len(done)) / len(ops), "ratio")
    return out


def per_layer(wl, ops: list[dict], spans: list[dict], counters: dict) -> dict:
    """Per-layer metrics of a traced round (one pass or one op cycle):
    counts and busy times as totals, op-type latencies and per-op ratios
    as medians."""
    from workloads import READ_OPS, WRITE_OPS

    roots = [counters.get(o["span"], {}) for o in ops]

    def total(key: str) -> float:
        return sum(c.get(key, 0) for c in roots)

    def med(values) -> float:
        values = list(values)
        return statistics.median(values) if values else 0.0

    calls = [s for s in spans if s["name"] == "plans.call"]
    wall = sum(o["latency_s"] for o in ops)
    out = {
        "scan.input_bytes": total("input_bytes"),
        "scan.input_rows": total("input_rows"),
        "scan.tasks": total("scan_tasks"),
        "exec.jobs": total("jobs"),
        "exec.stages": total("stages"),
        "exec.tasks": total("tasks"),
        "exec.cpu_s": total("cpu_s"),
        "exec.run_s": total("run_s"),
        "exec.busy_cores": sum(c.get("run_s", 0) for c in roots) / wall if wall else 0.0,
        "exec.task_skew": med(c.get("task_skew", 1.0) for c in roots),
        "exec.gc_s": total("gc_s"),
        "shuffle.write_bytes": total("shuffle_write_bytes"),
        "shuffle.read_bytes": total("shuffle_read_bytes"),
        "shuffle.fetch_wait_s": total("fetch_wait_s"),
        "spill.bytes": total("spill_bytes"),
        "plans.call_s": sum(s["end"] - s["start"] for s in calls),
        "plans.eager_jobs": sum(counters.get(s["id"], {}).get("jobs", 0) for s in calls),
        "plans.exchanges": total("exchanges"),
        "plans.python_cells": total("python_cells"),
        "join.rows_out": total("join_rows_out"),
        "result.rows": sum(o.get("rows", 0) for o in ops),
        "python.bytes_sent": total("python_bytes_sent"),
        "python.bytes_returned": total("python_bytes_returned"),
    }
    for k in WRITE_OPS + READ_OPS:
        out[f"upsert.{k}_s"] = med(o["latency_s"] for o in ops if o["kind"] == k and o["ok"])
    commits = [o for o in ops if o["kind"] in ("append", "merge", "delete")]
    user = sum(o.get("user_bytes", 0) for o in commits)
    out["upsert.jobs_per_commit"] = med(counters.get(o["span"], {}).get("jobs", 0) for o in commits)
    out["upsert.bytes_written_per_user_byte"] = (
        sum(counters.get(o["span"], {}).get("output_bytes", 0) for o in commits) / user
        if user else 0.0
    )
    out["upsert.maintenance_bytes_rewritten"] = med(
        counters.get(o["span"], {}).get("output_bytes", 0) for o in ops if o["kind"] == "optimize"
    )
    out["upsert.files_planned_per_read"] = med(
        o["files"] for o in ops if o["kind"] in READ_OPS and "files" in o
    )
    space = wl.space() if wl.name == "table_ingest" else {}
    for k in ("max_dirs_per_bucket", "live_files", "manifest_bytes"):
        out[f"upsert.{k}"] = space.get(k, 0)
    return out


def describe_inputs(wl, spark, ops: list[dict]) -> tuple[int, dict]:
    """Bytes of generated input, and what the run touched: files Spark
    plans per table (query workloads) or ops run per kind (table_ingest)."""
    from pucminas_data_pipelines_spark.tables import load_table

    size = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(wl.data_dir) for f in fs
    )
    if wl.name == "table_ingest":
        kinds: dict[str, int] = {}
        for o in ops:
            kinds[o["kind"]] = kinds.get(o["kind"], 0) + 1
        return size, {"ops_by_kind": kinds}
    tables = sorted(f[: -len(".parquet")] for f in os.listdir(wl.data_dir))
    return size, {
        "files_per_table": {
            t: len(load_table(spark, wl.data_dir, t).inputFiles()) for t in tables
        }
    }


def _metric(v):
    return {"value": v[0], "unit": v[1]} if isinstance(v, tuple) else v


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def measure(wl, spark, tracer, seconds: float) -> tuple[list[dict], float, float]:
    """Run the loop; return its ops, host steal seconds and the CPU
    seconds the Spark JVM, its Python workers and this process used."""
    s0, c0 = steal_seconds(), tree_cpu_seconds()
    ops = wl.run(spark, tracer, seconds)
    return ops, steal_seconds() - s0, tree_cpu_seconds() - c0


def wrong_results(wl, spark, ops, oracle: bool = True) -> int:
    """Wrong results among ``ops``; ``oracle`` also checks each query's
    first result against its reference."""
    if wl.name == "table_ingest":
        return wl.check(spark)
    return (wl.check() if oracle else 0) + sum(1 for o in ops if o.get("wrong"))


def peak_rss_mb(spark) -> float:
    return vm_hwm_mb(jvm_pid(spark)) + vm_hwm_mb("self")


def trace_breakdown(ops: list[dict], spans: list[dict], counters: dict) -> dict:
    """Per op kind: op count, summed latency and summed event-log counters;
    plus the spans themselves."""
    by_kind: dict[str, dict] = {}
    for o in ops:
        k = by_kind.setdefault(o["kind"], {"ops": 0, "latency_s": 0.0})
        k["ops"] += 1
        k["latency_s"] += o["latency_s"]
        for name, v in counters.get(o["span"], {}).items():
            if name != "task_skew":
                k[name] = k.get(name, 0) + v
    t0 = spans[0]["start"] if spans else 0.0
    return {
        "per_kind": by_kind,
        "span_fields": ["id", "parent", "name", "kind", "start_s", "end_s"],
        "spans": [
            [s["id"], s["parent"], s["name"], s.get("kind"), s["start"] - t0, s["end"] - t0]
            for s in spans
        ],
    }


def run(args, work: str) -> tuple[dict, dict]:
    import datagen
    from spans import Tracer, read_event_log
    from workloads import QueryWorkload, TableIngest

    if args.workload == "table_ingest":
        wl = TableIngest(args.seed, work, args.size)
    else:
        wl = QueryWorkload(args.workload, args.seed, work, args.size)

    t = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t
    gen_s, digests = [], set()
    for _ in range(GEN_REPEATS):
        shutil.rmtree(wl.data_dir, ignore_errors=True)
        t = time.perf_counter()
        wl.generate_inputs()
        gen_s.append(time.perf_counter() - t)
        digests.add(datagen.tree_digest(wl.data_dir))
    t = time.perf_counter()
    wl.warm_up(spark)
    warm_s = time.perf_counter() - t
    setup_s = session_s + statistics.median(gen_s) + warm_s

    # A traced run measures one whole round in each phase, so its
    # per-layer counts cover the same ops on every run of a seed.
    seconds = 0 if args.trace else args.seconds
    ops, steal, cpu = measure(wl, spark, Tracer(), seconds)
    t = time.perf_counter()
    wrong = wrong_results(wl, spark, ops)
    check_s = time.perf_counter() - t
    e2e = end_to_end(wl, ops)
    e2e["setup_s"] = (setup_s, "s")
    e2e["setup.session_s"] = (session_s, "s")
    e2e["setup.generate_s"] = (statistics.median(gen_s), "s")
    e2e["setup.warmup_s"] = (warm_s, "s")
    e2e["check_s"] = (check_s, "s")
    e2e["wrong_results"] = (wrong, "count")
    e2e["steal_s"] = (steal, "s")
    e2e["cpu_s"] = (cpu, "s")
    if wl.name == "table_ingest":
        e2e["space_amp"] = (wl.space()["space_amp"], "ratio")
    attempted, failed = len(ops), sum(1 for o in ops if not o["ok"])
    input_bytes, layout = describe_inputs(wl, spark, ops)

    layers = None
    trace = None
    if args.trace:
        spark.stop()
        log_dir = os.path.join(work, "eventlog")
        spark = start_session(work, event_log=log_dir)
        wl.warm_up(spark)
        tracer = Tracer(spark, enabled=True)
        t_ops, t_steal, _ = measure(wl, spark, tracer, seconds)
        wrong += wrong_results(wl, spark, t_ops, oracle=False)
        traced = end_to_end(wl, t_ops)
        rss = peak_rss_mb(spark)
        spark.stop()
        counters = read_event_log(log_dir)
        raw = per_layer(wl, t_ops, tracer.spans, counters)
        raw.update({
            "session.start_s": session_s,
            "session.warmup_s": warm_s,
            "trace.overhead_pass_s": traced["pass_s"][0] - e2e["pass_s"][0],
            "trace.overhead_op_p50_s": traced["op_s.p50"][0] - e2e["op_s.p50"][0],
            "host.steal_s": t_steal,
        })
        layers = {k: (raw[k], u) for k, u in PER_LAYER.items()}
        e2e["traced"] = {k: _metric(v) for k, v in traced.items()}
        trace = trace_breakdown(t_ops, tracer.spans, counters)
        attempted += len(t_ops)
        failed += sum(1 for o in t_ops if not o["ok"])
    else:
        rss = peak_rss_mb(spark)
        spark.stop()
    e2e["peak_rss_mb"] = (rss, "MB")
    e2e["wrong_results"] = (wrong, "count")
    report = {
        "workload": wl.name,
        "seed": args.seed,
        "correct": wrong == 0 and len(digests) == 1,
        "attempted": attempted,
        "failed": failed,
        "deterministic_inputs": len(digests) == 1,
        "input_bytes": input_bytes,
        "layout": layout,
        "ops": [[o["kind"], o["latency_s"], o["ok"]] for o in ops],
        "metrics": {k: _metric(v) for k, v in e2e.items()},
    }
    if trace:
        report["per_layer"] = {k: _metric(v) for k, v in layers.items()}
        report["trace"] = trace
    chosen = layers if args.trace else {k: e2e[k] for k in END_TO_END}
    result = {
        "correct": report["correct"],
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: _metric(v) for k, v in chosen.items()},
    }
    return report, result


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "pucminas_data_pipelines_spark")):
        print(f"perfbench: package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    try:
        isolate(work)
        report, result = run(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
