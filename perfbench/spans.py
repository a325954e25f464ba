"""Bench-side spans and the Spark event-log reader behind the per-layer
metrics.

A span records name, start, end and parent in memory. While a span is
open its job tag is set on the session (``spark.addTag``), so every Spark
job started inside it carries the tags of all enclosing spans. After the
run, ``read_event_log`` folds the uncompressed event log into per-span
job, stage, task, byte and SQL-plan counters.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from contextlib import contextmanager

TAG_PREFIX = "pbspan-"
_TAG_RE = re.compile(r"pbspan-(\d+)(?:,|$)")
_JOIN_NODE = re.compile(r"Join|CartesianProduct")
_PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")
_EXCHANGES = {"Exchange", "BroadcastExchange"}


class Tracer:
    """In-memory span recorder. Disabled, ``span`` only times its body."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(sid)
        if self.enabled:
            self.spark.addTag(f"{TAG_PREFIX}{sid}")
        try:
            yield rec
        finally:
            if self.enabled:
                self.spark.removeTag(f"{TAG_PREFIX}{sid}")
            rec["end"] = time.perf_counter()
            self._open.pop()


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def _span_ids(tags: str) -> list[int]:
    return [int(m) for m in _TAG_RE.findall(tags or "")]


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Per-span counters from every event log under ``log_dir``.

    Each job is attributed to every span whose tag it carries, so a
    parent span's counters include its children's. Task metrics follow
    their stage's job; SQL plan counts (exchanges, Python cells, join
    output rows) follow the execution's jobs and use the last adaptive
    plan of each execution.
    """
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh)

    job_spans: dict[int, list[int]] = {}
    stage_job: dict[int, int] = {}
    exec_spans: dict[int, set[int]] = {}
    final_plan: dict[int, dict] = {}
    tasks_by_stage: dict[int, list[dict]] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties", {})
            spans = _span_ids(props.get("spark.job.tags", ""))
            job_spans[e["Job ID"]] = spans
            for sid in e["Stage IDs"]:
                stage_job[sid] = e["Job ID"]
            ex = props.get("spark.sql.execution.id")
            if ex is not None:
                exec_spans.setdefault(int(ex), set()).update(spans)
        elif kind.endswith("SQLExecutionStart"):
            final_plan[e["executionId"]] = e["sparkPlanInfo"]
            exec_spans.setdefault(e["executionId"], set()).update(
                _span_ids(",".join(e.get("jobTags") or []))
            )
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            final_plan[e["executionId"]] = e["sparkPlanInfo"]
        elif kind == "SparkListenerTaskEnd":
            tasks_by_stage.setdefault(e["Stage ID"], []).append(e)

    join_accs: set[int] = set()
    py_sent: set[int] = set()
    py_returned: set[int] = set()
    for e in events:
        info = e.get("sparkPlanInfo")
        if not info:
            continue
        for node in _plan_nodes(info):
            for m in node.get("metrics", []):
                if m["name"] == "number of output rows" and _JOIN_NODE.search(node["nodeName"]):
                    join_accs.add(m["accumulatorId"])
                elif m["name"] == "data sent to Python workers":
                    py_sent.add(m["accumulatorId"])
                elif m["name"] == "data returned from Python workers":
                    py_returned.add(m["accumulatorId"])

    plan_accs = join_accs | py_sent | py_returned
    out: dict[int, dict] = {}

    def acc(sid: int) -> dict:
        return out.setdefault(sid, {
            "jobs": 0, "stages": 0, "tasks": 0, "cpu_s": 0.0, "run_s": 0.0,
            "gc_s": 0.0, "input_bytes": 0, "input_rows": 0, "scan_tasks": 0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "fetch_wait_s": 0.0, "spill_bytes": 0, "output_bytes": 0,
            "join_rows_out": 0, "python_bytes_sent": 0,
            "python_bytes_returned": 0, "exchanges": 0, "python_cells": 0,
            "task_skew": 1.0,
        })

    for spans in job_spans.values():
        for sid in spans:
            acc(sid)["jobs"] += 1
    for stage, tasks in tasks_by_stage.items():
        spans = job_spans.get(stage_job.get(stage, -1), [])
        if not spans:
            continue
        durations = [
            t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"] for t in tasks
        ]
        skew = (
            max(durations) / max(statistics.median(durations), 1)
            if len(durations) > 1 else 1.0
        )
        for sid in spans:
            a = acc(sid)
            a["stages"] += 1
            a["tasks"] += len(tasks)
            a["task_skew"] = max(a["task_skew"], skew)
        for t in tasks:
            m = t.get("Task Metrics") or {}
            inp = m.get("Input Metrics", {})
            sr = m.get("Shuffle Read Metrics", {})
            upd = {
                u["ID"]: int(u.get("Update") or 0)
                for u in t["Task Info"].get("Accumulables", [])
                if u["ID"] in plan_accs
            }
            for sid in spans:
                a = acc(sid)
                a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["run_s"] += m.get("Executor Run Time", 0) / 1e3
                a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                a["input_bytes"] += inp.get("Bytes Read", 0)
                a["input_rows"] += inp.get("Records Read", 0)
                a["scan_tasks"] += 1 if inp.get("Bytes Read", 0) > 0 else 0
                a["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                a["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                a["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                a["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                a["join_rows_out"] += sum(v for k, v in upd.items() if k in join_accs)
                a["python_bytes_sent"] += sum(v for k, v in upd.items() if k in py_sent)
                a["python_bytes_returned"] += sum(v for k, v in upd.items() if k in py_returned)
    for ex, spans in exec_spans.items():
        plan = final_plan.get(ex)
        if plan is None:
            continue
        names = [n["nodeName"] for n in _plan_nodes(plan)]
        n_exchanges = sum(1 for n in names if n in _EXCHANGES)
        n_python = sum(1 for n in names if _PYTHON_NODE.search(n))
        for sid in spans:
            a = acc(sid)
            a["exchanges"] += n_exchanges
            a["python_cells"] += n_python
    return out
