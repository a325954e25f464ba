"""The three benchmark workloads: two query lists run in passes and one
versioned table fed a seeded stream of writes, reads and maintenance.

Every workload is a closed loop: one client thread issues an operation,
waits for its forced result, checks it outside the timed region, then
issues the next. Each operation is a span; its latency is the span's
duration.
"""

from __future__ import annotations

import os
import shutil
import time
from datetime import datetime, timedelta

import numpy as np
from pyspark.sql import functions as F

import datagen as G
import oracle as O
from spans import Tracer

TPCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q10_returned_items",
    "q18_large_orders",
    "q21_sole_blamed_supplier",
    "window_topk_orders_per_customer",
    "events_tumbling_window",
    "stats_equidepth_histogram",
]
LLM_QUERIES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_minhash_clusters",
    "dedup_substring_spans",
    "dedup_prefix_filter_join",
    "knn_cosine_topk",
    "ann_ivf_topk",
    "text_bm25_rank",
    "embedding_kmeans_lloyd",
]
NEAR_DUP_SHARE = 0.1

# Input sizes: "full" for measurement, "smoke" for the self-tests.
SIZES = {
    "tpch_x8": {"full": {"sf": 0.01, "copies": 8}, "smoke": {"sf": 0.001, "copies": 2}},
    "llm_curation": {"full": {"docs": 1000, "vecs": 1000}, "smoke": {"docs": 200, "vecs": 100}},
    "table_ingest": {"full": {"rows": 40_000}, "smoke": {"rows": 2_000}},
}

WRITE_OPS = ("append", "merge", "delete", "optimize", "vacuum")
READ_OPS = ("read_keys", "read_where", "read_version", "version_diff")
# One cycle: 8 commits and 5 reads in a seeded order, then optimize and
# vacuum. Shares of the 13: append 38%, merge 15%, delete 8%, read_keys
# 15%, read_where, read_version and version_diff 8% each.
CYCLE = (
    ["append"] * 5 + ["merge"] * 2 + ["delete"]
    + ["read_keys"] * 2 + ["read_where", "read_version", "version_diff"]
)
MAINTENANCE = ["optimize", "vacuum"]
APPEND_ROWS = 2_000
MERGE_UPDATES = MERGE_INSERTS = 100
RETAIN_LAST = 6
DIFF_SPAN = 3


def run_rounds(round_fn, seconds: float) -> list[dict]:
    """Whole rounds (passes or cycles) until ``seconds`` have elapsed; at
    least one. Warm-up calls it with 0 for exactly one round."""
    ops: list[dict] = []
    t0 = time.perf_counter()
    while not ops or time.perf_counter() - t0 < seconds:
        ops.extend(round_fn())
    return ops


class QueryWorkload:
    """A registered-query list run in passes, each in a seeded order. The
    first pass of a session is the untimed warm-up: on these inputs the
    JIT is still compiling through the first pass over the real data."""

    def __init__(self, name: str, seed: int, work: str, size: str = "full"):
        self.name = name
        self.seed = seed
        self.work = work
        self.names = TPCH_QUERIES if name == "tpch_x8" else LLM_QUERIES
        self.data_dir = os.path.join(work, "data")
        self.size = size
        self.vectors = None
        self.results: dict[str, tuple] = {}
        self.passes = 0

    def generate_inputs(self) -> None:
        s, size, out = self.seed, SIZES[self.name][self.size], self.data_dir
        if self.name == "tpch_x8":
            sf, copies = size["sf"], size["copies"]
            for name, table in G.dimension_tables(s, sf).items():
                G.write_table(table, os.path.join(out, f"{name}.parquet"))
            orders = G.orders_table(s, sf)
            n = orders.num_rows
            G.write_copies(orders, out, "orders", s, copies,
                           {"o_orderkey": n}, ["o_totalprice"])
            G.write_copies(G.lineitem_table(s, sf), out, "lineitem", s, copies,
                           {"l_orderkey": n}, ["l_extendedprice"])
            events = G.events_table(s, int(1_000_000 * sf))
            G.write_copies(events, out, "events", s, copies,
                           {"event_id": events.num_rows}, ["value"])
        else:
            G.write_table(G.documents_table(s, size["docs"], NEAR_DUP_SHARE),
                          os.path.join(out, "documents.parquet"))
            emb = G.embeddings_table(s, size["vecs"], NEAR_DUP_SHARE)
            G.write_table(emb, os.path.join(out, "embeddings.parquet"))
            flat = emb.column("embedding").combine_chunks().flatten().to_numpy()
            self.vectors = flat.reshape(emb.num_rows, -1).astype(np.float64)

    def warm_up(self, spark) -> None:
        self.passes = 0
        self.run(spark, Tracer(), 0)

    def run(self, spark, tracer, seconds: float) -> list[dict]:
        return run_rounds(lambda: self._pass(spark, tracer), seconds)

    def _pass(self, spark, tracer) -> list[dict]:
        from pucminas_data_pipelines_spark.plans import QUERIES

        ops = []
        p = self.passes
        self.passes += 1
        for q in G.rng_for(self.seed, "pass", p).permutation(self.names):
            q = str(q)
            op = {"kind": q, "pass": p, "ok": False}
            with tracer.span("op", kind=q) as sp:
                try:
                    with tracer.span("plans.call"):
                        df = QUERIES[q](spark, self.data_dir)
                    with tracer.span("exec.force"):
                        rows = df.collect()
                    op["ok"] = True
                except Exception as exc:  # counted in fail_ratio
                    op["error"] = repr(exc)[:300]
            op["span"] = sp["id"]
            op["latency_s"] = sp["end"] - sp["start"]
            if op["ok"]:
                op["rows"] = len(rows)
                self._record(q, rows, df.columns, op)
            ops.append(op)
        return ops

    def _record(self, q: str, rows, columns, op: dict) -> None:
        """Keep each query's first result; later passes must equal it."""
        if q == "ann_ivf_topk":
            result = ("ann", O.ann_recall_ok(rows, O.exact_topk(self.vectors)))
        else:
            result = O.canonical(rows, columns)
        first = self.results.setdefault(q, result)
        op["wrong"] = result != first

    def check(self) -> int:
        """Number of queries whose result differs from its reference."""
        con = O.duckdb_views(self.data_dir, os.path.join(self.work, "duckdb"))
        from pucminas_data_pipelines_spark.plans import ORACLES

        wrong = 0
        try:
            for q, result in self.results.items():
                if q == "ann_ivf_topk":
                    wrong += 0 if result[1] else 1
                else:
                    wrong += 0 if O.oracle_result(con, ORACLES[q]) == result else 1
        finally:
            con.close()
        return wrong


def _dt(us: int) -> datetime:
    return G.EPOCH + timedelta(microseconds=int(us))


def _model_rows(table) -> dict[int, tuple]:
    cols = table.to_pydict()
    ts = table.column("o_orderdate").cast("int64").to_pylist()
    return {
        k: (c, s, round(p * 100), d, pr)
        for k, c, s, p, d, pr in zip(
            cols["o_orderkey"], cols["o_custkey"], cols["o_orderstatus"],
            cols["o_totalprice"], ts, cols["o_orderpriority"],
        )
    }


def _model_projection(df):
    """Rows as the model stores them: key, then ``_model_rows``' tuple."""
    return df.select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long"),
        F.unix_micros("o_orderdate"), "o_orderpriority",
    )


def digest_df(df):
    """(rows, key sum, price cents sum, order-date seconds sum, crc sum),
    matching ``TableModel.digest``."""
    row = df.agg(
        F.count(F.lit(1)),
        F.sum("o_orderkey"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
        F.sum(F.unix_seconds("o_orderdate")),
        F.sum(F.crc32(F.concat_ws(
            "|", "o_orderstatus", "o_orderpriority", F.col("o_custkey").cast("string")
        ))),
    ).collect()[0]
    return tuple(int(v or 0) for v in row)


class TableIngest:
    """One ManifestVersionedTable keyed on o_orderkey, overwritten from a
    seeded orders table, then fed CYCLE in a seeded order per cycle, with
    MAINTENANCE closing each cycle."""

    def __init__(self, seed: int, work: str, size: str = "full"):
        self.name = "table_ingest"
        self.data_dir = os.path.join(work, "base")
        self.seed = seed
        self.work = work
        self.size = size
        self.batch_dir = os.path.join(work, "batches")
        self.root = os.path.join(work, "table")
        self.wrong = 0
        self.base = None

    def generate_inputs(self) -> None:
        rows = SIZES["table_ingest"][self.size]["rows"]
        self.base = G.orders_table(self.seed, 0.1, n=rows, stream="ingest-base")
        G.write_table(self.base, os.path.join(self.work, "base", "orders.parquet"))

    def warm_up(self, spark) -> None:
        """Overwrite the table from the base orders, then run the first
        cycle untimed: ops keep getting faster through it as the JIT
        compiles. The model replays it like any other cycle."""
        from pucminas_data_pipelines_spark.operators.upsert import ManifestVersionedTable
        from pucminas_data_pipelines_spark.tables import load_table

        shutil.rmtree(self.root, ignore_errors=True)
        shutil.rmtree(self.batch_dir, ignore_errors=True)
        self.table = ManifestVersionedTable(spark, self.root, key="o_orderkey")
        self.model = O.TableModel()
        self.model.upsert(_model_rows(self.base))
        self.next_key = self.base.num_rows
        self.appended_days = 0
        self.cycles = 0
        self.model.commit(self.table.overwrite(
            load_table(spark, os.path.join(self.work, "base"), "orders")
        ))
        self.run(spark, Tracer(), 0)

    def run(self, spark, tracer, seconds: float) -> list[dict]:
        return run_rounds(lambda: self._cycle(spark, tracer), seconds)

    def _cycle(self, spark, tracer) -> list[dict]:
        c = self.cycles
        self.cycles += 1
        kinds = [str(k) for k in G.rng_for(self.seed, "cycle", c).permutation(CYCLE)]
        return [
            self.run_op(spark, tracer, kind, (c, i))
            for i, kind in enumerate(kinds + MAINTENANCE)
        ]

    # -- operations ------------------------------------------------------
    def _write_batch(self, rows_table, tag) -> dict:
        d = os.path.join(self.batch_dir, "-".join(map(str, tag)))
        path = os.path.join(d, "orders.parquet")
        G.write_table(rows_table, path)
        return {"dir": d, "user_bytes": os.path.getsize(path), "rows": _model_rows(rows_table)}

    def _prepare(self, kind: str, tag) -> dict:
        """Inputs of one op, made before its timer starts."""
        r = G.rng_for(self.seed, "op", *tag)
        m = self.model
        if kind == "append":
            day = G.ORDER_DAYS + self.appended_days
            self.appended_days += 7
            t = G.orders_table(self.seed, 0.1, key0=self.next_key, n=APPEND_ROWS,
                               day_lo=day, day_hi=day + 7, stream="append")
            self.next_key += APPEND_ROWS
            return self._write_batch(t, tag)
        if kind == "merge":
            live = np.fromiter(m.rows.keys(), np.int64)
            upd = r.choice(live, MERGE_UPDATES, replace=False)
            t = G.orders_table(self.seed, 0.1, key0=self.next_key,
                               n=MERGE_UPDATES + MERGE_INSERTS, stream="merge")
            keys = np.concatenate([upd, np.arange(self.next_key, self.next_key + MERGE_INSERTS)])
            self.next_key += MERGE_INSERTS
            t = t.set_column(0, "o_orderkey", G.pa.array(keys, G.pa.int64()))
            return self._write_batch(t, tag)
        if kind == "delete":
            lo = (G.ORDER_DAY0 + int(r.integers(0, G.ORDER_DAYS - 3))) * G.DAY_US
            return {"lo": lo, "hi": lo + 3 * G.DAY_US}
        if kind == "read_keys":
            live = np.fromiter(m.rows.keys(), np.int64)
            keys = r.choice(live, 8, replace=False).tolist() + [
                int(self.next_key + 10_000_000 + r.integers(0, 1000)), -1,
            ]
            return {"keys": [int(k) for k in keys]}
        if kind == "read_where":
            span = G.ORDER_DAYS + self.appended_days - 30
            lo = (G.ORDER_DAY0 + int(r.integers(0, span))) * G.DAY_US
            return {"lo": lo, "hi": lo + 30 * G.DAY_US - 1}
        if kind == "read_version":
            versions = sorted(m.versions)
            return {"version": int(versions[r.integers(0, len(versions))])}
        if kind == "version_diff":
            versions = sorted(m.versions)
            return {"from": versions[max(0, len(versions) - 1 - DIFF_SPAN)], "to": versions[-1]}
        return {}

    def run_op(self, spark, tracer, kind: str, tag) -> dict:
        """One timed op: the table call, then for a read the action that
        forces its result; both are child spans of the op's span."""
        args = self._prepare(kind, tag)
        op = {"kind": kind, "ok": False, "user_bytes": args.get("user_bytes", 0)}
        with tracer.span("op", kind=kind) as sp:
            try:
                with tracer.span("upsert.call"):
                    out = self._call(spark, kind, args)
                if kind in READ_OPS:
                    df = out
                    with tracer.span("exec.force"):
                        out = self._force(kind, df)
                op["ok"] = True
            except Exception as exc:  # counted in fail_ratio
                op["error"] = repr(exc)[:300]
        op["span"] = sp["id"]
        op["latency_s"] = sp["end"] - sp["start"]
        if op["ok"]:
            if kind in READ_OPS:
                op["files"] = len(df.inputFiles())
            op["wrong"] = not self._apply_and_check(kind, args, out)
            self.wrong += op["wrong"]
        return op

    def _call(self, spark, kind: str, args: dict):
        """The table's public call: a version (writes), the removed versions
        (vacuum) or a lazy DataFrame (reads)."""
        from pucminas_data_pipelines_spark.operators.upsert import version_diff
        from pucminas_data_pipelines_spark.tables import load_table

        t = self.table
        if kind == "append":
            return t.append(load_table(spark, args["dir"], "orders"))
        if kind == "merge":
            return t.merge(load_table(spark, args["dir"], "orders"))
        if kind == "delete":
            date = F.col("o_orderdate")
            return t.delete_where(
                (date >= F.timestamp_micros(F.lit(args["lo"])))
                & (date < F.timestamp_micros(F.lit(args["hi"])))
            )
        if kind == "optimize":
            return t.optimize()
        if kind == "vacuum":
            return t.vacuum(retain_last=RETAIN_LAST)
        if kind == "read_keys":
            return t.read_keys(args["keys"])
        if kind == "read_where":
            return t.read_where([("o_orderdate", _dt(args["lo"]), _dt(args["hi"]))])
        if kind == "read_version":
            return t.read(version_as_of=args["version"])
        return version_diff(t, "o_orderkey", args["from"], args["to"])

    @staticmethod
    def _force(kind: str, df):
        if kind == "read_keys":
            return _model_projection(df).collect()
        if kind == "version_diff":
            return df.groupBy("_change_type").agg(
                F.count(F.lit(1)), F.sum("o_orderkey")
            ).collect()
        return digest_df(df)

    def _apply_and_check(self, kind: str, args: dict, out) -> bool:
        m = self.model
        if kind in ("append", "merge"):
            m.upsert(args["rows"])
            m.commit(out)
            return True
        if kind == "delete":
            m.delete_dates(args["lo"], args["hi"])
            m.commit(out)
            return True
        if kind == "optimize":
            m.commit(out)
            return True
        if kind == "vacuum":
            m.retain(RETAIN_LAST)
            return True
        if kind == "read_keys":
            want = {k: m.rows[k] for k in args["keys"] if k in m.rows}
            got = {r[0]: tuple(r[1:]) for r in out}
            return got == want
        if kind == "read_where":
            return out == m.digest(m.rows, args["lo"], args["hi"])
        if kind == "read_version":
            return out == m.digest(m.versions[args["version"]])
        want = m.diff(m.versions[args["from"]], m.versions[args["to"]])
        got = {r[0]: (int(r[1]), int(r[2])) for r in out}
        return got == want

    def check(self, spark) -> int:
        """Wrong op results since the last check plus a full compare of the
        final snapshot against the model."""
        rows = _model_projection(self.table.read()).collect()
        final_ok = {r[0]: tuple(r[1:]) for r in rows} == self.model.rows
        wrong, self.wrong = self.wrong + (0 if final_ok else 1), 0
        return wrong

    def space(self) -> dict:
        detail = self.table.describe_detail()
        on_disk = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(self.root) for f in files
        )
        manifest = os.path.join(self.root, "_manifests", f"v={detail['version']}.json")
        return {
            "space_amp": on_disk / detail["sizeInBytes"],
            "live_files": detail["numFiles"],
            "max_dirs_per_bucket": detail["maxDirsPerBucket"],
            "manifest_bytes": os.path.getsize(manifest),
        }

