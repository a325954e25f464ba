"""Reference checks behind ``wrong_results``: DuckDB oracles for the
registered queries, an exact top-k for the approximate ANN query, and a
plain-Python model of the versioned table."""

from __future__ import annotations

import math
import os
import zlib
from datetime import datetime

import duckdb
import numpy as np

from pucminas_data_pipelines_spark.tables import TABLE_NAMES

ANN_MIN_RECALL = 0.4  # the bound tests/test_similarity.py holds IVF-Flat to


def duckdb_views(data_dir: str, tmp_dir: str) -> duckdb.DuckDBPyConnection:
    """One view per table; a table stored as a directory of part files is
    read through a glob."""
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for name in TABLE_NAMES:
        path = os.path.join(data_dir, f"{name}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime):
        return v.replace(tzinfo=None)
    return v


def canonical(rows, columns) -> tuple[tuple, list]:
    """Column- and row-order-insensitive form of a result, the same
    normalisation the repository's oracle-parity tests apply."""
    names = [c.lower() for c in columns]
    order = sorted(range(len(names)), key=lambda i: names[i])
    out = [tuple(_norm(row[i]) for i in order) for row in rows]
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return tuple(sorted(names)), out


def oracle_result(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[tuple, list]:
    rel = con.sql(sql)
    return canonical(rel.fetchall(), rel.columns)


def exact_topk(vectors: np.ndarray, n_queries: int = 10, k: int = 5) -> dict[int, set]:
    """Cosine top-k neighbours (self excluded) of vec_ids 0..n_queries-1."""
    unit = vectors / np.linalg.norm(vectors, axis=1, keepdims=True)
    sims = unit[:n_queries] @ unit.T
    out = {}
    for q in range(n_queries):
        sims[q, q] = -np.inf
        out[q] = set(np.argsort(-sims[q], kind="stable")[:k].tolist())
    return out


def ann_recall_ok(rows, exact: dict[int, set], k: int = 5) -> bool:
    got: dict[int, set] = {}
    for r in rows:
        got.setdefault(int(r["query_id"]), set()).add(int(r["neighbor_id"]))
    if set(got) != set(exact) or any(len(v) != k for v in got.values()):
        return False
    hits = sum(len(got[q] & exact[q]) for q in exact)
    return hits / (k * len(exact)) >= ANN_MIN_RECALL


def row_crc(custkey: int, status: str, priority: str) -> int:
    return zlib.crc32(f"{status}|{priority}|{custkey}".encode())


class TableModel:
    """Plain-Python replay of the op stream: key -> (custkey, status,
    price cents, order date in epoch microseconds, priority), with one
    snapshot per retained table version."""

    def __init__(self):
        self.rows: dict[int, tuple] = {}
        self.versions: dict[int, dict[int, tuple]] = {}

    def commit(self, version: int) -> None:
        self.versions[version] = dict(self.rows)

    def upsert(self, batch: dict[int, tuple]) -> None:
        self.rows.update(batch)

    def delete_dates(self, lo_us: int, hi_us: int) -> None:
        for key in [k for k, r in self.rows.items() if lo_us <= r[3] < hi_us]:
            del self.rows[key]

    def retain(self, retain_last: int) -> None:
        latest = max(self.versions)
        for v in [v for v in self.versions if v <= latest - retain_last]:
            del self.versions[v]

    @staticmethod
    def digest(rows: dict[int, tuple], lo_us: int | None = None,
               hi_us: int | None = None) -> tuple:
        n = sk = sc = sd = crc = 0
        for key, (cust, status, cents, date_us, prio) in rows.items():
            if lo_us is not None and not lo_us <= date_us <= hi_us:
                continue
            n += 1
            sk += key
            sc += cents
            sd += date_us // 1_000_000
            crc += row_crc(cust, status, prio)
        return (n, sk, sc, sd, crc)

    @staticmethod
    def diff(old: dict[int, tuple], new: dict[int, tuple]) -> dict[str, tuple]:
        """Change counts and key sums per ``_change_type``."""
        out: dict[str, list] = {}

        def add(kind: str, key: int) -> None:
            c = out.setdefault(kind, [0, 0])
            c[0] += 1
            c[1] += key

        for key, row in new.items():
            if key not in old:
                add("insert", key)
            elif old[key] != row:
                add("update_preimage", key)
                add("update_postimage", key)
        for key in old.keys() - new.keys():
            add("delete", key)
        return {k: tuple(v) for k, v in out.items()}
