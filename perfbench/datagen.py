"""Seeded input generator for the benchmark workloads.

Every table is drawn from ``numpy.random.Generator`` streams derived from
the workload seed and the table name, and written with pyarrow in the
physical layout ``tables.load_table`` expects (``<dir>/<name>.parquet``,
either one file or a directory of part files). The same seed gives
byte-identical files.

Column domains follow the repository's test tables (TESTDATA.md): a slim
TPC-H star schema, an ``events`` stream, a ``documents`` corpus over a
31-word vocabulary and 64-d unit ``embeddings`` in 10 labelled clusters.
"""

from __future__ import annotations

import hashlib
import os
import zlib
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

DAY_US = 86_400 * 1_000_000
EPOCH = datetime(1970, 1, 1)


def _us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - EPOCH).total_seconds()) * 1_000_000


ORDER_DAY0 = _us(1995, 1, 1) // DAY_US
ORDER_DAYS = _us(2001, 8, 1) // DAY_US - ORDER_DAY0


def rng_for(seed: int, *names) -> np.random.Generator:
    """Independent stream per (seed, names): adding a table or a column
    never shifts the values of another."""
    tag = zlib.crc32("/".join(map(str, names)).encode())
    return np.random.Generator(np.random.PCG64([seed, tag]))


def _cents(values_cents: np.ndarray) -> np.ndarray:
    """Whole cents to the double nearest the 2-decimal value."""
    return np.round(values_cents.astype(np.int64) / 100.0, 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def dimension_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    r = rng_for(seed, "customer")
    s = rng_for(seed, "supplier")
    p = rng_for(seed, "part")
    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": REGIONS,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _cents(r.integers(-99_999, 1_000_000, n_cust)),
                "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(s.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _cents(s.integers(-99_999, 1_000_000, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(
                        p.integers(0, 8, n_part), p.integers(0, 8, n_part)
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in p.integers(1, 26, n_part)],
                "p_type": np.array(PART_TYPES)[p.integers(0, 6, n_part)],
                "p_size": pa.array(p.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": _cents(90_000 + np.arange(n_part) % 1000 * 10),
            }
        ),
    }


def orders_table(seed: int, sf: float, key0: int = 0, n: int | None = None,
                 day_lo: int = 0, day_hi: int = ORDER_DAYS,
                 stream: str = "orders") -> pa.Table:
    """``n`` orders with keys ``key0..key0+n-1`` and order dates drawn from
    day offsets ``[day_lo, day_hi)`` after 1995-01-01."""
    n_cust = max(150, int(150_000 * sf))
    if n is None:
        n = max(1500, int(1_500_000 * sf))
    r = rng_for(seed, stream, key0)
    days = r.integers(day_lo, day_hi, n) + ORDER_DAY0
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(key0, key0 + n), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n)],
            "o_totalprice": _cents(r.integers(100_000, 50_000_000, n)),
            "o_orderdate": _ts(days * DAY_US),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n)],
        }
    )


def lineitem_table(seed: int, sf: float) -> pa.Table:
    n_orders = max(1500, int(1_500_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n = 4 * n_orders
    r = rng_for(seed, "lineitem")
    okeys = np.sort(r.integers(0, n_orders, n))
    # line numbers restart at 1 within each order key
    starts = np.r_[0, np.flatnonzero(np.diff(okeys)) + 1]
    linenumber = np.arange(n) - np.repeat(starts, np.diff(np.r_[starts, n])) + 1
    flags = r.integers(0, 6, n)
    day0 = _us(1995, 1, 2) // DAY_US
    return pa.table(
        {
            "l_orderkey": pa.array(okeys, pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": r.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _cents(r.integers(90_068, 10_500_000, n)),
            "l_discount": _cents(r.integers(0, 11, n)),
            "l_tax": _cents(r.integers(0, 9, n)),
            "l_returnflag": np.array(["A", "N", "R"])[flags % 3],
            "l_linestatus": np.array(["F", "O"])[flags // 3],
            "l_shipdate": _ts((day0 + r.integers(0, 2499, n)) * DAY_US),
        }
    )


def events_table(seed: int, n: int) -> pa.Table:
    r = rng_for(seed, "events")
    t0 = _us(2024, 1, 1)
    ts = np.sort(r.integers(t0, t0 + 30 * DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(r.integers(0, 1500, n), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
            "value": _cents(r.integers(0, 56_022, n)),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
        }
    )


def documents_table(seed: int, n: int, dup_share: float) -> pa.Table:
    """Random word sequences; ``dup_share`` of the rows are copies of an
    earlier document of at least 30 tokens: one in ten verbatim, the rest
    with the last token replaced. Every planted pair, two copies of one
    original included, keeps token 3-gram Jaccard >= 27/29 > 0.9, while
    unrelated documents stay far below 0.3: the margin within which
    ``dedup_minhash_lsh``'s pair set matches its exact oracle."""
    r = rng_for(seed, "documents")
    vocab = np.array(VOCAB)
    texts: list[str] = []
    long_docs: list[np.ndarray] = []
    n_dup = int(n * dup_share)
    dup_at = set(r.choice(np.arange(n // 10, n), n_dup, replace=False).tolist())
    for i in range(n):
        if i in dup_at and long_docs:
            w = long_docs[r.integers(0, len(long_docs))].copy()
            if r.random() >= 0.1:
                w[-1] = vocab[r.integers(0, len(vocab))]
        else:
            w = vocab[r.integers(0, len(vocab), int(r.integers(8, 101)))]
            if len(w) >= 30:
                long_docs.append(w)
        texts.append(" ".join(w))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[r.integers(0, len(LANGS), n)],
            "source": [f"src{k}" for k in r.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(seed: int, n: int, dup_share: float, dim: int = 64) -> pa.Table:
    """Unit vectors around 10 label centres; ``dup_share`` of them are
    copies of an earlier vector with small Gaussian noise."""
    r = rng_for(seed, "embeddings")
    centres = r.standard_normal((10, dim))
    labels = r.integers(0, 10, n)
    vecs = centres[labels] * 0.35 + r.standard_normal((n, dim))
    n_dup = int(n * dup_share)
    dup_at = np.sort(r.choice(np.arange(n // 10, n), n_dup, replace=False))
    for i in dup_at:
        j = int(r.integers(0, i))
        vecs[i] = vecs[j] + 0.02 * r.standard_normal(dim)
        labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels, pa.int32()),
        }
    )


def upscaled_copy(table: pa.Table, seed: int, name: str, copy: int,
                  key_cols: dict[str, int], price_cols: list[str]) -> pa.Table:
    """Copy ``copy`` of a fact table: keys shifted by ``copy * offset`` and
    each price moved by a seeded whole-cent jitter in [-50, 50], so copies
    do not tie on the price columns ranked by the LIMIT queries."""
    r = rng_for(seed, name, "copy", copy)
    cols = {}
    for field in table.schema:
        col = table.column(field.name)
        if field.name in key_cols:
            col = pa.array(col.to_numpy() + copy * key_cols[field.name], field.type)
        elif field.name in price_cols and copy:
            cents = np.round(col.to_numpy() * 100).astype(np.int64)
            cents = np.maximum(cents + r.integers(-50, 51, len(cents)), 1)
            col = pa.array(_cents(cents), field.type)
        cols[field.name] = col
    return pa.table(cols)


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def write_copies(table: pa.Table, out_dir: str, name: str, seed: int,
                 copies: int, key_cols: dict[str, int],
                 price_cols: list[str]) -> None:
    for k in range(copies):
        write_table(
            upscaled_copy(table, seed, name, k, key_cols, price_cols),
            os.path.join(out_dir, f"{name}.parquet", f"part-{k:05d}.parquet"),
        )


def tree_digest(root: str) -> str:
    """sha256 over every file's relative path and bytes under ``root``."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for f in sorted(filenames):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
