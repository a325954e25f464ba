"""Mutation-layer queries: the reference's signature scenario — overwrite
→ filter+rewrite → union new rows → MERGE upsert → time travel → delete —
replayed on the versioned table, ``ManifestVersionedTable``
(operators/upsert.py; reference sparkcode/titanic_example_delta.py:25-70).
The reference-scenario queries run it with ``n_buckets=1``, where every
commit rewrites the whole table; the ``mutation_manifest_*`` family
exercises the bucketed, file-sharing commit layer.

These queries are self-contained (in-code fixture, deterministic), so the
oracle is a literal VALUES table of the expected post-state — a real
end-to-end check of merge semantics, not just a rows-count."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pucminas_data_pipelines_spark.fixtures import (
    TITANIC_BASE_ROWS,
    TITANIC_DDL,
    TITANIC_NEW_ROWS,
)
from pucminas_data_pipelines_spark.io import from_rows, scratch_path
from pucminas_data_pipelines_spark.operators.upsert import (
    ManifestVersionedTable,
    version_diff,
)
from pucminas_data_pipelines_spark.plans.registry import query
from pucminas_data_pipelines_spark.tables import load_table

_LOWER_COLS = [
    "passengerid", "survived", "pclass", "name", "sex", "age",
    "sibsp", "parch", "ticket", "fare", "cabin", "embarked",
]

_TYPED_SELECT = """
    SELECT CAST(passengerid AS INTEGER) AS passengerid,
           CAST(survived AS INTEGER) AS survived,
           CAST(pclass AS INTEGER) AS pclass,
           CAST(name AS VARCHAR) AS name,
           CAST(sex AS VARCHAR) AS sex,
           CAST(age AS DOUBLE) AS age,
           CAST(sibsp AS INTEGER) AS sibsp,
           CAST(parch AS INTEGER) AS parch,
           CAST(ticket AS VARCHAR) AS ticket,
           CAST(fare AS DOUBLE) AS fare,
           CAST(cabin AS VARCHAR) AS cabin,
           CAST(embarked AS VARCHAR) AS embarked
    FROM (VALUES {rows}) t(passengerid, survived, pclass, name, sex, age,
                           sibsp, parch, ticket, fare, cabin, embarked)
    ORDER BY passengerid
"""


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        escaped = v.replace("'", "''")
        return f"'{escaped}'"
    return repr(v)


def _values(rows: list[tuple]) -> str:
    return ", ".join("(" + ", ".join(_sql_literal(v) for v in r) + ")" for r in rows)


def _expected_merged() -> list[tuple]:
    merged = []
    for r in TITANIC_BASE_ROWS:
        if r[0] in (1, 5):
            merged.append((r[0], 1) + r[2:])  # Survived ← 1
        else:
            merged.append(r)
    return merged + list(TITANIC_NEW_ROWS)


def _lowered(df: DataFrame) -> DataFrame:
    return df.select(
        *[F.col(c).alias(c.lower()) for c in df.columns]
    ).orderBy("passengerid")


@query(
    "mutation_merge_upsert",
    oracle=_TYPED_SELECT.format(rows=_values(_expected_merged())),
)
def mutation_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-MERGE table state (reference O11 semantics:
    whenMatchedUpdateAll + whenNotMatchedInsertAll)."""
    table = _run_manifest_scenario(
        spark, scratch_path("titanic_merge"), n_buckets=1
    )
    return _lowered(table.read())


@query(
    "mutation_time_travel",
    oracle=_TYPED_SELECT.format(rows=_values(TITANIC_BASE_ROWS)),
)
def mutation_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """versionAsOf=0 read after the merge (reference O15): the pre-merge
    snapshot must be intact."""
    table = _run_manifest_scenario(
        spark, scratch_path("titanic_timetravel"), n_buckets=1
    )
    return _lowered(table.read(version_as_of=0))


_CDC_SELECT = """
    SELECT CAST(passengerid AS INTEGER) AS passengerid,
           CAST(survived AS INTEGER) AS survived,
           CAST(pclass AS INTEGER) AS pclass,
           CAST(name AS VARCHAR) AS name,
           CAST(sex AS VARCHAR) AS sex,
           CAST(age AS DOUBLE) AS age,
           CAST(sibsp AS INTEGER) AS sibsp,
           CAST(parch AS INTEGER) AS parch,
           CAST(ticket AS VARCHAR) AS ticket,
           CAST(fare AS DOUBLE) AS fare,
           CAST(cabin AS VARCHAR) AS cabin,
           CAST(embarked AS VARCHAR) AS embarked,
           CAST(change_type AS VARCHAR) AS change_type
    FROM (VALUES {rows}) t(passengerid, survived, pclass, name, sex, age,
                           sibsp, parch, ticket, fare, cabin, embarked,
                           change_type)
    ORDER BY passengerid, change_type
"""


def _expected_cdc() -> list[tuple]:
    """v0 → v2 change set: keys 1,5 updated (Survived 0→1), key 6 deleted
    (still Survived=0 at delete time), 892/893 inserted, 2/3/4 unchanged."""
    rows = []
    for r in TITANIC_BASE_ROWS:
        if r[0] in (1, 5):
            rows.append(r + ("update_preimage",))
            rows.append((r[0], 1) + r[2:] + ("update_postimage",))
        elif r[1] == 0:
            rows.append(r + ("delete",))
    for r in TITANIC_NEW_ROWS:
        rows.append(r + ("insert",))
    return rows


@query(
    "mutation_cdc_version_diff",
    oracle=_CDC_SELECT.format(rows=_values(_expected_cdc())),
)
def mutation_cdc_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed analogue (operators/upsert.py version_diff): the
    row-level change set between the pre-merge snapshot (v0) and the
    post-delete snapshot (v2) — inserts, update pre/post pairs, and
    deletes in one pass, unchanged rows silent. Delta surface this maps
    to: ``table_changes`` with readChangeFeed."""
    table = _run_manifest_scenario(
        spark, scratch_path("titanic_cdc"), n_buckets=1
    )
    table.delete_where(F.col("Survived") == 0)  # → version 2
    diff = version_diff(table, key="PassengerId", from_version=0, to_version=2)
    return (
        diff.select(
            *[F.col(c).alias(c.lower()) for c in diff.columns if c != "_change_type"],
            F.col("_change_type").alias("change_type"),
        )
        .orderBy("passengerid", "change_type")
    )


@query(
    "mutation_delete_where",
    oracle=_TYPED_SELECT.format(
        rows=_values([r for r in _expected_merged() if not (r[1] == 0)])
    ),
)
def mutation_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE WHERE survived = 0 on top of the merged state (the Delta
    delete clause family)."""
    table = _run_manifest_scenario(
        spark, scratch_path("titanic_delete"), n_buckets=1
    )
    table.delete_where(F.col("Survived") == 0)
    return _lowered(table.read())


@query(
    "mutation_manifest_export",
    oracle="""
    SELECT CAST(2 AS INTEGER) AS manifest_lines,
           CAST(2 AS INTEGER) AS distinct_files,
           TRUE AS all_parquet,
           TRUE AS all_in_latest_snapshot
    """,
)
def mutation_manifest_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O16: symlink-format manifest export (reference
    sparkcode/titanic_example_delta.py:72 — GENERATE
    symlink_format_manifest for external Hive/Presto/Athena catalogs),
    via operators/upsert.py generate_manifest on a one-bucket table.

    Deterministic contract checked end-to-end: two overwrites (v0 with 3
    files, v1 with 2), then the manifest must list exactly the LATEST
    version's data files — 2 distinct lines, all ``.parquet``, all inside
    the latest manifest's bucket dirs — never the superseded v0 files.
    Emitted as one summary row (counts + invariants) so the oracle is a
    literal VALUES check; the raw manifest paths contain nondeterministic
    part-file UUIDs and are asserted structurally instead."""
    path = scratch_path("titanic_manifest")
    shutil.rmtree(path, ignore_errors=True)
    base = from_rows(spark, TITANIC_BASE_ROWS, TITANIC_DDL)
    table = ManifestVersionedTable(spark, path, key="PassengerId", n_buckets=1)
    table.overwrite(base.repartition(3))  # v0: superseded snapshot
    table.overwrite(base.repartition(2))  # v1: latest — manifest target
    manifest = table.generate_manifest()
    with open(manifest) as fh:
        lines = [ln for ln in fh.read().splitlines() if ln]
    latest = table._manifest(table.latest_version())
    latest_dirs = {table._abs(d) for d in table._all_dirs(latest)}
    row = (
        len(lines),
        len(set(lines)),
        all(ln.endswith(".parquet") for ln in lines),
        all(os.path.dirname(ln) in latest_dirs for ln in lines),
    )
    return spark.createDataFrame(
        [row],
        "manifest_lines int, distinct_files int, "
        "all_parquet boolean, all_in_latest_snapshot boolean",
    )


@query(
    "mutation_scd2_history",
    oracle="""
    WITH cur AS (
      SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
    ),
    upd AS (
      SELECT c_custkey,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) + 100 AS DOUBLE) AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT -1, CAST(111.11 AS DOUBLE), 'NEWSEG'
      UNION ALL
      SELECT -2, CAST(222.22 AS DOUBLE), 'NEWSEG'
    )
    SELECT c.c_custkey, c.c_acctbal, c.c_mktsegment,
           1 AS valid_from, CAST(NULL AS INTEGER) AS valid_to, TRUE AS is_current
    FROM cur c WHERE c.c_custkey NOT IN (SELECT c_custkey FROM upd)
    UNION ALL
    SELECT c.c_custkey, c.c_acctbal, c.c_mktsegment, 1, 2, FALSE
    FROM cur c JOIN upd u ON c.c_custkey = u.c_custkey
    UNION ALL
    SELECT u.c_custkey, u.c_acctbal, u.c_mktsegment, 2, NULL, TRUE
    FROM cur c JOIN upd u ON c.c_custkey = u.c_custkey
    UNION ALL
    SELECT u.c_custkey, u.c_acctbal, u.c_mktsegment, 2, NULL, TRUE
    FROM upd u WHERE u.c_custkey NOT IN (SELECT c_custkey FROM cur)
    ORDER BY c_custkey, valid_from
    """,
)
def mutation_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history from a dimension update batch
    (operators/upsert.scd2_apply): changed customers get their old row
    closed at version 2 plus a new open row; untouched customers stay
    open at version 1; new keys open at version 2. Point-in-time joins
    (``valid_from <= v AND (valid_to IS NULL OR valid_to > v)``) then
    reconstruct any version — the history the reference's overwriting
    MERGE destroys. The update batch is planted deterministically
    (every 7th customer's balance +100 exactly, via DECIMAL, plus two
    new keys) and mirrored in the oracle."""
    from pucminas_data_pipelines_spark.operators.upsert import scd2_apply

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    changed = cust.where(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        (F.col("c_acctbal").cast("decimal(12,2)") + 100)
        .cast("double")
        .alias("c_acctbal"),
        "c_mktsegment",
    )
    new_rows = spark.createDataFrame(
        [(-1, 111.11, "NEWSEG"), (-2, 222.22, "NEWSEG")],
        "c_custkey bigint, c_acctbal double, c_mktsegment string",
    )
    updates = changed.unionByName(new_rows)
    hist = scd2_apply(
        cust,
        updates,
        "c_custkey",
        ["c_acctbal", "c_mktsegment"],
        from_version=1,
        to_version=2,
    )
    return hist.orderBy("c_custkey", "valid_from")


@query(
    "mutation_overwrite_dynamic_partitions",
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o_orderstatus = 'F'
                         THEN CAST(o_totalprice AS DECIMAL(18,2)) + 10.00
                         ELSE CAST(o_totalprice AS DECIMAL(18,2)) END)
                AS DOUBLE) AS total_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def mutation_overwrite_dynamic_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (partitionOverwriteMode=dynamic): an
    INSERT OVERWRITE that replaces ONLY the partitions present in the
    incoming batch — here the 'F' partition is rewritten with halved
    prices while 'O'/'P' survive untouched, proving the write did not
    truncate the table the way static overwrite would.

    Scale: this is the standard idempotent backfill primitive for a
    date-partitioned 100 TB table — reprocessing one day rewrites one
    directory, never the table. The conf is set through a restoring
    try/finally so it cannot leak into subsequent queries (session
    registry invariant)."""
    from contextlib import contextmanager

    path = scratch_path("orders_dynpart")
    shutil.rmtree(path, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)

    @contextmanager
    def _dynamic_overwrite():
        key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "dynamic")
        try:
            yield
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)

    patch = o.where(F.col("o_orderstatus") == "F").withColumn(
        "o_totalprice",
        (F.col("o_totalprice").cast("decimal(18,2)") + F.lit(10.00).cast("decimal(4,2)"))
        .cast("double"),
    )
    with _dynamic_overwrite():
        patch.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)

    back = spark.read.parquet(path)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "mutation_scd2_asof_lookup",
    oracle="""
    WITH cur AS (
      SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
    ),
    upd AS (
      SELECT c_custkey,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) + 100 AS DOUBLE) AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL SELECT -1, CAST(111.11 AS DOUBLE), 'NEWSEG'
      UNION ALL SELECT -2, CAST(222.22 AS DOUBLE), 'NEWSEG'
    ),
    v1 AS (SELECT c_custkey, c_acctbal FROM cur),
    v2 AS (
      SELECT c_custkey, c_acctbal FROM upd
      UNION ALL
      SELECT c_custkey, c_acctbal FROM cur
      WHERE c_custkey NOT IN (SELECT c_custkey FROM upd)
    )
    SELECT 1 AS as_of_version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
    FROM v1
    UNION ALL
    SELECT 2,
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
    FROM v2
    ORDER BY as_of_version
    """,
)
def mutation_scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time reconstruction from SCD2 history: the AS-OF predicate
    ``valid_from <= v AND (valid_to IS NULL OR valid_to > v)`` rebuilds the
    dimension exactly as it stood at version 1 (pre-update) and version 2
    (post-update) from ONE history table — the query pattern SCD2 exists
    to serve, and the valid-time complement to mutation_time_travel's
    transaction-time versionAsOf. The oracle reconstructs both snapshots
    independently from the raw update rules.

    Scale: the as-of filter is a partition-prunable predicate when history
    is written partitioned by is_current/valid_from; each snapshot then
    scans only rows open at v, and the rollup is one map-side-combined
    aggregate."""
    from pucminas_data_pipelines_spark.operators.upsert import scd2_apply

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    changed = cust.where(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        (F.col("c_acctbal").cast("decimal(12,2)") + 100)
        .cast("double")
        .alias("c_acctbal"),
        "c_mktsegment",
    )
    new_rows = spark.createDataFrame(
        [(-1, 111.11, "NEWSEG"), (-2, 222.22, "NEWSEG")],
        "c_custkey bigint, c_acctbal double, c_mktsegment string",
    )
    hist = scd2_apply(
        cust,
        changed.unionByName(new_rows),
        "c_custkey",
        ["c_acctbal", "c_mktsegment"],
        from_version=1,
        to_version=2,
    ).localCheckpoint(eager=True)  # dim-sized; both snapshots read it
    snapshots = []
    for v in (1, 2):
        asof = hist.where(
            (F.col("valid_from") <= v)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > v))
        )
        snapshots.append(
            asof.agg(
                F.lit(v).alias("as_of_version"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_balance"),
            ).select("as_of_version", "n_rows", "total_balance")
        )
    return snapshots[0].unionAll(snapshots[1]).orderBy("as_of_version")


@query(
    "mutation_snapshot_expiry",
    oracle="""
    SELECT 0 AS version, FALSE AS survives, FALSE AS readable
    UNION ALL SELECT 1, FALSE, FALSE
    UNION ALL SELECT 2, TRUE, TRUE
    UNION ALL SELECT 3, TRUE, TRUE
    ORDER BY version
    """,
)
def mutation_snapshot_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot expiry (VACUUM / expire_snapshots): four committed
    versions, retention 2 — versions 0-1 must be gone (manifest dropped,
    time travel raises) while 2-3 stay readable; the literal oracle pins
    the full survive/readable matrix. Completes the versioned-table
    lifecycle: commit → merge → time-travel → manifest → EXPIRE.

    Scale note in operators/upsert.vacuum: retention bounds storage on a
    frequently-merged 100 TB table; the tradeoff is the time-travel
    horizon consumers keep."""
    path = scratch_path("expiry_table")
    shutil.rmtree(path, ignore_errors=True)
    t = ManifestVersionedTable(spark, path, key="n_nationkey")
    base = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    for v in range(4):
        t.overwrite(base.withColumn("rev", F.lit(v)))
    t.vacuum(retain_last=2)
    surviving = set(t.history())
    rows = []
    for v in range(4):
        readable = True
        try:
            t.read(version_as_of=v).count()
        except Exception:
            readable = False
        rows.append((v, v in surviving, readable))
    return spark.createDataFrame(
        rows, "version int, survives boolean, readable boolean"
    ).orderBy("version")


# -- ManifestVersionedTable family (round 10): driver-level evidence for
# -- the O(changed-buckets) commit layer built in round 9 --------------------

def _run_manifest_scenario(
    spark: SparkSession, path: str, n_buckets: int = 4
) -> ManifestVersionedTable:
    """The reference's merge scenario (sparkcode/titanic_example_delta.py:
    25-51) replayed on the manifest table: overwrite v0 → (keys 1,5 →
    Survived=1) ∪ (rows 892,893) → MERGE (rewrites only the source's
    buckets; untouched buckets share v0's files — with ``n_buckets=1``
    the merge rewrites the whole table)."""
    shutil.rmtree(path, ignore_errors=True)
    base = from_rows(spark, TITANIC_BASE_ROWS, TITANIC_DDL)
    table = ManifestVersionedTable(
        spark, path, key="PassengerId", n_buckets=n_buckets
    )
    table.overwrite(base)  # version 0 (reference O5)
    changed = base.where(F.col("PassengerId").isin(1, 5)).withColumn(
        "Survived", F.lit(1)
    )  # O6 + O7
    newrows = from_rows(spark, TITANIC_NEW_ROWS, TITANIC_DDL)  # O8
    table.merge(changed.union(newrows))  # O9 + O11 → version 1
    return table


@query(
    "mutation_manifest_merge_bucketed",
    oracle=_TYPED_SELECT.format(rows=_values(_expected_merged())),
)
def mutation_manifest_merge_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-MERGE state on the MANIFEST table (operators/upsert.py
    ManifestVersionedTable): mutation_merge_upsert's scenario at four
    buckets, so the commit rewrites ONLY the hash buckets the 4-row source
    touches and points every other bucket at version 0's files — the
    Delta add/remove-files idea that makes a small merge O(|source| +
    affected-bucket bytes) instead of O(table) at 100 TB."""
    table = _run_manifest_scenario(spark, scratch_path("titanic_mvt_merge"))
    return _lowered(table.read())


@query(
    "mutation_manifest_delete_null_predicate",
    oracle=_TYPED_SELECT.format(
        rows=_values(
            [r for r in _expected_merged() if r[5] is None or r[5] >= 35.0]
        )
    ),
)
def mutation_manifest_delete_null_predicate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DELETE WHERE age < 35 with a NULL-age row in the SAME bucket as
    true matches (n_buckets=1 forces sharing): SQL DELETE removes only
    TRUE-condition rows, so the NULL-age passenger (key 6) must survive.
    Pins the null-safe keep-filter (NOT (cond <=> TRUE)) at driver level
    — the bucket-hash-dependent data-loss shape a plain ~cond had."""
    table = _run_manifest_scenario(
        spark, scratch_path("titanic_mvt_delnull"), n_buckets=1
    )
    table.delete_where(F.col("Age") < 35.0)
    return _lowered(table.read())


@query(
    "mutation_manifest_append_pointread",
    oracle=_TYPED_SELECT.format(
        rows=_values(
            [TITANIC_BASE_ROWS[0], TITANIC_NEW_ROWS[0]]
        )
    ),
)
def mutation_manifest_append_pointread(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """APPEND + bucket-pruned point read: append commits only the new
    rows' files (O(new data), manifest lists extended, nothing
    rewritten), then read_keys([1, 892, 9999]) scans ONLY the buckets
    those keys hash into — manifest-level data skipping; the missing key
    simply matches nothing. Expected: base row 1 and appended row 892."""
    path = scratch_path("titanic_mvt_append")
    shutil.rmtree(path, ignore_errors=True)
    base = from_rows(spark, TITANIC_BASE_ROWS, TITANIC_DDL)
    table = ManifestVersionedTable(spark, path, key="PassengerId", n_buckets=8)
    table.overwrite(base)
    table.append(from_rows(spark, TITANIC_NEW_ROWS, TITANIC_DDL))
    return _lowered(table.read_keys([1, 892, 9999]))


@query(
    "mutation_manifest_optimize_roundtrip",
    oracle=_TYPED_SELECT.format(
        rows=_values(
            [
                (r[0], r[1], r[2], r[3], r[4], r[5], r[6], r[7], r[8],
                 round(r[9] + 1.0, 4), r[10], r[11])
                for r in _expected_merged()
            ]
        )
    ),
)
def mutation_manifest_optimize_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OPTIMIZE (compaction) preserves content exactly: two merges leave
    the current version scattered across three commit directories; a
    follow-up fare+1 merge-of-everything then OPTIMIZE rewrites the
    CURRENT rows into one fresh layout as a new version. The query
    returns the post-optimize state — byte-identical semantics to the
    pre-optimize version — while older versions keep time-traveling
    (pinned in tests/test_manifest_table.py)."""
    table = _run_manifest_scenario(spark, scratch_path("titanic_mvt_opt"))
    bump = table.read().withColumn(
        "Fare",
        (F.col("Fare").cast("decimal(12,4)") + F.lit(1.0).cast("decimal(2,1)"))
        .cast("double"),
    )
    table.merge(bump)  # touches every bucket: maximal fragmentation
    table.optimize()
    return _lowered(table.read())


@query(
    "mutation_manifest_vacuum_lifecycle",
    oracle="""
    SELECT 0 AS version, FALSE AS survives, FALSE AS readable
    UNION ALL SELECT 1, TRUE, TRUE
    UNION ALL SELECT 2, TRUE, TRUE
    ORDER BY version
    """,
)
def mutation_manifest_vacuum_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VACUUM with file-level reference counting on the manifest table:
    three versions sharing bucket files (overwrite → merge → merge),
    retention 2 — version 0's manifest is dropped and ONLY bucket
    directories no surviving manifest references are removed, so v1/v2
    stay fully readable through their shared files (Delta's
    log-then-vacuum contract)."""
    table = _run_manifest_scenario(spark, scratch_path("titanic_mvt_vac"))
    bump = from_rows(
        spark,
        [(2, 1, 1, "Cumings, Mrs. John Bradley", "female", 38.0, 1, 0,
          "PC 17599", 71.2833, "C85", "C")],
        TITANIC_DDL,
    )
    table.merge(bump)  # version 2
    table.vacuum(retain_last=2)
    surviving = set(table.history())
    rows = []
    for v in range(3):
        readable = True
        try:
            table.read(version_as_of=v).count()
        except Exception:
            readable = False
        rows.append((v, v in surviving, readable))
    return spark.createDataFrame(
        rows, "version int, survives boolean, readable boolean"
    ).orderBy("version")


@query(
    "mutation_manifest_timerange_scan",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <= TIMESTAMP '2024-01-12 00:00:00'
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def mutation_manifest_timerange_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-pruned time-range scan over a manifest hypertable
    (operators/upsert.py read_range): events ingested as three
    time-window APPEND batches (days 1-10 / 11-20 / 21-30 — the shape a
    streaming ingest produces), each commit's manifest carrying per-dir
    [min,max] column stats harvested from parquet footers at commit
    time. A Jan-8..12 range read then plans ONLY the dirs whose ts
    bounds overlap — the first two commits — and applies the residual
    filter inside them; the third commit's files are never listed.

    Scale: this is Delta data skipping at manifest grain — on a 100 TB
    time-ordered table the range plan touches the overlapping commits'
    file lists, not the table's, BEFORE Spark enumerates a single path.
    Pruning-shape proof (exactly one commit-dir set scanned for an
    interior range) is pinned in tests/test_manifest_table.py."""
    import datetime as _dt

    path = scratch_path("events_mvt_range")
    shutil.rmtree(path, ignore_errors=True)
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    t = ManifestVersionedTable(spark, path, key="event_id", n_buckets=4)
    d11 = _dt.datetime(2024, 1, 11)
    d21 = _dt.datetime(2024, 1, 21)
    t.overwrite(e.where(F.col("ts") < F.lit(d11)))
    t.append(e.where((F.col("ts") >= F.lit(d11)) & (F.col("ts") < F.lit(d21))))
    t.append(e.where(F.col("ts") >= F.lit(d21)))
    window = t.read_range(
        "ts", _dt.datetime(2024, 1, 8), _dt.datetime(2024, 1, 12)
    )
    return (
        window.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("event_type")
    )


@query(
    "mutation_manifest_deletion_vectors",
    oracle=_TYPED_SELECT.format(
        rows=_values([r for r in _expected_merged() if not (r[1] == 0)])
    ),
)
def mutation_manifest_deletion_vectors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors (Delta DVs,
    operators/upsert.py stage_delete_where merge_on_read): DELETE WHERE survived=0 on
    the merged state commits a parquet sidecar of (file, row_index) keys
    and rewrites NO data files — the manifest's bucket lists are
    byte-identical to the previous version's (asserted in
    tests/test_manifest_table.py); every read applies the DV through a
    broadcast anti-join, so the query's result equals the copy-on-write
    delete's (mutation_delete_where's oracle, shared expectations).

    Scale: DELETE cost is O(matched rows), not O(affected-bucket bytes)
    — the right trade for point deletes (GDPR erasure) scattered across
    a 100 TB table; the read-side anti-join broadcasts the match-sized
    DV, never shuffling the table."""
    table = _run_manifest_scenario(spark, scratch_path("titanic_mvt_dv"))
    table.delete_where(F.col("Survived") == 0, mode="merge_on_read")
    return _lowered(table.read())


@query(
    "mutation_incremental_rollup",
    oracle="""
    WITH upd AS (
      SELECT c_custkey,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) + 100 AS DOUBLE) AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL SELECT -1, CAST(111.11 AS DOUBLE), 'NEWSEG'
      UNION ALL SELECT -2, CAST(222.22 AS DOUBLE), 'NEWSEG'
    ),
    post AS (
      SELECT c_custkey, c_acctbal, c_mktsegment FROM upd
      UNION ALL
      SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
      WHERE c_custkey NOT IN (SELECT c_custkey FROM upd)
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
    FROM post GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def mutation_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained materialized view (operators/incremental.py
    + version_diff's manifest fast path): a segment-level balance rollup
    is built once from the base customer table, the table takes a MERGE
    batch (every 7th customer +100 exactly via DECIMAL, plus two NEWSEG
    rows), and the rollup is refreshed FROM THE CHANGE SET — the diff
    reads only the buckets the merge rewrote, and the refresh joins the
    change aggregate against the segment-sized rollup. The oracle
    recomputes the rollup from scratch on the post-merge state: exact
    DECIMAL maintenance makes the two bit-identical.

    Scale: refresh cost is O(changed buckets + rollup), table-size
    independent — the continuous-aggregate contract; the naive recompute
    the oracle performs is the thing this operator avoids."""
    from pucminas_data_pipelines_spark.operators.incremental import (
        apply_rollup_delta,
        rollup_from_scratch,
    )
    path = scratch_path("customer_mvt_rollup")
    shutil.rmtree(path, ignore_errors=True)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    t = ManifestVersionedTable(spark, path, key="c_custkey", n_buckets=16)
    t.overwrite(cust)
    rollup = rollup_from_scratch(t.read(), ["c_mktsegment"], "c_acctbal")
    rollup = rollup.localCheckpoint(eager=True)  # segment-sized view state
    changed = cust.where(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        (F.col("c_acctbal").cast("decimal(12,2)") + 100)
        .cast("double")
        .alias("c_acctbal"),
        "c_mktsegment",
    )
    new_rows = spark.createDataFrame(
        [(-1, 111.11, "NEWSEG"), (-2, 222.22, "NEWSEG")],
        "c_custkey bigint, c_acctbal double, c_mktsegment string",
    )
    t.merge(changed.unionByName(new_rows))
    diff = version_diff(t, key="c_custkey", from_version=0, to_version=1)
    refreshed = apply_rollup_delta(rollup, diff, ["c_mktsegment"], "c_acctbal")
    return refreshed.select(
        "c_mktsegment",
        "n",
        F.col("total").cast("double").alias("total_balance"),
    ).orderBy("c_mktsegment")


@query(
    "mutation_incremental_rollup_minmax",
    oracle="""
    WITH post AS (
      SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
      WHERE NOT (c_mktsegment = 'BUILDING' AND c_acctbal >=
                 (SELECT MAX(c_acctbal) FROM customer
                  WHERE c_mktsegment = 'BUILDING'))
      UNION ALL SELECT -1, CAST(9999.99 AS DOUBLE), 'MACHINERY'
      UNION ALL SELECT -2, CAST(111.11 AS DOUBLE), 'NEWSEG'
      UNION ALL SELECT -3, CAST(222.22 AS DOUBLE), 'NEWSEG'
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(c_acctbal) AS min_balance,
           MAX(c_acctbal) AS max_balance
    FROM post GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def mutation_incremental_rollup_minmax(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MIN/MAX incremental view maintenance with TARGETED group rescan
    (operators/incremental.py apply_rollup_minmax_delta): extrema are
    not self-maintainable under deletes, so the maintained per-segment
    min/max is kept optimistically and a DELETE of a segment's current
    maximum marks ONLY that segment for rescan — re-read here through
    the stats-pruned read_where over a segment-CLUSTERED layout
    (optimize(cluster_by=...)), so the repair reads the affected
    segment's files, never the base table. The scenario deletes
    BUILDING's maximum-balance rows (forced rescan, asserted to be
    exactly [BUILDING]) and inserts a new MACHINERY high plus a NEWSEG
    group (optimistic path, no rescan); the oracle recomputes the
    post-state extrema from scratch — min/max move exact values, so the
    two are bit-identical.

    Scale: refresh cost is O(changed buckets [the CDC] + rollup +
    affected segments' files); the full recompute the oracle performs is
    what this avoids at 100 TB."""
    from pucminas_data_pipelines_spark.operators.incremental import (
        apply_rollup_minmax_delta,
        rollup_minmax_from_scratch,
    )
    path = scratch_path("customer_mvt_minmax")
    shutil.rmtree(path, ignore_errors=True)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    t = ManifestVersionedTable(spark, path, key="c_custkey", n_buckets=16)
    t.overwrite(cust)  # v0
    t.optimize(cluster_by=["c_mktsegment"])  # v1: segment-clustered files
    rollup = rollup_minmax_from_scratch(
        t.read(), ["c_mktsegment"], "c_acctbal"
    ).localCheckpoint(eager=True)
    bmax = (
        t.read()
        .where(F.col("c_mktsegment") == "BUILDING")
        .agg(F.max("c_acctbal").alias("m"))
        .collect()[0]["m"]
    )
    t.delete_where(
        (F.col("c_mktsegment") == "BUILDING")
        & (F.col("c_acctbal") >= bmax)
    )  # v2: retract the stored maximum
    t.merge(
        spark.createDataFrame(
            [
                (-1, 9999.99, "MACHINERY"),
                (-2, 111.11, "NEWSEG"),
                (-3, 222.22, "NEWSEG"),
            ],
            "c_custkey bigint, c_acctbal double, c_mktsegment string",
        )
    )  # v3: optimistic inserts
    diff = version_diff(t, key="c_custkey", from_version=1, to_version=3)

    def rescan(groups):
        dfs = [
            t.read_where([("c_mktsegment", g, g)]) for (g,) in groups
        ]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    refreshed, affected = apply_rollup_minmax_delta(
        rollup, diff, ["c_mktsegment"], "c_acctbal", rescan,
        # join-pushed fallback (VERDICT r11 #4): above the cap the
        # marked groups never reach the driver — the base is semi-joined
        # instead; here the targeted path must win (asserted below)
        base=t.read(),
    )
    if affected != [("BUILDING",)]:
        raise AssertionError(
            f"rescan was not targeted: affected={affected}"
        )
    return refreshed.select(
        "c_mktsegment",
        "n",
        F.col("vmin").alias("min_balance"),
        F.col("vmax").alias("max_balance"),
    ).orderBy("c_mktsegment")


@query(
    "mutation_manifest_zorder_scan",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST(o_custkey AS BIGINT) AS o_custkey,
           o_totalprice
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 200
      AND o_totalprice BETWEEN 50000 AND 100000
    ORDER BY o_orderkey
    """,
)
def mutation_manifest_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER compaction + 2-D stats-pruned scan (operators/upsert.py
    optimize(zorder_by=...) + read_where): orders lands in a manifest
    table, OPTIMIZE Z-orders the layout on (o_custkey, o_totalprice) via
    the Morton interleave (functions/zorder.py), and a rectangle probe
    on BOTH dimensions plans only the files whose footer-harvested
    bounds overlap — Delta OPTIMIZE ZORDER + data skipping. The query
    asserts both SINGLE-dimension probes prune (the Z-curve property a
    lexicographic sort lacks: its trailing column prunes nothing —
    differential receipt in tests/test_manifest_table.py), then returns
    the rectangle's rows; the oracle is the plain filter.

    Scale: a 2-D predicate on a 100 TB Z-ordered table reads
    ~O(sqrt-of-selectivity) of the files per dimension instead of all
    of them; pruning happens at PLAN time from manifest stats — zero
    data reads for skipped files."""
    path = scratch_path("orders_mvt_zorder")
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = ManifestVersionedTable(spark, path, key="o_orderkey", n_buckets=4)
    t.overwrite(orders)
    t.optimize(zorder_by=["o_custkey", "o_totalprice"], files_per_bucket=8)
    m = t._manifest(t.latest_version())
    total_files = sum(len(fs) for fs in m.get("file_stats", {}).values())

    # r13 (guide §1.2/§5): ask the PLANNER how many files each probe
    # rectangle plans (planned_paths — pure manifest arithmetic, zero
    # Spark jobs) instead of scanning the survivors to count them via
    # input_file_name(), which paid a full probe-scan job per assert and
    # measured post-residual-filter participation rather than pruning.
    def planned_files(ranges):
        return len(t.planned_paths(ranges))

    nx = planned_files([("o_custkey", 100, 200)])
    ny = planned_files([("o_totalprice", 50000.0, 100000.0)])
    if not (nx < total_files and ny < total_files):
        raise AssertionError(
            f"z-order must prune on BOTH dims: x {nx}/{total_files}, "
            f"y {ny}/{total_files}"
        )
    return t.read_where(
        [("o_custkey", 100, 200), ("o_totalprice", 50000.0, 100000.0)]
    ).select("o_orderkey", "o_custkey", "o_totalprice").orderBy("o_orderkey")


@query(
    "mutation_manifest_drop_column",
    oracle=f"""
    SELECT CAST(passengerid AS INTEGER) AS passengerid,
           CAST(survived AS INTEGER) AS survived,
           CAST(fare AS DOUBLE) AS fare
    FROM (VALUES {{rows}}) t(passengerid, survived, pclass, name, sex, age,
                             sibsp, parch, ticket, fare, cabin, embarked)
    ORDER BY passengerid
    """.format(rows=_values(_expected_merged())),
)
def mutation_manifest_drop_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta ALTER TABLE DROP COLUMN (operators/upsert.py drop_column):
    nine of the twelve titanic columns leave the table as METADATA-ONLY
    commits — zero data files rewritten (the manifest's schema is
    authoritative, so the manifest-pinned reader stops projecting them
    instantly) — and the post-MERGE state reads back with exactly the
    surviving three columns; time travel to the pre-drop version still
    serves all twelve. Bucket-key protection, constraint/generated
    reference guards, and the dropped-name re-add refusal (the hazard
    Delta's column-mapping ids exist for) are pinned in
    tests/test_manifest_table.py."""
    table = _run_manifest_scenario(
        spark, scratch_path("titanic_mvt_dropcol")
    )
    for col in [
        "Pclass", "Name", "Sex", "Age", "SibSp",
        "Parch", "Ticket", "Cabin", "Embarked",
    ]:
        table.drop_column(col)
    if len(table.read(version_as_of=1).columns) != 12:
        raise AssertionError("time travel lost the pre-drop layout")
    return _lowered(table.read())


@query(
    "mutation_manifest_rebucket",
    oracle=_TYPED_SELECT.format(rows=_values(_expected_merged())),
)
def mutation_manifest_rebucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-count evolution (operators/upsert.py rebucket — the
    Iceberg partition-evolution move): the merge scenario's 4-bucket
    table is re-hashed to 16 buckets in one audited commit; content is
    bit-identical (the oracle is the same post-MERGE state), point
    reads prune against the NEW bucketing, and a write staged under the
    old count refuses to splice (pinned in test_manifest_table.py).
    At 100 TB this is what saves a table created small: without it the
    creation-time bucket count makes every merge rewrite 1/16th of the
    table forever."""
    table = _run_manifest_scenario(
        spark, scratch_path("titanic_mvt_rebucket")
    )
    v = table.rebucket(16)
    m = table._manifest(v)
    if m["n_buckets"] != 16:
        raise AssertionError(f"rebucket did not land: {m['n_buckets']}")
    probe = table.read_keys([1, 892])
    if probe.count() != 2:
        raise AssertionError("post-rebucket point read missed keys")
    return _lowered(table.read())


@query(
    "mutation_manifest_rebucket_incremental",
    oracle=_TYPED_SELECT.format(rows=_values(_expected_merged())),
)
def mutation_manifest_rebucket_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental bucket-count evolution (operators/upsert.py
    rebucket_incremental, VERDICT r11 #3): the merge scenario's 4-bucket
    table migrates to 16 by power-of-two splitting — one bucket per OCC
    commit instead of full rebucket()'s single O(table) rewrite, the one
    operation a 100 TB table cannot stage. The query pauses mid-flight
    (max_splits=2), proves the half-migrated table still answers reads
    and point lookups AND accepts an append that a later split absorbs,
    then resumes to completion; the final content equals the full
    rewrite's (same oracle), minus the probe-row append it retracts via
    a post-migration delete. Mixed-generation reads, mid-flight OCC
    appends and rewrite refusals are pinned in
    tests/test_manifest_table.py."""
    table = _run_manifest_scenario(
        spark, scratch_path("titanic_mvt_rebucket_inc")
    )
    v = table.rebucket_incremental(16, max_splits=2)
    m = table._manifest(v)
    if m.get("rebucket_target") != 16 or not m.get("buckets_next"):
        raise AssertionError("migration did not pause mid-flight")
    # mid-flight: reads union both generations; appends keep landing
    table.append(
        from_rows(
            spark,
            [(899, 0, 3, "Mid, Sr. Flight", "male", 33.0, 0, 0, None,
              7.5, None, "S")],
            TITANIC_DDL,
        )
    )
    if table.read_keys([1, 892, 899]).count() != 3:
        raise AssertionError("mid-migration point read missed keys")
    v = table.rebucket_incremental(16)  # resume to completion
    m = table._manifest(v)
    if m["n_buckets"] != 16 or "rebucket_target" in m:
        raise AssertionError("incremental rebucket did not finish")
    table.delete_where(F.col("PassengerId") == 899)  # retract the probe row
    return _lowered(table.read())


@query(
    "mutation_manifest_rebucket_shrink",
    oracle=_TYPED_SELECT.format(rows=_values(_expected_merged())),
)
def mutation_manifest_rebucket_shrink(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Metadata-only bucket SHRINK (operators/upsert.py
    rebucket_incremental, r12): pmod(h, B/k) = pmod(h, B) mod B/k, so
    collapsing the merge scenario's 16-bucket layout back to 4 merges
    dir lists in ONE commit — zero bytes rewritten (the query asserts
    the dir set is IDENTICAL before and after), content bit-equal to
    the oracle, point reads pruning against the merged map. The free
    escape for an over-bucketed table (created for a projected size
    that never came) whose tiny buckets tax every scan's planning."""
    table = _run_manifest_scenario(
        spark, scratch_path("titanic_mvt_rebucket_shrink"), n_buckets=16
    )
    before = set(
        ManifestVersionedTable._all_dirs(table._manifest(table.latest_version()))
    )
    v = table.rebucket_incremental(4)
    m = table._manifest(v)
    if m["n_buckets"] != 4:
        raise AssertionError(f"shrink did not land: {m['n_buckets']}")
    if set(ManifestVersionedTable._all_dirs(m)) != before:
        raise AssertionError("shrink rewrote data (must be metadata-only)")
    if table.read_keys([1, 892]).count() != 2:
        raise AssertionError("post-shrink point read missed keys")
    return _lowered(table.read())


_MIDMIG_ROW_894 = (
    894, 1, 2, "Mid, Mrs. Migration", "female", 29.0, 0, 0, None,
    13.0, None, "Q",
)


def _expected_midmig_merge() -> list[tuple]:
    out = []
    for r in _expected_merged():
        if r[0] == 6:
            continue  # deleted through the paused migration
        out.append((r[0], 1) + r[2:] if r[0] == 3 else r)
    return out + [_MIDMIG_ROW_894]


@query(
    "mutation_manifest_rebucket_concurrent_merge",
    oracle=_TYPED_SELECT.format(rows=_values(_expected_midmig_merge())),
)
def mutation_manifest_rebucket_concurrent_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Generation-aware mutations DURING an in-flight incremental
    rebucket (operators/upsert.py stage_merge/stage_delete_where +
    _write_buckets_two_gen, VERDICT r12 #2): the merge scenario's
    4-bucket table starts migrating to 16, PAUSES mid-way
    (max_splits=2, both generations populated), and then a MERGE
    (update key 3, insert key 894) and a copy-on-write DELETE (key 6)
    land THROUGH the paused migration — each reads a key's rows from
    whichever generation holds them and routes the rewrite back by
    residence in one two-generation write. The migration then resumes
    to completion and the content equals the migrate-then-mutate
    result (the oracle). At 100 TB a migration is long-lived; locking
    out hourly MERGE for its duration was the one availability gap
    left in the commit layer. The OCC storm interleaving splits and
    merges is pinned in tests/test_manifest_table.py."""
    table = _run_manifest_scenario(
        spark, scratch_path("titanic_mvt_rebucket_midmig")
    )
    v = table.rebucket_incremental(16, max_splits=2)
    m = table._manifest(v)
    if m.get("rebucket_target") != 16 or not m.get("buckets_next"):
        raise AssertionError("migration did not pause mid-flight")
    upd = (
        from_rows(spark, TITANIC_BASE_ROWS, TITANIC_DDL)
        .where(F.col("PassengerId") == 3)
        .withColumn("Survived", F.lit(1))
    )
    ins = from_rows(spark, [_MIDMIG_ROW_894], TITANIC_DDL)
    table.merge(upd.union(ins))  # lands mid-migration
    table.delete_where(F.col("PassengerId") == 6)  # likewise
    m = table._manifest(table.latest_version())
    if m.get("rebucket_target") != 16:
        raise AssertionError("mutations must not finish the migration")
    if table.read_keys([3, 894]).count() != 2:
        raise AssertionError("mid-migration point read missed merged keys")
    v = table.rebucket_incremental(16)  # resume to completion
    m = table._manifest(v)
    if m["n_buckets"] != 16 or "rebucket_target" in m:
        raise AssertionError("incremental rebucket did not finish")
    return _lowered(table.read())


@query(
    "mutation_manifest_dv_delete_during_rebucket",
    oracle=_TYPED_SELECT.format(
        rows=_values(
            [r for r in _expected_merged() if r[0] not in (6, 892)]
        )
    ),
)
def mutation_manifest_dv_delete_during_rebucket(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Merge-on-read DELETE (deletion vectors) DURING an in-flight
    incremental rebucket (operators/upsert.py stage_delete_where
    merge_on_read + the dir-preservation OCC check, r13): the merge
    scenario's 4-bucket table starts migrating to 16, PAUSES mid-way
    (max_splits=2), and a DV delete of keys 6 and 892 lands THROUGH
    the paused migration — marks reference whichever generation's file
    holds each row, zero data files rewritten (the GDPR point-delete
    cost model must not stop for a week-long 100 TB migration). Reads
    mask the marks immediately; the resumed splits SUBTRACT marks on
    old-generation files at read time, and the FINISH commit FILTERS
    the sidecars by surviving dir (target-generation marks survive,
    baked-in old-generation marks drop) instead of dropping the list
    wholesale. Content equals the oracle's migrate-then-delete result.
    Race matrix (split-consumes-marked-bucket refuses the staged DV;
    unrelated splits rebase; concurrent DV/split storm) is pinned in
    tests/test_rebucket_dv.py."""
    table = _run_manifest_scenario(
        spark, scratch_path("titanic_mvt_rebucket_dv")
    )
    v = table.rebucket_incremental(16, max_splits=2)
    m = table._manifest(v)
    if m.get("rebucket_target") != 16 or not m.get("buckets_next"):
        raise AssertionError("migration did not pause mid-flight")
    table.delete_where(
        F.col("PassengerId").isin(6, 892), mode="merge_on_read"
    )
    m = table._manifest(table.latest_version())
    if m.get("rebucket_target") != 16:
        raise AssertionError("the DV delete must not finish the migration")
    if not m.get("deletion_vectors"):
        raise AssertionError("merge-on-read delete must commit a sidecar")
    if table.read_keys([6, 892]).count() != 0:
        raise AssertionError("marks must mask rows mid-migration")
    v = table.rebucket_incremental(16)  # resume to completion
    m = table._manifest(v)
    if m["n_buckets"] != 16 or "rebucket_target" in m:
        raise AssertionError("incremental rebucket did not finish")
    if table.read_keys([6, 892]).count() != 0:
        raise AssertionError("deletes resurrected across the FINISH swap")
    return _lowered(table.read())


@query(
    "streaming_manifest_cdf_replay",
    oracle=_TYPED_SELECT.format(rows=_values(_expected_merged())),
)
def streaming_manifest_cdf_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FULL-HISTORY CDF replay (r12, sources/manifest_cdf.py
    startingVersion=-1 — Delta readChangeFeed startingVersion=0): the
    merge scenario's entire commit history streams as row-level changes
    (v0's overwrite arrives as inserts diffed against the empty table,
    the MERGE as insert + pre/post-image pairs), and the snapshot is
    RECONSTRUCTED from the feed alone with one window: per key, the
    newest non-preimage change wins; a winning delete drops the key.
    Equality with the oracle (the post-MERGE state) proves the feed is
    lossless end-to-end — the property every downstream CDC consumer
    (indexer, cache, replica) silently depends on. At 100 TB this is
    how a replica bootstraps WITHOUT coordinating a snapshot handoff:
    one stream serves both backfill and tail."""
    from pyspark.sql import Window

    from pucminas_data_pipelines_spark.sources.manifest_cdf import (
        ManifestCDFDataSource,
    )

    table = _run_manifest_scenario(
        spark, scratch_path("titanic_mvt_cdf_replay")
    )
    try:
        spark.dataSource.register(ManifestCDFDataSource)
    except Exception:
        pass
    out_dir = scratch_path("titanic_mvt_cdf_replay_out")
    ckpt = scratch_path("titanic_mvt_cdf_replay_ckpt")
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    q = (
        spark.readStream.format("manifest_cdf")
        .option("path", scratch_path("titanic_mvt_cdf_replay"))
        .option("startingVersion", -1)
        .load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    feed = spark.read.parquet(out_dir)
    # Deterministic intra-commit tie-breaker (ADVICE r12): if one commit
    # ever carries two non-preimage changes for a key (e.g. a DV delete
    # plus a re-insert in the same version), the insert/postimage must
    # win — "delete" sorts after "insert"/"update_postimage" descending,
    # so order by _change_type desc makes delete lose the row_number race.
    w = Window.partitionBy("PassengerId").orderBy(
        F.col("_commit_version").desc(), F.col("_change_type").desc()
    )
    latest = (
        feed.where(F.col("_change_type") != "update_preimage")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .where(F.col("_change_type") != "delete")
        .drop("_rn", "_change_type", "_commit_version")
    )
    return _lowered(latest)


_AUTOCOMPACT_APPENDS = [
    (900 + i, 1, 3, f"Lote, Sr. N{i}", "male", 20.0 + i, 0, 0, None,
     10.0 + i, None, "S")
    for i in range(5)
]


@query(
    "mutation_manifest_autocompact",
    oracle=_TYPED_SELECT.format(
        rows=_values(_expected_merged() + _AUTOCOMPACT_APPENDS)
    ),
)
def mutation_manifest_autocompact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted auto-compaction (operators/upsert.py compact_buckets —
    Delta auto-compact at bucket grain): five single-row appends
    fragment the merge scenario's buckets, then compact_buckets
    rewrites ONLY the buckets past the file threshold — the query
    asserts at least one bucket compacted to a single dir, every
    sub-threshold bucket kept its exact (shared) directories, and a
    second call is a no-op (None, no empty commit). Content is the
    merge state plus the appended rows (the oracle). Full optimize()
    is O(table); this is O(fragmented buckets) — what keeps an
    append-heavy 100 TB table healthy without ever rewriting it
    whole. The rebase-over-concurrent-append behavior is pinned in
    tests/test_manifest_table.py."""
    table = _run_manifest_scenario(
        spark, scratch_path("titanic_mvt_autocompact")
    )
    for row in _AUTOCOMPACT_APPENDS:
        table.append(from_rows(spark, [row], TITANIC_DDL))
    before = table._manifest(table.latest_version())["buckets"]
    v = table.compact_buckets(max_files=2)
    if v is None:
        raise AssertionError("appends did not fragment past the threshold")
    after = table._manifest(v)["buckets"]
    frag = [b for b, ds in before.items() if len(ds) > 2]
    if not all(len(after[b]) == 1 for b in frag):
        raise AssertionError("fragmented buckets were not compacted")
    if not all(
        after.get(b) == before.get(b) for b in before if b not in frag
    ):
        raise AssertionError("sub-threshold buckets must share dirs")
    if table.compact_buckets(max_files=2) is not None:
        raise AssertionError("second compaction must be a no-op")
    return _lowered(table.read())


# Row appended by the RACING writer in the concurrent-writers scenario.
# Key 895 hashes to a bucket (n_buckets=4) disjoint from the merge
# source's buckets {0, 2} ({1, 5, 892, 893} under pmod(xxhash64, 4)) —
# the precondition that lets the staged merge REBASE over the winning
# append instead of refusing; the query asserts the disjointness.
_RACER_ROW = (895, 0, 3, "Livre, Sr. Caio", "male", 28.0, 0, 0, None, 9.5, None, "S")


@query(
    "mutation_manifest_concurrent_writers",
    oracle=_TYPED_SELECT.format(rows=_values(_expected_merged() + [_RACER_ROW])),
)
def mutation_manifest_concurrent_writers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OCC conflict RESOLUTION (operators/upsert.py commit_staged,
    Delta's commit retry/rebase under WriteSerializable): two writers
    race from the same v0 snapshot — a MERGE (the reference scenario's
    source: keys 1,5 updated + rows 892,893 inserted) is STAGED, then an
    ingest APPEND (row 895, disjoint bucket) wins version 1, then the
    staged merge publishes. Detection-only OCC would kill the merge with
    ConcurrentWriteError; the resolver sees the winner touched only
    disjoint buckets and rebases the merge's rewritten buckets onto the
    new snapshot, so BOTH commits land and the final state equals the
    serial schedule (merge result + appended row — the oracle). This is
    the streaming-ingest + maintenance-job topology every lakehouse
    runs; the full rebase-vs-refuse matrix is pinned in
    tests/test_occ_resolution.py."""
    path = scratch_path("titanic_mvt_occ")
    shutil.rmtree(path, ignore_errors=True)
    base = from_rows(spark, TITANIC_BASE_ROWS, TITANIC_DDL)
    table = ManifestVersionedTable(spark, path, key="PassengerId", n_buckets=4)
    table.overwrite(base)  # v0
    changed = base.where(F.col("PassengerId").isin(1, 5)).withColumn(
        "Survived", F.lit(1)
    )
    newrows = from_rows(spark, TITANIC_NEW_ROWS, TITANIC_DDL)
    staged = table.stage_merge(changed.union(newrows))  # reads v0
    table.append(from_rows(spark, [_RACER_ROW], TITANIC_DDL))  # wins v1
    v = table.commit_staged(staged)  # rebases onto v1 → v2
    ops = [h["operation"] for h in table.describe_history()]
    if v != 2 or ops != ["MERGE", "APPEND", "OVERWRITE"]:
        raise AssertionError(
            f"concurrent-writers scenario mis-staged: v={v}, ops={ops}"
        )
    return _lowered(table.read())


@query(
    "mutation_manifest_restore",
    oracle=_TYPED_SELECT.format(rows=_values(TITANIC_BASE_ROWS)),
)
def mutation_manifest_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta RESTORE on the manifest table (operators/upsert.py restore):
    after a MERGE and a DELETE, restoring version 0 commits a NEW version
    whose manifest points at version 0's shared, immutable files — no
    data is written, history moves forward (the restore is itself an
    audited commit, visible in describe_history as RESTORE(v=0)) and the
    table reads exactly as it did before any mutation; the oracle is the
    base fixture verbatim. Operation log + shared-files invariants are
    pinned in tests/test_manifest_table.py."""
    table = _run_manifest_scenario(spark, scratch_path("titanic_mvt_restore"))
    table.delete_where(F.col("Survived") == 0)
    table.restore(0)
    return _lowered(table.read())


@query(
    "mutation_manifest_delta_export",
    oracle=_TYPED_SELECT.format(rows=_values(_expected_merged())),
)
def mutation_manifest_delta_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outbound Delta interop (operators/upsert.py export_delta_log +
    operators/deltalog.py DeltaLogReader): the manifest table's current
    snapshot is exported as a PUBLIC-format _delta_log (protocol,
    metaData, txns + one add per shared data file — nothing copied) and read
    back purely through the protocol reader. The round trip through the
    public format must reproduce the post-MERGE state exactly (same
    oracle as mutation_merge_upsert); any Delta engine could do the
    read half. Refusal on outstanding deletion vectors and the
    DV→optimize→export path are pinned in tests/test_deltalog.py."""
    from pucminas_data_pipelines_spark.operators.deltalog import DeltaLogReader

    table = _run_manifest_scenario(
        spark, scratch_path("titanic_mvt_export")
    )
    table.export_delta_log()
    return _lowered(DeltaLogReader(spark, table.path).read())


@query(
    "mutation_manifest_delta_tail",
    oracle=_TYPED_SELECT.format(rows=_values(_expected_merged())),
)
def mutation_manifest_delta_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TAILABLE Delta-log export (operators/upsert.py
    export_delta_log_tail, r11): the manifest commit HISTORY — not just
    the snapshot — is mirrored into the public format one JSON per
    commit (base adds, then file-level add/remove diffs), and the
    protocol reader replays it: versionAsOf=0 must equal the
    pre-merge base and the latest must equal the post-MERGE state (the
    oracle). Re-export after new commits appends only the new log
    entries — the contract that lets an external Delta engine tail
    this table; per-version parity, snapshot+tail composition and DV
    refusal are pinned in tests/test_deltalog.py."""
    from pucminas_data_pipelines_spark.operators.deltalog import DeltaLogReader

    table = _run_manifest_scenario(
        spark, scratch_path("titanic_mvt_tail")
    )
    written = table.export_delta_log_tail()
    reader = DeltaLogReader(spark, table.path)
    base_n = reader.read(version_as_of=0).count()
    if len(written) != 2 or base_n != len(TITANIC_BASE_ROWS):
        raise AssertionError(
            f"tail export mis-shaped: {len(written)} commits, "
            f"v0 rows {base_n}"
        )
    return _lowered(reader.read())


@query(
    "mutation_manifest_shallow_clone",
    oracle="""
    WITH src AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events WHERE event_id % 2 = 0 AND event_type <> 'click'
      GROUP BY event_type
    ),
    cl AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY event_type
    )
    SELECT 'clone' AS side, cl.* FROM cl
    UNION ALL
    SELECT 'source' AS side, src.* FROM src
    ORDER BY side, event_type
    """,
)
def mutation_manifest_shallow_clone(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SHALLOW CLONE (Delta CLONE semantics): fork the manifest table by
    committing a v0 manifest that references the source's data
    directories by absolute path — O(manifest) cost, zero bytes copied —
    then prove the forks are independent in BOTH directions: odd events
    are APPENDED to the clone (invisible to the source) and clicks are
    DELETED from the source (invisible to the clone, whose manifest
    still pins the pre-delete directories — copy-on-write rewrites new
    dirs, it never mutates shared ones). Expected: the clone aggregates
    ALL events, the source aggregates even non-clicks.

    Scale: this is how a 100 TB table gets a dev/test fork in
    milliseconds; the clone's writes stay under its own root, and its
    vacuum can never reclaim source files (it sweeps only its own data
    root)."""
    import shutil as _sh

    from pucminas_data_pipelines_spark.tables import load_table

    src_path = scratch_path("mvt_clone_src")
    dst_path = scratch_path("mvt_clone_dst")
    for p in (src_path, dst_path):
        _sh.rmtree(p, ignore_errors=True)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    source = ManifestVersionedTable(spark, src_path, key="event_id", n_buckets=4)
    source.overwrite(events.where(F.col("event_id") % 2 == 0))
    clone = source.shallow_clone(dst_path)
    clone.append(events.where(F.col("event_id") % 2 == 1))
    source.delete_where(F.col("event_type") == "click")

    def _rollup(df: DataFrame, side: str) -> DataFrame:
        return (
            df.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_value"),
            )
            .select(F.lit(side).alias("side"), "*")
        )

    return (
        _rollup(clone.read(), "clone")
        .unionByName(_rollup(source.read(), "source"))
        .orderBy("side", "event_type")
    )


@query(
    "mutation_manifest_check_constraint",
    oracle="""
    SELECT 'clean_append_total' AS fact,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS n
    UNION ALL
    SELECT 'impossible_constraint_refused', CAST(1 AS BIGINT)
    UNION ALL
    SELECT 'rows_after_refusals',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM events WHERE event_id % 2 = 0)
    UNION ALL
    SELECT 'violating_append_refused', CAST(1 AS BIGINT)
    UNION ALL
    SELECT 'violating_merge_refused', CAST(1 AS BIGINT)
    ORDER BY fact
    """,
)
def mutation_manifest_check_constraint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHECK constraints (Delta ALTER TABLE ADD CONSTRAINT semantics):
    a committed `value >= 0` constraint gates every later write — an
    appended batch and a merge source carrying negated values are both
    REFUSED loudly (not filtered: silently dropping violating rows would
    hide upstream corruption), the table is provably unchanged after the
    refusals, adding a constraint the EXISTING snapshot violates is
    itself refused, and a clean append still commits. Constraint commits
    are metadata-only (all data files shared).

    Each fact row encodes one contract outcome; the oracle recomputes
    the expected row counts straight from events."""
    import shutil as _sh

    from pucminas_data_pipelines_spark.tables import load_table

    path = scratch_path("mvt_check_constraint")
    _sh.rmtree(path, ignore_errors=True)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    evens = events.where(F.col("event_id") % 2 == 0)
    odds = events.where(F.col("event_id") % 2 == 1)
    table = ManifestVersionedTable(spark, path, key="event_id", n_buckets=4)
    table.overwrite(evens)
    table.add_constraint("value_nonneg", "value >= 0")

    def _refused(fn) -> int:
        try:
            fn()
            return 0
        except ValueError:
            return 1

    bad = odds.withColumn("value", -F.abs(F.col("value")) - F.lit(1.0))
    append_refused = _refused(lambda: table.append(bad))
    merge_refused = _refused(lambda: table.merge(bad))
    impossible_refused = _refused(
        lambda: table.add_constraint("impossible", "value > 1e12")
    )
    rows_after = table.read().count()
    table.append(odds)  # clean batch still commits
    total = table.read().count()
    return spark.createDataFrame(
        [
            ("clean_append_total", total),
            ("impossible_constraint_refused", impossible_refused),
            ("rows_after_refusals", rows_after),
            ("violating_append_refused", append_refused),
            ("violating_merge_refused", merge_refused),
        ],
        "fact string, n bigint",
    ).orderBy("fact")


@query(
    "mutation_manifest_generated_column",
    oracle="""
    SELECT CAST(FLOOR(value / 50) AS INT) AS value_band,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1
    UNION ALL
    SELECT -1, CAST(1 AS BIGINT)
    ORDER BY value_band
    """,
)
def mutation_manifest_generated_column(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GENERATED ALWAYS AS columns (Delta generated-column semantics):
    the table declares value_band = FLOOR(value/50) at creation; both
    the initial overwrite and a later append OMIT the column and get it
    computed server-side, while an append carrying a WRONG value_band is
    REFUSED (validated against the expression, not trusted). The final
    per-band rollup equals computing the expression over all events
    directly — which is exactly what the oracle does; the sentinel
    (-1, 1) row encodes the refusal outcome."""
    import shutil as _sh

    from pucminas_data_pipelines_spark.tables import load_table

    path = scratch_path("mvt_generated_col")
    _sh.rmtree(path, ignore_errors=True)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    table = ManifestVersionedTable(spark, path, key="event_id", n_buckets=4)
    table.overwrite(
        events.where(F.col("event_id") % 2 == 0),
        generated={"value_band": "CAST(FLOOR(value / 50) AS INT)"},
    )
    table.append(events.where(F.col("event_id") % 2 == 1))
    wrong = (
        events.where(F.col("event_id") % 2 == 1)
        .withColumn("event_id", F.col("event_id") + 10_000_000)
        .withColumn("value_band", F.lit(999))
    )
    try:
        table.append(wrong)
        refused = 0
    except ValueError:
        refused = 1
    rollup = table.read().groupBy("value_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    sentinel = spark.createDataFrame(
        [(-1, refused)], "value_band int, n_events bigint"
    )
    return rollup.unionByName(sentinel).orderBy("value_band")


@query(
    "mutation_tpch_refresh",
    oracle="""
    WITH after AS (
      SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey >= 1500
      UNION ALL
      SELECT 'R1', o_totalprice FROM orders WHERE o_orderkey % 10 = 0
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM after GROUP BY 1 ORDER BY 1
    """,
)
def mutation_tpch_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H refresh functions against the manifest table: RF1 appends a
    10% batch of new orders (re-keyed, status 'R1' — O(new data), the
    add-files commit) and RF2 deletes the oldest 10% key range (one
    scan finds affected buckets, only those rewrite) — the
    insert/delete maintenance stream the TPC-H spec pairs with its
    query set, here exercising the versioned table's two asymmetric
    write paths back to back. The post-refresh per-status rollup equals
    the oracle's direct reconstruction from the base table.

    Scale: RF1 never reads existing data; RF2's cost is the affected
    buckets only; history keeps all three states time-travelable."""
    import shutil as _sh

    from pucminas_data_pipelines_spark.tables import load_table

    path = scratch_path("mvt_tpch_refresh")
    _sh.rmtree(path, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    table = ManifestVersionedTable(spark, path, key="o_orderkey", n_buckets=8)
    table.overwrite(orders)
    rf1 = (
        orders.where(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(1_000_000))
        .withColumn("o_orderstatus", F.lit("R1"))
    )
    table.append(rf1)
    table.delete_where(F.col("o_orderkey") < 1500)
    return (
        table.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )
