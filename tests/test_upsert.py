"""Mutation-layer tests: the versioned table must reproduce the
reference's Delta scenario semantics (sparkcode/titanic_example_delta.py:
25-72): overwrite → merge upsert → time travel → manifest, plus delete."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pucminas_data_pipelines_spark.fixtures import (
    TITANIC_BASE_ROWS,
    TITANIC_DDL,
    TITANIC_NEW_ROWS,
)
from pucminas_data_pipelines_spark.io import from_rows
from pucminas_data_pipelines_spark.operators.upsert import ManifestVersionedTable


@pytest.fixture()
def table(spark, tmp_path):
    return ManifestVersionedTable(
        spark, str(tmp_path / "t"), key="PassengerId", n_buckets=4
    )


def _scenario(spark, table):
    base = from_rows(spark, TITANIC_BASE_ROWS, TITANIC_DDL)
    table.overwrite(base)
    changed = base.where(F.col("PassengerId").isin(1, 5)).withColumn(
        "Survived", F.lit(1)
    )
    newrows = from_rows(spark, TITANIC_NEW_ROWS, TITANIC_DDL)
    table.merge(changed.union(newrows), key="PassengerId")
    return table


def test_merge_upsert_semantics(spark, table):
    _scenario(spark, table)
    rows = {r["PassengerId"]: r for r in table.read().collect()}
    assert set(rows) == {1, 2, 3, 4, 5, 6, 892, 893}
    assert rows[1]["Survived"] == 1 and rows[5]["Survived"] == 1  # updated
    assert rows[2]["Survived"] == 1 and rows[6]["Survived"] == 0  # untouched
    assert rows[1]["Name"] == "Braund, Mr. Owen Harris"  # non-key cols kept
    assert rows[892]["Fare"] == 100.0 and rows[893]["Cabin"] == "B42"  # inserted
    assert rows[6]["Age"] is None  # None cells survive the round-trip


def test_time_travel_and_history(spark, table):
    _scenario(spark, table)
    assert table.history() == [0, 1]
    v0 = {r["PassengerId"]: r for r in table.read(version_as_of=0).collect()}
    assert set(v0) == {1, 2, 3, 4, 5, 6}
    assert v0[1]["Survived"] == 0  # pre-merge state intact
    with pytest.raises(ValueError):
        table.read(version_as_of=7)


def test_merge_aligns_source_column_order(spark, table):
    base = from_rows(spark, TITANIC_BASE_ROWS, TITANIC_DDL)
    table.overwrite(base)
    shuffled = base.select(*reversed(base.columns)).where(
        F.col("PassengerId") == 1
    ).withColumn("Survived", F.lit(1))
    table.merge(shuffled, key="PassengerId")
    row = table.read().where(F.col("PassengerId") == 1).collect()[0]
    assert row["Survived"] == 1 and row["Name"] == "Braund, Mr. Owen Harris"


def test_delete_where(spark, table):
    _scenario(spark, table)
    table.delete_where(F.col("Survived") == 0)
    ids = {r["PassengerId"] for r in table.read().collect()}
    assert ids == {1, 2, 3, 4, 5, 892, 893}  # 6 dropped (Survived=0)
    assert table.history() == [0, 1, 2]


def test_manifest_generation(spark, table):
    _scenario(spark, table)
    manifest = table.generate_manifest()
    assert os.path.exists(manifest)
    files = open(manifest).read().strip().splitlines()
    assert files and all(f.endswith(".parquet") for f in files)
    latest = table._manifest(table.latest_version())
    latest_dirs = {table._abs(d) for d in table._all_dirs(latest)}
    assert {os.path.dirname(f) for f in files} == latest_dirs


def test_merge_null_key_source_row_inserted(spark, table):
    """Delta MERGE semantics for a NULL merge key: a NULL-key source row
    never equi-matches, so whenNotMatchedInsertAll inserts it AS-IS — it
    must not collapse into an all-NULL row (the failure mode of keying
    presence off the source key instead of a sentinel flag)."""
    base = from_rows(spark, TITANIC_BASE_ROWS, TITANIC_DDL)
    table.overwrite(base)
    null_key_row = [(None, 1, 1, "Ghost, Mr. Null", "male", 30.0, 0, 0,
                     "NOKEY", 9.99, None, "S")]
    table.merge(from_rows(spark, null_key_row, TITANIC_DDL), key="PassengerId")
    rows = table.read().collect()
    assert len(rows) == len(TITANIC_BASE_ROWS) + 1
    ghost = [r for r in rows if r["PassengerId"] is None]
    assert len(ghost) == 1
    assert ghost[0]["Name"] == "Ghost, Mr. Null"  # inserted as-is
    assert ghost[0]["Fare"] == 9.99
    # target rows untouched
    assert {r["PassengerId"] for r in rows if r["PassengerId"] is not None} == {
        1, 2, 3, 4, 5, 6
    }


def test_version_diff_change_types(spark, table):
    """CDC diff v0→v1 over the merge: updates emit pre+post pairs, new
    keys emit inserts, untouched rows emit nothing."""
    from pucminas_data_pipelines_spark.operators.upsert import version_diff

    _scenario(spark, table)
    changes = {
        (r["PassengerId"], r["_change_type"])
        for r in version_diff(table, "PassengerId", 0, 1).collect()
    }
    assert changes == {
        (1, "update_preimage"), (1, "update_postimage"),
        (5, "update_preimage"), (5, "update_postimage"),
        (892, "insert"), (893, "insert"),
    }


def test_version_diff_identical_versions_empty(spark, table):
    from pucminas_data_pipelines_spark.operators.upsert import version_diff

    _scenario(spark, table)
    assert version_diff(table, "PassengerId", 1, 1).count() == 0


def test_version_diff_delete(spark, table):
    from pucminas_data_pipelines_spark.operators.upsert import version_diff

    _scenario(spark, table)
    table.delete_where(F.col("PassengerId") == 6)
    out = version_diff(table, "PassengerId", 1, 2).collect()
    assert [(r["PassengerId"], r["_change_type"]) for r in out] == [(6, "delete")]


def test_scd2_apply_four_cases_and_single_pass_plan(spark):
    """scd2_apply semantics on all four match cases (unchanged / changed
    -> closed+reopened / inserted / null-safe unchanged), and the plan
    pin for the r7 rewrite: the history is emitted in ONE pass — exactly
    one join and one Generate (explode), no Union — so the dimension
    join never executes once per row shape."""
    from pucminas_data_pipelines_spark.operators.upsert import scd2_apply

    cur = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None)], "k bigint, v string"
    )
    upd = spark.createDataFrame(
        [(2, "B"), (3, None), (4, "d")], "k bigint, v string"
    )
    hist = scd2_apply(cur, upd, "k", ["v"], from_version=1, to_version=2)
    rows = {
        (r.k, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in hist.collect()
    }
    assert rows == {
        (1, "a", 1, None, True),      # only in current: stays open at v1
        (2, "b", 1, 2, False),        # changed: old row closed at v2
        (2, "B", 2, None, True),      # changed: new row opens at v2
        (3, None, 1, None, True),     # null == null (null-safe): unchanged
        (4, "d", 2, None, True),      # brand new: opens at v2
    }
    plan = (
        hist._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]  # AQE prints the plan twice
    )
    assert "Union" not in plan
    assert plan.count("Generate") == 1  # one explode emits every row shape
    n_joins = sum(plan.count(j) for j in (
        "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
    ))
    assert n_joins == 1, plan
