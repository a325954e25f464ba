"""Change-data-feed streaming source (sources/manifest_cdf.py): per
commit, the emitted row-level changes must equal the batch
version_diff (its differential twin), appends must plan as pure insert
partitions (no pre-image read), DV deletes must fetch exactly the
marked rows, and non-replayable history (schema evolution, REBUCKET,
DV rewrites, rewrites over outstanding DVs) must refuse loudly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pucminas_data_pipelines_spark.operators.upsert import (
    ManifestVersionedTable,
    version_diff,
)
from pucminas_data_pipelines_spark.sources.manifest_cdf import (
    ManifestCDFStreamReader,
    _BucketDiffPartition,
    _InsertDirPartition,
)
from pucminas_data_pipelines_spark.tables import load_table
from tests.conftest import SF_SMOKE

@pytest.fixture()
def table(spark, tmp_path):
    t = ManifestVersionedTable(
        spark, str(tmp_path / "t"), key="event_id", n_buckets=4
    )
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "event_type", "value"
    )
    t.overwrite(ev.where(F.col("event_id") % 3 == 0))
    return t, ev


def _reader(t, start=0) -> ManifestCDFStreamReader:
    return ManifestCDFStreamReader({"path": t.path, "startingVersion": start})


def _changes(reader, start_v, end_v):
    rows = []
    for p in reader.partitions({"version": start_v}, {"version": end_v}):
        for batch in reader.read(p):
            rows.extend(batch.to_pylist())
    return rows


def test_append_plans_insert_partitions_only(table):
    t, ev = table
    t.append(ev.where(F.col("event_id") % 3 == 1))
    r = _reader(t)
    parts = r.partitions({"version": 0}, {"version": 1})
    assert parts and all(isinstance(p, _InsertDirPartition) for p in parts)
    rows = _changes(r, 0, 1)
    assert len(rows) == ev.where(F.col("event_id") % 3 == 1).count()
    assert {row["_change_type"] for row in rows} == {"insert"}
    assert {row["_commit_version"] for row in rows} == {1}


def test_merge_changes_equal_batch_version_diff(table, spark):
    t, ev = table
    src = (
        ev.where((F.col("event_id") % 30 == 0))
        .withColumn("value", F.col("value") + F.lit(1.0))
        .unionByName(
            spark.createDataFrame(
                [(-1, "click", 7.0), (-2, "purchase", 8.0)],
                "event_id bigint, event_type string, value double",
            )
        )
    )
    t.merge(src)
    got = {
        (row["event_id"], row["_change_type"])
        for row in _changes(_reader(t), 0, 1)
    }
    want = {
        (row["event_id"], row["_change_type"])
        for row in version_diff(t, "event_id", 0, 1).collect()
    }
    assert got == want and want  # non-empty and identical


def test_dv_delete_emits_exactly_the_marked_rows(table, spark):
    t, ev = table
    t.delete_where(F.col("event_type") == "click", mode="merge_on_read")
    rows = _changes(_reader(t), 0, 1)
    assert rows and {r["_change_type"] for r in rows} == {"delete"}
    want = sorted(
        r["event_id"]
        for r in t.read(version_as_of=0)
        .where(F.col("event_type") == "click")
        .collect()
    )
    assert sorted(r["event_id"] for r in rows) == want


def test_multi_commit_batch_covers_each_version(table, spark):
    t, ev = table
    t.append(ev.where(F.col("event_id") % 3 == 1))   # v1
    t.merge(
        spark.createDataFrame(
            [(-5, "view", 1.0)],
            "event_id bigint, event_type string, value double",
        )
    )                                                # v2
    rows = _changes(_reader(t), 0, 2)
    by_v = {}
    for r in rows:
        by_v.setdefault(r["_commit_version"], []).append(r)
    assert set(by_v) == {1, 2}
    assert {r["_change_type"] for r in by_v[1]} == {"insert"}
    assert [
        (r["event_id"], r["_change_type"]) for r in by_v[2]
    ] == [(-5, "insert")]


def test_non_replayable_history_refuses(table, spark, tmp_path):
    t, ev = table
    # schema evolution
    t.append(
        ev.where(F.col("event_id") % 3 == 1).withColumn(
            "extra", F.lit(1)
        ),
        merge_schema=True,
    )
    with pytest.raises(ValueError, match="schema changed"):
        _reader(t).partitions({"version": 0}, {"version": 1})
    # bucket-count change
    t2 = ManifestVersionedTable(
        spark, str(tmp_path / "t2"), key="event_id", n_buckets=4
    )
    t2.overwrite(ev.where(F.col("event_id") % 3 == 0))
    t2.rebucket(8)
    with pytest.raises(ValueError, match="bucket count"):
        _reader(t2).partitions({"version": 0}, {"version": 1})
    # rewrite over outstanding DVs
    t3 = ManifestVersionedTable(
        spark, str(tmp_path / "t3"), key="event_id", n_buckets=4
    )
    t3.overwrite(ev.where(F.col("event_id") % 3 == 0))
    t3.delete_where(F.col("event_type") == "click", mode="merge_on_read")
    t3.merge(
        spark.createDataFrame(
            [(0, "view", 9.0)],
            "event_id bigint, event_type string, value double",
        )
    )
    with pytest.raises(ValueError, match="outstanding"):
        _reader(t3).partitions({"version": 1}, {"version": 2})


def test_empty_range_yields_one_empty_partition(table):
    r = _reader(table[0])
    parts = r.partitions({"version": 0}, {"version": 0})
    assert len(parts) == 1
    assert list(r.read(parts[0])) == []


def test_compaction_emits_no_phantom_changes(table, spark):
    """OPTIMIZE rewrites every bucket but changes no rows — the CDF's
    key-level diff must emit ZERO changes for it (a file-grain feed
    would re-emit the whole table; phantom changes double-count every
    downstream consumer)."""
    t, ev = table
    t.append(ev.where(F.col("event_id") % 3 == 1))  # v1: fragment
    t.optimize()                                    # v2: full rewrite
    assert _changes(_reader(t), 1, 2) == []


def test_dv_coalesce_is_not_streamable(table):
    """coalesce_deletion_vectors REWRITES the DV list (N sidecars -> 1);
    row-grain attribution across that commit is lost, so the feed must
    refuse it loudly rather than re-emit or skip deletes."""
    t, _ = table
    t.delete_where(F.col("event_type") == "click", mode="merge_on_read")
    t.delete_where(F.col("event_type") == "view", mode="merge_on_read")
    v = t.coalesce_deletion_vectors()
    r = _reader(t)
    # the two DELETE commits stream fine...
    assert {row["_change_type"] for row in _changes(r, 0, 2)} == {"delete"}
    # ...the coalesce commit refuses
    with pytest.raises(ValueError, match="rewritten"):
        r.partitions({"version": 2}, {"version": v})


def test_pre_stream_schema_evolution_null_fills_preimages(table, spark):
    """ADVICE r11 #2: a column added by merge_schema BEFORE the streamed
    range must not crash pre-image reads of older files (ArrowInvalid
    'No match for FieldRef') — the scan is pinned to the manifest
    schema, like the batch _reader(t), and old files serve NULL."""
    t, ev = table
    t.append(  # v1: schema evolution — v0's files lack `extra`
        ev.where(F.col("event_id") % 3 == 1).withColumn("extra", F.lit(1)),
        merge_schema=True,
    )
    t.merge(  # v2: rewrites buckets holding PRE-evolution (v0) files
        spark.createDataFrame(
            [(0, "view", 9.0, 2), (3, "view", 9.5, 2)],
            "event_id bigint, event_type string, value double, extra int",
        )
    )
    rows = _changes(_reader(t, start=1), 1, 2)
    assert rows, "evolved-history pre-image read returned nothing"
    pre = {r["event_id"]: r for r in rows if r["_change_type"] == "update_preimage"}
    # pre-images from v0-era files null-fill the later-added column
    assert pre and all(r["extra"] is None for r in pre.values())
    post = {r["event_id"]: r for r in rows if r["_change_type"] == "update_postimage"}
    assert {r["extra"] for r in post.values()} == {2}
    # DV deletes across the same evolved history: also pinned-schema
    t.delete_where(F.col("event_id") == 6, mode="merge_on_read")  # v3: v0-era row
    dels = [r for r in _changes(_reader(t, start=2), 2, 3) if r["_change_type"] == "delete"]
    assert [r["event_id"] for r in dels] == [6]
    assert dels[0]["extra"] is None


def test_nan_passthrough_emits_no_spurious_updates(spark, tmp_path):
    """ADVICE r11 #4: NaN != NaN in naive float equality — a bucket
    rewrite that copies a NaN-valued row through unchanged must not
    emit an update_preimage/update_postimage pair for it."""
    t = ManifestVersionedTable(
        spark, str(tmp_path / "t"), key="event_id", n_buckets=1
    )
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", float("nan")), (2, "b", 5.0)],
            "event_id bigint, event_type string, value double",
        )
    )
    t.merge(  # rewrites the single bucket; row 1 (NaN) copies through
        spark.createDataFrame(
            [(2, "b", 6.0)], "event_id bigint, event_type string, value double"
        )
    )
    rows = _changes(_reader(t), 0, 1)
    assert {r["event_id"] for r in rows} == {2}
    # NaN -> 7.0 IS a change and must still be emitted
    t.merge(
        spark.createDataFrame(
            [(1, "a", 7.0)], "event_id bigint, event_type string, value double"
        )
    )
    rows = _changes(_reader(t, start=1), 1, 2)
    assert {(r["event_id"], r["_change_type"]) for r in rows} == {
        (1, "update_preimage"),
        (1, "update_postimage"),
    }


def test_full_history_replay_from_version_minus_one(table, spark):
    """startingVersion=-1 is Delta's readChangeFeed startingVersion=0:
    version 0's rows arrive as inserts (diffed against the empty
    table), then each later commit's changes — replaying the whole feed
    reconstructs the current snapshot exactly."""
    t, ev = table
    t.append(ev.where(F.col("event_id") % 3 == 1))         # v1
    t.merge(                                                # v2
        spark.createDataFrame(
            [(0, "view", 42.0), (-5, "click", 1.0)],
            "event_id bigint, event_type string, value double",
        )
    )
    r = ManifestCDFStreamReader({"path": t.path, "startingVersion": -1})
    assert r.initialOffset() == {"version": -1}
    rows = _changes(r, -1, 2)
    v0_inserts = [x for x in rows if x["_commit_version"] == 0]
    assert len(v0_inserts) == ev.where(F.col("event_id") % 3 == 0).count()
    assert {x["_change_type"] for x in v0_inserts} == {"insert"}
    # replay the feed: apply inserts/deletes/post-images in commit order
    state: dict = {}
    for x in sorted(rows, key=lambda x: x["_commit_version"]):
        k = x["event_id"]
        if x["_change_type"] in ("insert", "update_postimage"):
            state[k] = (k, x["event_type"], x["value"])
        elif x["_change_type"] == "delete":
            state.pop(k, None)
    want = sorted(map(tuple, t.read().collect()))
    assert sorted(state.values()) == want


def test_starting_version_out_of_range_is_loud(table):
    path = table[0].path
    """ADVICE r12: startingVersion below -1 (or past the latest commit)
    rejects up front with a message naming the -1 full-replay sentinel,
    instead of a confusing 'version N does not exist' later inside
    partitions()."""
    with pytest.raises(ValueError, match="full-history replay"):
        ManifestCDFStreamReader({"path": path, "startingVersion": -5})
    with pytest.raises(ValueError, match="full-history replay"):
        ManifestCDFStreamReader({"path": path, "startingVersion": 999})
    # the sentinel itself and the latest version both construct fine
    ManifestCDFStreamReader({"path": path, "startingVersion": -1})
    ManifestCDFStreamReader({"path": path})
