"""Streaming SOURCE over a ManifestVersionedTable — the Delta streaming
source idea (reference sparkcode/titanic_example_delta.py:25-72 is the
batch side of that table format): a committed versioned table is ALSO an
exactly-once message log, because every commit is an immutable file-list
diff. `spark.readStream.format("manifest_stream")` tails the commit log:

- **offsets are commit versions** (`{"version": N}`) — tiny,
  checkpointable, and totally ordered by the table's optimistic-
  concurrency commit protocol;
- the first batch emits the **starting snapshot** (every file of the
  offset-(-1) resolution target, like Delta's initial-snapshot batch),
  later batches emit exactly the **directories added** by each APPEND
  commit — O(manifest diff) planning per micro-batch, never a table
  scan;
- each added directory becomes one InputPartition, so executors read
  the new files in parallel as Arrow record batches (the vectorized
  Python DataSource path — no per-row Python);
- the initial snapshot SUBTRACTS outstanding merge-on-read deletes
  (each partition ships its directory's DV row positions and masks
  them out — exactly what Delta's streaming initial snapshot serves);
- non-append history AFTER the snapshot (MERGE/DELETE/RESTORE
  rewrites, new deletion vectors, schema evolution) makes a version
  range non-replayable as an append-only stream, so the reader
  REFUSES it loudly — the same contract as Delta's streaming source
  without ignoreChanges/ignoreDeletes, where silently re-emitting
  rewritten buckets would double-count every surviving row downstream.

The table's on-disk log (manifests, the ``_LATEST`` hint, DV sidecars,
the manifest-pinned Arrow schema) is read through
operators/manifest_log.py. ``VersionOffsetReader`` here is the
commit-version offset protocol (``maxVersionsPerTrigger``, latest
offset, commit) this source shares with the change-feed source
(sources/manifest_cdf.py).

At 100 TB this is the standard lakehouse CDC fan-out: ingest commits
append every few minutes, and any number of downstream streams tail the
same table with independent checkpoints, each paying only the new
files' bytes per trigger.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from pucminas_data_pipelines_spark.operators import manifest_log

_APPEND_OK = {"APPEND"}


def open_table(options: dict) -> tuple[str, int]:
    """(absolute table root, latest version) for the ``path`` option;
    refuses a path that holds no manifest table."""
    path = os.path.abspath(options["path"].rstrip("/"))
    latest = manifest_log.latest_version(path)
    if latest < 0:
        raise ValueError(f"no manifest table at {path}")
    return path, latest


class VersionOffsetReader(DataSourceStreamReader):
    """The commit-version offset protocol both manifest stream sources
    share: offsets are ``{"version": N}``, the latest offset is the
    table's latest commit, optionally capped by
    ``maxVersionsPerTrigger``. ``initialOffset``, ``partitions`` and
    ``read`` are each source's own."""

    def __init__(self, options: dict):
        self.path, self.opened_version = open_table(options)
        # Delta maxFilesPerTrigger analogue at commit grain: bound how
        # many versions one micro-batch may cover, so a stream starting
        # against a long backlog drains it in bounded batches instead
        # of planning months of commits into one. 0/absent = unbounded.
        self.max_versions = int(options.get("maxVersionsPerTrigger", 0))
        self._progress: int | None = None  # newest offset seen locally

    def _note_progress(self, version: int) -> None:
        if self._progress is None or version > self._progress:
            self._progress = version

    def _rate_limited(self, latest: int) -> int:
        """Cap the batch end at progress + maxVersionsPerTrigger.
        RESTART-SAFE by construction: the cap applies only once this
        process has observed an offset (initialOffset on a fresh start,
        or the checkpointed start passed to partitions()); the first
        trigger after a checkpoint resume therefore runs uncapped —
        returning a capped offset BEHIND an unseen checkpoint would
        regress the offset log and re-emit committed versions."""
        if self.max_versions > 0 and self._progress is not None:
            return min(latest, self._progress + self.max_versions)
        return latest

    def latestOffset(self) -> dict:
        return {
            "version": self._rate_limited(manifest_log.latest_version(self.path))
        }

    def commit(self, end: dict) -> None:
        # offsets live in the stream checkpoint; remember the committed
        # watermark so the rate limiter advances batch by batch
        self._note_progress(end["version"])


class _DirPartition(InputPartition):
    """One manifest-added data directory = one executor read task.

    ``dv_rows`` (initial-snapshot batches only) maps a file name inside
    this directory to the sorted row positions its deletion vectors
    mark deleted; the executor masks them out — merge-on-read, same
    subtraction the batch ``read()`` does with a broadcast anti-join.

    ``schema`` (initial-snapshot batches only) is the manifest-pinned
    Arrow schema: snapshot files written before a pre-stream schema
    evolution serve NULL for later-added columns, the batch
    ``_reader()`` semantics. Tail batches pass None — an in-range
    evolution already refuses at planning, and an added dir always
    carries the full current schema."""

    def __init__(
        self,
        abs_dir: str,
        columns: list[str],
        dv_rows: dict[str, list[int]] | None = None,
        schema=None,
    ):
        self.abs_dir = abs_dir
        self.columns = columns
        self.dv_rows = dv_rows or {}
        self.schema = schema


class ManifestStreamReader(VersionOffsetReader):
    def initialOffset(self) -> dict:
        # version -1 = "before the table existed": the first batch emits
        # the full snapshot of whatever version latestOffset sees first.
        self._note_progress(-1)
        return {"version": -1}

    # -- planning ---------------------------------------------------------
    def _added_dirs(self, start_v: int, end_v: int) -> tuple[list[str], list[str]]:
        """Directories added in versions (start_v, end_v], plus the final
        column layout. Snapshot semantics when start_v < 0 (initial
        batch); append-only guard for tailed commits."""
        end_m = manifest_log.read_manifest(self.path, end_v)
        if start_v < 0:
            return manifest_log.data_dirs(end_m), end_m["columns"]
        start_m = manifest_log.read_manifest(self.path, start_v)
        if start_m["columns"] != end_m["columns"]:
            raise ValueError(
                "schema changed between streamed versions "
                f"{start_v} and {end_v}; restart the stream from a fresh "
                "checkpoint to pick up the evolved schema"
            )
        # DV baseline: a stream may legitimately start on a DV-bearing
        # table (the initial snapshot subtracts outstanding deletes), and
        # appends inherit the snapshot's DV list unchanged — only a DV
        # list that CHANGED relative to the batch's start version means
        # rows were retracted after emission. Mirrors the CDF reader's
        # cur_dvs[len(prev_dvs):] diff.
        base_dvs = start_m.get("deletion_vectors", [])
        for v in range(start_v + 1, end_v + 1):
            m = manifest_log.read_manifest(self.path, v)
            op = m.get("commit_info", {}).get("operation", "UNKNOWN")
            if op not in _APPEND_OK:
                raise ValueError(
                    f"version {v} is a {op} commit: the streaming source "
                    "replays APPEND-only history (a rewrite would re-emit "
                    "surviving rows); re-baseline downstream from a fresh "
                    "snapshot instead"
                )
            if m.get("deletion_vectors", []) != base_dvs:
                raise ValueError(
                    f"version {v} changed the table's deletion vectors "
                    "relative to the stream's baseline; append-only "
                    "streaming cannot subtract rows already emitted"
                )
        prev = set(manifest_log.data_dirs(start_m))
        added = [d for d in manifest_log.data_dirs(end_m) if d not in prev]
        return added, end_m["columns"]

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        self._note_progress(start["version"])  # learn the resumed offset
        added, columns = self._added_dirs(start["version"], end["version"])
        # Initial snapshot over outstanding merge-on-read deletes: ship
        # each directory's DV positions with its partition (Delta's
        # streaming initial snapshot also serves deletes subtracted);
        # mid-stream DV churn still refuses in _added_dirs' tail guard.
        # Snapshot partitions also carry the manifest-pinned Arrow
        # schema so pre-evolution files null-fill later-added columns.
        dv_by_dir: dict[str, dict[str, list[int]]] = {}
        schema = None
        if start["version"] < 0:
            end_m = manifest_log.read_manifest(self.path, end["version"])
            for f, rows in manifest_log.dv_positions(
                self.path, end_m.get("deletion_vectors", [])
            ).items():
                d, name = os.path.split(f)
                dv_by_dir.setdefault(d, {})[name] = rows
            schema = manifest_log._arrow_target(end_m)
        return [
            _DirPartition(
                manifest_log.resolve(self.path, d),
                columns,
                dv_by_dir.get(d),
                schema,
            )
            for d in added
        ] or [_DirPartition("", columns)]  # empty batch: no new commits

    # -- executor read ----------------------------------------------------
    def read(self, partition: _DirPartition) -> Iterator:
        """Runs on the executor: scan one added directory with pyarrow
        and yield Arrow record batches in the table's column order (the
        vectorized exchange — rows never pass through Python objects)."""
        if not partition.abs_dir:
            return iter(())
        import pyarrow.dataset as ds

        dataset = ds.dataset(partition.abs_dir, format="parquet")
        missing = [
            c for c in partition.columns if c not in dataset.schema.names
        ]
        if missing and partition.schema is None:
            # tail batch: an added dir must carry the current schema
            # (in-range evolution already refused at planning)
            raise ValueError(
                f"files under {partition.abs_dir} lack columns {missing}; "
                "schema-evolved history is not streamable (restart from a "
                "fresh snapshot)"
            )
        if not partition.dv_rows and not missing:
            return dataset.scanner(columns=partition.columns).to_batches()
        return self._read_slow_path(dataset, partition)

    @staticmethod
    def _read_slow_path(dataset, partition: _DirPartition) -> Iterator:
        """Initial-snapshot merge-on-read and/or pre-evolution files:
        scan file by file (DV row positions are per-file), mask out each
        file's DV'd rows, and conform to the manifest-pinned schema
        (absent columns null-fill — the batch _reader() semantics)."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.dataset as ds

        for f in sorted(dataset.files):
            fds = ds.dataset(f, format="parquet")
            present = [
                c for c in partition.columns if c in fds.schema.names
            ]
            tbl = fds.to_table(columns=present)
            dead = partition.dv_rows.get(os.path.basename(f))
            if dead:
                mask = np.ones(tbl.num_rows, dtype=bool)
                mask[dead] = False
                tbl = tbl.filter(pa.array(mask))
            if partition.schema is not None:
                tbl = manifest_log._conform(tbl, partition.schema)
            yield from tbl.to_batches()


class ManifestStreamDataSource(DataSource):
    """Usage::

        spark.dataSource.register(ManifestStreamDataSource)
        spark.readStream.format("manifest_stream").option("path", p).load()
    """

    @classmethod
    def name(cls) -> str:
        return "manifest_stream"

    def schema(self):
        from pyspark.sql.types import StructType

        path, latest = open_table(self.options)
        return StructType.fromJson(
            manifest_log.read_manifest(path, latest)["schema"]
        )

    def streamReader(self, schema) -> ManifestStreamReader:
        return ManifestStreamReader(self.options)
