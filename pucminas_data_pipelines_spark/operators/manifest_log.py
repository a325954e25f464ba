"""The on-disk log of a ``ManifestVersionedTable``: the only code that
reads or publishes it (operators/upsert.py, both stream sources and the
Delta-log exporters go through here). Layout under the table root::

    _manifests/v=<N>.json      # the commit: bucket -> [data dirs], schema,
                               # key, stats, deletion vectors, commit_info
    _LATEST                    # hint: the newest version a writer published
    data/<commit>/mvt_bucket=<b>/part-*.parquet
    _dvs/<id>/part-*.parquet   # deletion vectors: (__dv_file, __dv_row)

Dirs and sidecars are recorded root-relative (a shallow clone's are
absolute). Module level imports only the standard library, because the
stream sources load this inside Python DataSource workers.
"""

from __future__ import annotations

import json
import os
import uuid

_MANIFESTS = "_manifests"
_LATEST = "_LATEST"


def manifest_path(root: str, version: int) -> str:
    return os.path.join(root, _MANIFESTS, f"v={version}.json")


def read_manifest(root: str, version: int) -> dict:
    try:
        with open(manifest_path(root, version)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        raise ValueError(f"version {version} does not exist") from None


def latest_version(root: str) -> int:
    """Newest committed version, -1 for no table. ``_LATEST`` is a HINT,
    not the commit (Delta's _last_checkpoint semantics): the atomic
    manifest link IS the commit. A writer killed between the link and the
    pointer replace leaves a durable commit the pointer misses, so walk
    forward (one extra stat when the pointer is current); the next
    successful commit repairs the pointer itself."""
    try:
        with open(os.path.join(root, _LATEST)) as fh:
            v = int(fh.read().strip())
    except FileNotFoundError:
        v = -1
    while os.path.exists(manifest_path(root, v + 1)):
        v += 1
    return v


def history(root: str) -> list[int]:
    try:
        names = os.listdir(os.path.join(root, _MANIFESTS))
    except FileNotFoundError:
        return []
    return sorted(
        int(name[2:-5])
        for name in names
        if name.startswith("v=") and name.endswith(".json")
    )


def publish(path: str, text: str) -> None:
    """Atomically replace ``path`` with ``text`` (temp file + os.replace):
    a concurrent reader sees the old content or the new, never a torn or
    empty file."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


def publish_latest(root: str, version: int) -> None:
    publish(os.path.join(root, _LATEST), str(version))


def bucket_dirs(
    buckets: dict[str, list[str]], subset: list[str] | None = None
) -> list[str]:
    keys = sorted(buckets) if subset is None else [
        b for b in subset if b in buckets
    ]
    return [d for b in keys for d in buckets[b]]


def data_dirs(manifest: dict) -> list[str]:
    """Every data dir a manifest references: ``buckets``, then (mid-
    rebucket) the already-migrated ``buckets_next``."""
    return bucket_dirs(manifest["buckets"]) + bucket_dirs(
        manifest.get("buckets_next", {})
    )


def resolve(root: str, rel: str) -> str:
    return rel if os.path.isabs(rel) else os.path.join(root, rel)


def parquet_files(d: str) -> list[str]:
    """Sorted parquet file names in ``d`` (FileNotFoundError if gone)."""
    return sorted(n for n in os.listdir(d) if n.endswith(".parquet"))


def data_files(root: str, manifest: dict) -> list[str]:
    """Absolute paths of the parquet files in every dir of ``manifest``."""
    dirs = [resolve(root, rel) for rel in data_dirs(manifest)]
    return [os.path.join(d, f) for d in dirs for f in parquet_files(d)]


def dv_positions(root: str, dv_paths: list[str]) -> dict[str, list[int]]:
    """``{file as the sidecars key it: sorted deleted row positions}``."""
    import pyarrow.dataset as ds

    out: dict[str, list[int]] = {}
    for p in dv_paths:
        dv = ds.dataset(resolve(root, p), format="parquet").to_table()
        for f, r in zip(
            dv.column("__dv_file").to_pylist(),
            dv.column("__dv_row").to_pylist(),
        ):
            out.setdefault(f, []).append(r)
    for rows in out.values():
        rows.sort()
    return out


def _arrow_target(manifest: dict):
    """Arrow schema for the manifest's column list, derived from the
    manifest's authoritative Spark schema (never from file footers) —
    the same pinned-schema semantics as the table's ``_reader()``: files
    written before a schema evolution yield NULL for columns they don't
    carry instead of crashing the scan with ArrowInvalid. All fields
    nullable: null-fill is the whole point."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    full = to_arrow_schema(StructType.fromJson(manifest["schema"]))
    return pa.schema(
        [pa.field(c, full.field(c).type, nullable=True) for c in manifest["columns"]]
    )


def _conform(tbl, target):
    """Project an Arrow table onto ``target``: reorder, cast where the
    physical type differs, and null-fill columns absent from the file
    (pre-evolution files)."""
    import pyarrow as pa

    cols = {}
    for f in target:
        if f.name in tbl.schema.names:
            c = tbl.column(f.name)
            cols[f.name] = c.cast(f.type) if c.type != f.type else c
        else:
            cols[f.name] = pa.nulls(tbl.num_rows, type=f.type)
    return pa.table(cols).cast(target)


def _scan_dirs(dirs: list[str], target):
    """Read a list of data directories into ONE Arrow table with the
    manifest-pinned ``target`` schema. Each directory is scanned
    separately (its files share one write-time schema) and conformed,
    so mixed-generation file lists never hit pyarrow's union-dataset
    schema unification."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    if not dirs:
        return target.empty_table()
    pieces = []
    for d in dirs:
        dset = ds.dataset(d, format="parquet")
        present = [c for c in target.names if c in dset.schema.names]
        pieces.append(_conform(dset.to_table(columns=present), target))
    return pa.concat_tables(pieces)
