"""SparkSession factory (reference operators O1/O2).

The reference builds its session with Delta-Lake extensions injected at
construction time (``sparkcode/titanic_example_delta.py:4-12``). We keep the
same shape — a single factory that owns every engine-level config — on a
plain session: the versioned table is ``operators/upsert.ManifestVersionedTable``
over plain Parquet, so no Delta extension is needed.

Scale notes (100 TB design):
- AQE on: runtime partition coalescing + skew-join splitting replaces any
  hand-tuned shuffle sizing when data volume jumps 1000x.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; on a real
  cluster set it ~2-3x total cores and let AQE coalesce.
- Arrow enabled for any pandas interchange (vectorized UDF path).
- Session timezone pinned to UTC so timestamp semantics are stable across
  engines (DuckDB oracle comparability) and executors.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs that are safe (and meaningful) to set on an already-running session.
_RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # driver testdata stores events.ts as parquet TIMESTAMP(NANOS); Spark has
    # no nanos timestamp — read as long and convert (tables.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # dims (region/nation/customer/supplier/part at test scale) are tiny;
    # 64 MiB threshold broadcasts every dim table even at sf 0.1.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


# Sentinel conf marking a session as already engine-configured: applying
# _RUNTIME_CONFS is once-per-session, so a query's deliberate per-run conf
# override (e.g. autoBroadcastJoinThreshold=-1 to force a shuffle join)
# survives subsequent load_table calls instead of being silently clobbered.
_CONFIGURED_SENTINEL = "spark.pucminas.runtimeConfsApplied"


def configure_session(spark: SparkSession, force: bool = False) -> SparkSession:
    """Apply runtime-settable engine configs to an existing session — once.

    Used both by :func:`get_spark` and by driver-owned sessions that our
    ``queries()`` receive (the driver builds its own ``SparkSession``; we may
    only tune runtime confs on it, never static ones). Idempotent via a
    sentinel conf; pass ``force=True`` to re-baseline a session whose confs
    were intentionally changed.
    """
    try:
        if not force and spark.conf.get(_CONFIGURED_SENTINEL, None) == "true":
            return spark
    except Exception:
        pass
    for key, value in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # e.g. config removed in a future Spark or marked static — the
            # engine must keep working with defaults rather than die here.
            pass
    try:
        spark.conf.set(_CONFIGURED_SENTINEL, "true")
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "pucminas-data-pipelines-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the engine session.

    Mirrors reference O1 (`sparkcode/titanic_example_delta.py:4-10`): one
    builder owning every engine-level config.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    for key, value in _RUNTIME_CONFS.items():
        builder = builder.config(key, value)

    if extra_conf:
        for key, value in extra_conf.items():
            builder = builder.config(key, value)

    spark = builder.getOrCreate()
    # reference O2: sparkcode/titanic_example_delta.py:12
    spark.sparkContext.setLogLevel("WARN")
    return configure_session(spark)
