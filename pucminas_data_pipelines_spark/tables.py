"""Testdata table loaders.

Loads the driver-generated parquet tables (TESTDATA.md) with explicit
schemas and normalizes physical quirks so every downstream operator sees the
logical schemas in schemas.TESTDATA_DDL:

- ``events.ts`` physical type varies by generator version: older testdata
  wrote parquet TIMESTAMP(NANOS) (unreadable natively; with
  ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as a nanos-since-epoch
  long we convert to microseconds), newer testdata writes a regular parquet
  timestamp (arriving as TIMESTAMP or TIMESTAMP_NTZ). ``_normalize_ts``
  branches on the scanned dtype so every downstream operator sees one
  canonical UTC TimestampType column either way. The conversion happens
  *after* the scan, so filter pushdown on other columns is unaffected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pucminas_data_pipelines_spark import schemas
from pucminas_data_pipelines_spark.session import configure_session

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame with its canonical schema."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}")
    # The driver may hand us its own session — make sure runtime confs
    # (UTC tz, nanosAsLong, AQE) are applied before the scan.
    configure_session(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if name == "events":
        df = spark.read.parquet(path)
        return _normalize_ts(df).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
    return spark.read.schema(schemas.struct(name)).parquet(path)


def _normalize_ts(df: DataFrame) -> DataFrame:
    """Canonicalize ``events.ts`` to UTC TimestampType regardless of the
    physical parquet type the generator wrote (see module docstring)."""
    dtype = dict(df.dtypes)["ts"]
    if dtype == "bigint":
        # nanos-since-epoch long (legacy nanosAsLong read): integer `div`
        # keeps the ns→µs truncation exact (double division would lose
        # sub-µs bits at 1e18 magnitudes)
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dtype == "timestamp_ntz":
        # session tz is pinned UTC, so NTZ→LTZ is a pure type relabel
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> None:
    """Register every table as a temp view so Spark SQL queries can run
    against the same logical schemas as the DataFrame API."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
