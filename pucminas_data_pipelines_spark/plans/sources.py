"""Source/sink format coverage — SURVEY.md §2.1 O4 (schema'd CSV with
sep=';'), O5 (sink modes), O8 (local rows) + §2.3 additions (JSON,
partitioned parquet sink, append mode).

Each query round-trips engine-written data through the format under test
and returns a deterministic result with a literal or testdata oracle, so
the driver verifies the full write→read path, not just the reader."""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pucminas_data_pipelines_spark import io
from pucminas_data_pipelines_spark.fixtures import TITANIC_BASE_ROWS, TITANIC_DDL
from pucminas_data_pipelines_spark.plans.mutation import _TYPED_SELECT, _values
from pucminas_data_pipelines_spark.plans.registry import query
from pucminas_data_pipelines_spark.tables import load_table


@query(
    "source_csv_roundtrip",
    oracle=_TYPED_SELECT.format(rows=_values(TITANIC_BASE_ROWS)),
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference O4 exactly: header'd ';'-separated CSV scanned with an
    explicit DDL schema (sparkcode/titanic_example_delta.py:19-22) — here
    round-tripped: engine writes the CSV, engine reads it back."""
    path = io.scratch_path("titanic_csv")
    shutil.rmtree(path, ignore_errors=True)
    base = io.from_rows(spark, TITANIC_BASE_ROWS, TITANIC_DDL)
    base.write.options(header=True, sep=";").mode("overwrite").csv(path)
    back = io.read_csv(spark, path, schema=TITANIC_DDL, header=True, sep=";")
    return back.select(
        *[F.col(c).alias(c.lower()) for c in back.columns]
    ).orderBy("passengerid")


@query(
    "source_json_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey <= 200
    ORDER BY o_orderkey
    """,
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON lines sink + schema'd JSON scan (no inference pass)."""
    path = io.scratch_path("orders_json")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 200)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    io.write(o, path, fmt="json", mode="overwrite")
    back = io.read_json(
        spark, path, "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    )
    return back.select("o_orderkey", "o_orderstatus", "o_totalprice").orderBy(
        "o_orderkey"
    )


@query(
    "sink_csv_semicolon_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation
    ORDER BY n_nationkey
    """,
)
def sink_csv_semicolon_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-side dialect parity for the reference's distinctive sep=';'
    CSV (O4 reads it; this proves the engine also EMITS it): testdata rows
    out through the ';' writer, back through the schema'd ';' reader."""
    path = io.scratch_path("nation_csv_semicolon")
    shutil.rmtree(path, ignore_errors=True)
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    n.write.options(header=True, sep=";").mode("overwrite").csv(path)
    back = io.read_csv(
        spark,
        path,
        schema="n_nationkey bigint, n_name string, n_regionkey bigint",
        header=True,
        sep=";",
    )
    return back.orderBy("n_nationkey")


@query(
    "source_orc_roundtrip",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_custkey <= 200
    ORDER BY c_custkey
    """,
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + schema'd ORC scan (SURVEY §2.3: parquet/json/orc source
    coverage)."""
    path = io.scratch_path("customer_orc")
    shutil.rmtree(path, ignore_errors=True)
    c = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 200)
        .select("c_custkey", "c_name", "c_acctbal")
    )
    io.write(c, path, fmt="orc", mode="overwrite")
    back = io.read_orc(
        spark, path, "c_custkey bigint, c_name string, c_acctbal double"
    )
    return back.orderBy("c_custkey")


@query(
    "sink_partitioned_parquet",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet sink (partitionBy returnflag) +
    partition-pruned read-back. At 100 TB, partition layout is the first
    line of defense: a reader filtering on the partition column touches
    only matching directories (verified by plan tests)."""
    path = io.scratch_path("lineitem_partitioned")
    shutil.rmtree(path, ignore_errors=True)
    l = load_table(spark, sf_dir, "lineitem")
    io.write(l, path, fmt="parquet", mode="overwrite", partition_by=["l_returnflag"])
    back = spark.read.parquet(path)
    return (
        back.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "sink_append_mode",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n
    FROM (
      SELECT o_orderstatus FROM orders WHERE o_orderkey <= 100
      UNION ALL
      SELECT o_orderstatus FROM orders WHERE o_orderkey BETWEEN 101 AND 200
    )
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def sink_append_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode sink: two writes accumulate (vs O5's overwrite)."""
    path = io.scratch_path("orders_append")
    shutil.rmtree(path, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    io.write(o.where(F.col("o_orderkey") <= 100), path, mode="overwrite")
    io.write(
        o.where(F.col("o_orderkey").between(101, 200)), path, mode="append"
    )
    return (
        spark.read.schema("o_orderkey bigint, o_orderstatus string")
        .parquet(path)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderstatus")
    )


@query(
    "source_local_rows",
    oracle=_TYPED_SELECT.format(rows=_values(TITANIC_BASE_ROWS[:3])),
)
def source_local_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference O8: createDataFrame from local tuples with None cells
    (sparkcode/titanic_example_delta.py:30-34)."""
    df = io.from_rows(spark, TITANIC_BASE_ROWS[:3], TITANIC_DDL)
    return df.select(
        *[F.col(c).alias(c.lower()) for c in df.columns]
    ).orderBy("passengerid")


@query(
    "sink_compacted_files",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def sink_compacted_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: repartition + maxRecordsPerFile bound the
    output file count/size — at 100 TB the sink's file layout (not the
    query plan) decides downstream scan cost. Data equality is the oracle;
    test_bucketing pins the file count."""
    path = io.scratch_path("orders_compacted")
    shutil.rmtree(path, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders")
    (
        o.repartition(2)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 500_000)
        .parquet(path)
    )
    return (
        spark.read.parquet(path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "sink_range_sorted_layout",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def sink_range_sorted_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping layout sink: repartitionByRange + sortWithinPartitions
    on the query key gives each output file a disjoint key range, so
    parquet row-group min/max statistics prune point/range scans to one
    file — the flat-file analogue of clustering/Z-ordering a table on its
    hot predicate column. Data equality is the oracle;
    test_bucketing.test_range_sorted_layout_prunes pins the disjointness.

    Scale: one range shuffle at write time (sampled boundaries) buys
    every subsequent reader file-level pruning — the standard
    write-once/read-many trade for a 100 TB fact table.
    """
    path = io.scratch_path("orders_range_sorted")
    shutil.rmtree(path, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders")
    (
        o.repartitionByRange(4, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    return (
        spark.read.parquet(path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "source_schema_evolution_merge",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderkey > 100 THEN o_orderstatus END AS o_orderstatus
    FROM orders
    WHERE o_orderkey <= 200
    ORDER BY o_orderkey
    """,
)
def source_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: batch 1 is written before the
    o_orderstatus column existed, batch 2 after; ``mergeSchema=true``
    unions the file schemas and backfills the missing column with NULLs —
    the parquet-native form of Delta's additive schema evolution.

    Scale: mergeSchema is a driver-side union over per-file footers —
    O(#files) metadata work, fine for batch-partitioned layouts; at
    100 TB / millions of files the production path is pinning the merged
    schema in a catalog and passing it explicitly. The read path it
    validates (old files + wider schema → NULL backfill) is identical.
    """
    path = io.scratch_path("orders_evolved")
    shutil.rmtree(path, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders")
    (
        o.where(F.col("o_orderkey") <= 100)
        .select("o_orderkey", "o_totalprice")
        .write.parquet(f"{path}/batch=1")
    )
    (
        o.where((F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 200))
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .write.parquet(f"{path}/batch=2")
    )
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return back.select("o_orderkey", "o_totalprice", "o_orderstatus").orderBy(
        "o_orderkey"
    )


@query(
    "sink_bucketed_colocated_join",
    oracle="""
    SELECT o.o_orderstatus,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderstatus
    ORDER BY o.o_orderstatus
    """,
)
def sink_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed table layout + co-located fact-to-fact join: both sides
    are written bucketBy(8) on the join key, so the sort-merge join reads
    bucket i against bucket i with NO Exchange on either side — the
    shuffle moved from every query to a one-time write. This is THE lever
    for repeated 100 TB fact joins: pay the partitioning once, join for
    free forever after (tests/test_bucketing.py asserts the plan has no
    Exchange under the join).

    Works on a vanilla driver session: in-memory catalog, explicit
    external-table paths under .tmp. The .hint("merge") pins sort-merge
    (broadcast would also skip the exchange, but for the wrong reason —
    at real scale neither fact side broadcasts)."""
    suffix = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    for tbl, src, key in (
        (f"eng_borders_{suffix}", "orders", "o_orderkey"),
        (f"eng_blineitem_{suffix}", "lineitem", "l_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        path = io.scratch_path(f"{tbl}")
        shutil.rmtree(path, ignore_errors=True)
        (
            load_table(spark, sf_dir, src)
            .write.mode("overwrite")
            .option("path", path)
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(tbl)
        )
    o = spark.table(f"eng_borders_{suffix}")
    l = spark.table(f"eng_blineitem_{suffix}")
    return (
        o.hint("merge")
        .join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "sink_zorder_layout",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def sink_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) file layout over (o_custkey, o_orderdate):
    both keys are scaled to 16-bit ranks, bit-interleaved into one sort
    key, and the sink range-partitions on it — so selective filters on
    EITHER dimension prune most files via parquet min/max stats, where a
    1-D sort helps only its own key. Expression-only Delta
    OPTIMIZE ZORDER BY; tests/test_bucketing.py quantifies the per-file
    spread shrink on both dimensions.

    Data equality is the oracle (layout must never change content). The
    rank bounds come from one tiny min/max aggregate — at warehouse scale
    those are catalog statistics, not a scan."""
    from pucminas_data_pipelines_spark.functions import zorder as Z

    path = io.scratch_path("orders_zorder")
    shutil.rmtree(path, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders")
    b = o.agg(
        F.min("o_custkey").alias("ck_lo"),
        F.max("o_custkey").alias("ck_hi"),
        F.min(F.unix_date(F.to_date("o_orderdate"))).alias("d_lo"),
        F.max(F.unix_date(F.to_date("o_orderdate"))).alias("d_hi"),
    ).first()
    z = Z.interleave2(
        Z.to_rank(F.col("o_custkey"), F.lit(b["ck_lo"]), F.lit(b["ck_hi"])),
        Z.to_rank(
            F.unix_date(F.to_date("o_orderdate")),
            F.lit(b["d_lo"]),
            F.lit(b["d_hi"]),
        ),
    )
    (
        o.withColumn("_z", z)
        .repartitionByRange(8, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
    return (
        spark.read.parquet(path)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "source_python_datasource",
    oracle="""
    WITH rows_src AS (
      SELECT g.i AS id, CAST(g.i % 7 AS INTEGER) AS bucket,
             (g.i * 31 % 97) / 10.0 AS score
      FROM UNNEST(generate_series(0, 999)) AS g(i)
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(score AS DECIMAL(18,1))) AS DOUBLE) AS sum_score,
           CAST(MIN(id) AS BIGINT) AS min_id,
           CAST(MAX(id) AS BIGINT) AS max_id
    FROM rows_src GROUP BY bucket ORDER BY bucket
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector via the Spark 4 Python DataSource API
    (sources/synthetic.py): register the format, read 1000 deterministic
    rows across 4 InputPartitions (executor-parallel, no driver
    bottleneck), aggregate per bucket. The oracle reproduces the row
    function with generate_series — a full value-level check of a
    user-defined connector.

    Scale: partition planning is metadata-only; each partition streams
    its range independently — the same contract a REST/queue/wire-format
    connector implements at 1000 executors."""
    from pucminas_data_pipelines_spark.sources.synthetic import (
        SyntheticRowsDataSource,
    )

    try:
        spark.dataSource.register(SyntheticRowsDataSource)
    except Exception:
        pass  # already registered in this session
    src = (
        spark.read.format("synthetic_rows")
        .option("rows", 1000)
        .option("partitions", 4)
        .load()
    )
    return (
        src.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("score").cast("decimal(18,1)")).cast("double").alias(
                "sum_score"
            ),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
        .orderBy("bucket")
    )


@query(
    "source_text_lines",
    oracle="""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM documents
    GROUP BY lang, source ORDER BY lang, source
    """,
)
def source_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text source/sink roundtrip (spark.read/write.text) — the raw
    line-oriented ingestion path LLM corpora arrive through (one document
    record per line). Engine writes `doc_id|lang|source` lines, reads
    them back as a single `value` column, and re-derives the per-(lang,
    source) profile with split(); the oracle computes the same profile
    from the parquet table, so the whole text write->read->parse path is
    value-checked.

    Scale: the text scan is splittable per file and carries one string
    column; the parse is codegen'd split/cast — the standard shape for
    100 TB of raw .txt/.jsonl shards before schema-on-read."""
    path = io.scratch_path("documents_text")
    shutil.rmtree(path, ignore_errors=True)
    docs = load_table(spark, sf_dir, "documents")
    docs.select(
        F.format_string("%d|%s|%s", "doc_id", "lang", "source").alias("value")
    ).write.mode("overwrite").text(path)
    back = spark.read.text(path).select(
        F.split("value", r"\|").alias("p")
    ).select(
        F.col("p")[0].cast("bigint").alias("doc_id"),
        F.col("p")[1].alias("lang"),
        F.col("p")[2].alias("source"),
    )
    return (
        back.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang", "source")
    )


_BINARY_FIXTURE = [
    ("a.bin", b"alpha\n"),
    ("b.bin", b"beta\n"),
    ("c.bin", b"gamma gamma\n"),
]

# md5 digests precomputed host-side: DuckDB plain string literals do not
# interpret backslash escapes, so embedding b"...\n" payloads in SQL would
# hash the two-character sequence backslash+n instead of a newline byte
_BINARY_VALUES = ", ".join(
    f"('{name}', CAST({len(payload)} AS BIGINT), "
    f"'{__import__('hashlib').md5(payload).hexdigest()}')"
    for name, payload in _BINARY_FIXTURE
)


@query(
    "source_binary_files",
    oracle=f"""
    SELECT * FROM (VALUES {_BINARY_VALUES})
    t(file_name, n_bytes, content_md5)
    ORDER BY file_name
    """,
)
def source_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file binary ingestion via the built-in `binaryFile` source —
    the entry point of every multimodal pipeline (images/audio arrive as
    opaque files, metadata + bytes in one scan; operators/multimodal.py
    consumes exactly this shape). Three planted files are read back and
    fingerprinted (name, byte length, md5) against a literal oracle, so
    path handling, length metadata and full content bytes are all
    value-checked.

    Scale: binaryFile lists files with a distributed file index and reads
    each file on one executor — right for many small-to-medium objects;
    pack huge corpora into parquet binary columns (multimodal_binary_meta)
    once files exceed partition granularity."""
    import os

    path = io.scratch_path("binary_files")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    for name, payload in _BINARY_FIXTURE:
        with open(os.path.join(path, name), "wb") as fh:
            fh.write(payload)
    back = spark.read.format("binaryFile").load(path)
    return (
        back.select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("length").alias("n_bytes"),
            F.md5("content").alias("content_md5"),
        )
        .orderBy("file_name")
    )


@query(
    "source_csv_malformed_permissive",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_good,
           CAST(3 AS BIGINT) AS n_corrupt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_good_price
    FROM orders WHERE o_orderkey <= 100
    """,
)
def source_csv_malformed_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode CSV scan over a directory containing corrupt rows —
    the schema-enforcement semantics every production ingest relies on:
    malformed lines (type garbage, too few fields, too many fields) land
    in the columnNameOfCorruptRecord side-channel with their data columns
    NULL, clean lines parse normally, and NOTHING is silently dropped
    (that would be DROPMALFORMED) or failed (FAILFAST). The fixture is
    engine-written clean rows plus a hand-planted bad file in the same
    directory; the oracle is ground truth over the clean source rows.

    Scale: mode handling is per-record inside the scan — no extra pass;
    the corrupt side-channel column prunes away when unselected.

    The fixture path embeds the scale factor: this query CACHES the scan
    (Spark forbids filtering the corrupt column of a raw scan), and
    Spark's cache manager matches by logical plan — with a fixed path,
    an earlier SF's cached scan would be served verbatim to a later SF
    in the same session (caught when the parity suite started running
    two SFs per session)."""
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    path = io.scratch_path(f"orders_malformed_csv_{sf_tag}")
    shutil.rmtree(path, ignore_errors=True)
    good = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 100)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    good.write.options(header=False).mode("overwrite").csv(path)
    with open(f"{path}/zz_malformed.csv", "w") as fh:
        fh.write("abc,DEF,not_a_number\n")      # type garbage
        fh.write("1\n")                          # too few fields
        fh.write("2,O,3.5,extra,fields\n")       # too many fields
    parsed = (
        spark.read.schema(
            "o_orderkey bigint, o_orderstatus string, o_totalprice double,"
            " _corrupt_record string"
        )
        .options(
            header=False,
            mode="PERMISSIVE",
            columnNameOfCorruptRecord="_corrupt_record",
        )
        .csv(path)
        .cache()  # Spark forbids filtering on the corrupt column of a raw scan
    )
    bad = F.col("_corrupt_record").isNotNull()
    return parsed.agg(
        F.sum(F.when(~bad, 1).otherwise(0)).cast("bigint").alias("n_good"),
        F.sum(F.when(bad, 1).otherwise(0)).cast("bigint").alias("n_corrupt"),
        F.sum(
            F.when(~bad, F.col("o_totalprice").cast("decimal(18,2)"))
        ).cast("double").alias("sum_good_price"),
    )


@query(
    "source_xml_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey <= 200
    ORDER BY o_orderkey
    """,
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + schema'd XML scan via Spark 4's NATIVE xml datasource
    (the spark-xml donation, built in since 4.0) — rounds out the format
    matrix next to csv/json/orc/text/binaryFile/parquet. Explicit schema
    as everywhere: XML inference is a full extra pass AND type-guesses;
    production scans declare.

    Scale: rowTag framing splits files the same way the JSON-lines
    reader does; one XML record parses per row inside the scan."""
    path = io.scratch_path("orders_xml")
    shutil.rmtree(path, ignore_errors=True)
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 200)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    o.write.format("xml").options(rootTag="orders", rowTag="order").mode(
        "overwrite"
    ).save(path)
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema("o_orderkey bigint, o_orderstatus string, o_totalprice double")
        .load(path)
    )
    return back.select("o_orderkey", "o_orderstatus", "o_totalprice").orderBy(
        "o_orderkey"
    )


@query(
    "join_dpp_partitioned_fact",
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderstatus IN ('F', 'O')
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def join_dpp_partitioned_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: a fact table partitioned on the join key,
    joined to a small dimension whose FILTER (not a literal on the fact)
    decides which partitions matter — Spark injects the dim's key set into
    the fact scan at runtime (`dynamicpruningexpression` in the plan,
    asserted by tests/test_plans.py), so only the surviving partition
    directories are read.

    Scale: this is THE mechanism that makes star-schema queries feasible on
    a 100 TB date/status-partitioned fact — static pruning can't help
    because the predicate lives on the dimension; without DPP the scan
    reads every partition. The dim is broadcast (DPP's
    reuseBroadcastOnly default reuses that same broadcast for the pruning
    subquery, so pruning costs nothing extra)."""
    path = io.scratch_path("orders_dpp")
    shutil.rmtree(path, ignore_errors=True)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    io.write(o, path, fmt="parquet", mode="overwrite", partition_by=["o_orderstatus"])
    fact = spark.read.parquet(path)
    dim = io.from_rows(
        spark,
        [("F", "finished"), ("O", "open"), ("P", "pending")],
        "status string, label string",
    )
    selected = dim.where(F.col("label") != "pending")
    return (
        fact.join(F.broadcast(selected), fact["o_orderstatus"] == selected["status"])
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "source_csv_multiline_quoted",
    oracle="""
    SELECT 1 AS id, 'plain' AS note, CAST(10.5 AS DOUBLE) AS amount
    UNION ALL
    SELECT 2, 'has, comma', CAST(20.25 AS DOUBLE)
    UNION ALL
    SELECT 3, 'has ' || CHR(34) || 'quotes' || CHR(34) || ' inside',
           CAST(30.75 AS DOUBLE)
    UNION ALL
    SELECT 4, 'line one' || CHR(10) || 'line two', CAST(40.0 AS DOUBLE)
    UNION ALL
    SELECT 5, 'comma, ' || CHR(34) || 'quote' || CHR(34) || ', and'
              || CHR(10) || 'newline', CAST(50.125 AS DOUBLE)
    ORDER BY id
    """,
)
def source_csv_multiline_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV dialect hard cases round-tripped: embedded delimiters, doubled
    quotes, and EMBEDDED NEWLINES (multiLine=true — without it the reader
    splits records mid-field and the whole file parses wrong). The writer
    must quote/escape on the way out and the reader must undo it exactly;
    the oracle is the literal fixture.

    Scale note: multiLine CSV is NOT splittable (a record can straddle any
    byte offset, so one file = one task) — the reason 100 TB pipelines
    land CSV once, normalize, and store parquet; this query documents the
    constraint while proving the dialect correctness."""
    path = io.scratch_path("csv_multiline")
    shutil.rmtree(path, ignore_errors=True)
    rows = [
        (1, "plain", 10.5),
        (2, "has, comma", 20.25),
        (3, 'has "quotes" inside', 30.75),
        (4, "line one\nline two", 40.0),
        (5, 'comma, "quote", and\nnewline', 50.125),
    ]
    df = io.from_rows(spark, rows, "id int, note string, amount double")
    df.write.mode("overwrite").options(header=True, quoteAll=True).csv(path)
    back = spark.read.options(header=True, multiLine=True).schema(
        "id int, note string, amount double"
    ).csv(path)
    return back.orderBy("id")


@query(
    "sink_compressed_codec_roundtrip",
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM orders WHERE o_orderkey <= 2000
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def sink_compressed_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-codec coverage on the text-family sinks: the same slice
    written as gzip JSON-lines and snappy parquet, both read back and
    checked against the source aggregate — codec choice must never change
    bytes-decoded semantics.

    Scale note: gzip is NOT splittable (one .json.gz = one task), snappy
    parquet is (row-group granularity) — which is why gzip belongs on
    small landing files and columnar snappy/zstd on anything a cluster
    scans; documented here, proven by the roundtrip."""
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 2000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    jpath = io.scratch_path("orders_json_gz")
    ppath = io.scratch_path("orders_parquet_snappy")
    shutil.rmtree(jpath, ignore_errors=True)
    shutil.rmtree(ppath, ignore_errors=True)
    o.write.mode("overwrite").option("compression", "gzip").json(jpath)
    o.write.mode("overwrite").option("compression", "snappy").parquet(ppath)
    j = spark.read.schema(
        "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    ).json(jpath)
    p = spark.read.parquet(ppath)
    merged = j.unionByName(p).groupBy("o_orderkey", "o_orderstatus").agg(
        F.max("o_totalprice").alias("o_totalprice"),
        F.count(F.lit(1)).alias("_copies"),
    )
    # every row must appear exactly twice (one per codec) with equal values
    return (
        merged.where(F.col("_copies") == 2)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "sink_python_datasource_writer",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation ORDER BY n_nationkey
    """,
)
def sink_python_datasource_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource WRITER (Spark 4 pyspark.sql.datasource):
    the nation table written through `jsonlines_sink` — a user-defined
    sink with the real two-phase task-commit protocol (temp file +
    commit-message promote + abort cleanup; sources/synthetic.py
    JsonLinesWriter) — then read back and compared to the source. This
    completes the custom-connector surface: reader
    (source_python_datasource), stream reader
    (streaming_python_source_live), and now writer.

    Scale: tasks stream their partitions to the sink in parallel; the
    driver sees only commit messages. The same protocol shape wraps any
    external system (JDBC batch, queue producer, object-store
    multipart)."""
    from pucminas_data_pipelines_spark.sources.synthetic import (
        JsonLinesSinkDataSource,
    )

    try:
        spark.dataSource.register(JsonLinesSinkDataSource)
    except Exception:
        pass
    path = io.scratch_path("nation_pyds_sink")
    shutil.rmtree(path, ignore_errors=True)
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    n.write.format("jsonlines_sink").option("path", path).mode(
        "overwrite"
    ).save()
    back = spark.read.schema(
        "n_nationkey bigint, n_name string, n_regionkey bigint"
    ).json(f"{path}/part-*.jsonl")
    return back.orderBy("n_nationkey")


@query(
    "source_file_metadata_columns",
    oracle="""
    SELECT 'lineitem.parquet' AS file_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(0) AS BIGINT) AS min_row_index,
           CAST(COUNT(*) - 1 AS BIGINT) AS max_row_index
    FROM lineitem
    """,
)
def source_file_metadata_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden `_metadata` file columns on file-source scans (file_name,
    row_index): per-file row accounting straight from the scan, no UDF,
    no input_file_name() legacy function — the provenance primitive
    behind per-file quarantine ('which file produced the bad rows') and
    exactly-once file-level reconciliation. The oracle pins the testdata
    contract: lineitem is one parquet file whose row_index runs dense
    from 0 to n-1.

    Scale: _metadata is generated per split at scan time (constant
    per-row cost, no shuffle); grouping by file_name gives per-file audit
    rows at file cardinality."""
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/lineitem.parquet")
    return df.groupBy(F.col("_metadata.file_name").alias("file_name")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("_metadata.row_index").cast("bigint").alias("min_row_index"),
        F.max("_metadata.row_index").cast("bigint").alias("max_row_index"),
    )


@query(
    "source_delta_log_reader",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation WHERE n_nationkey < 20
    ORDER BY n_nationkey
    """,
)
def source_delta_log_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protocol-level Delta transaction-log reader
    (operators/deltalog.py DeltaLogReader): a Delta table is constructed
    in the PUBLIC log format — commit 0 adds two data files (nation keys
    <12 and >=12), commit 1 replays a DELETE of keys >=20 as
    remove(file2)+add(file3) — and read back by replaying the JSON
    actions into the active file set, with NO delta-spark involved. The
    latest snapshot must therefore be exactly nation keys <20 (the
    oracle), and version 0 still time-travels (pinned with checkpoint
    replay, partition reconstruction and reader-feature refusal in
    tests/test_deltalog.py). This is the interop half of the
    reference's Delta layer: tables written by real Delta engines are
    readable and time-travelable here, while writes go through the
    versioned table (operators/upsert.ManifestVersionedTable), whose
    ``export_delta_log`` writes the same public format back out."""
    import glob as _glob
    import json as _json
    import os as _os

    from pucminas_data_pipelines_spark.operators.deltalog import DeltaLogReader

    root = io.scratch_path("delta_log_reader")
    shutil.rmtree(root, ignore_errors=True)
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )

    def plant(rel: str, df: DataFrame) -> None:
        tmp = _os.path.join(root, "_tmp_plant")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = _glob.glob(_os.path.join(tmp, "part-*.parquet"))[0]
        _os.makedirs(_os.path.dirname(_os.path.join(root, rel)), exist_ok=True)
        shutil.move(part, _os.path.join(root, rel))
        shutil.rmtree(tmp)

    plant("f1.parquet", nation.where(F.col("n_nationkey") < 12))
    plant("f2.parquet", nation.where(F.col("n_nationkey") >= 12))
    plant(
        "f3.parquet",
        nation.where(
            (F.col("n_nationkey") >= 12) & (F.col("n_nationkey") < 20)
        ),
    )
    log = _os.path.join(root, "_delta_log")
    _os.makedirs(log, exist_ok=True)

    def add(rel):
        return {"add": {"path": rel, "partitionValues": {}, "size": 1,
                        "modificationTime": 0, "dataChange": True}}

    with open(_os.path.join(log, f"{0:020d}.json"), "w") as fh:
        for a in (
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": {"id": "nation-fixture",
                          "format": {"provider": "parquet", "options": {}},
                          "schemaString": _json.dumps(nation.schema.jsonValue()),
                          "partitionColumns": [], "configuration": {}}},
            add("f1.parquet"),
            add("f2.parquet"),
        ):
            fh.write(_json.dumps(a) + "\n")
    with open(_os.path.join(log, f"{1:020d}.json"), "w") as fh:
        for a in ({"remove": {"path": "f2.parquet", "dataChange": True}},
                  add("f3.parquet")):
            fh.write(_json.dumps(a) + "\n")

    return DeltaLogReader(spark, root).read().orderBy("n_nationkey")
