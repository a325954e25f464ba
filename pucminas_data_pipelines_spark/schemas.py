"""Central schema registry (reference operator O3).

The reference declares its one schema as a DDL string
(`sparkcode/titanic_example_delta.py:18`) and never infers. We keep that
discipline: every table the engine touches has an explicit DDL schema here.
Schemas match the driver testdata parquet files (FIXTURES.md) byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql.types import StructType

# --- Driver testdata tables (TPC-H-ish star schema + events + LLM-data) ---

TESTDATA_DDL: dict[str, str] = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": (
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string"
    ),
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": (
        "p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    ),
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate timestamp"
    ),
    # NOTE: on disk `ts` is parquet TIMESTAMP(NANOS) which Spark reads as
    # long under spark.sql.legacy.parquet.nanosAsLong; tables.load_table
    # converts it so the logical schema below is what engine users see.
    "events": (
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string"
    ),
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}

# --- Reference (Titanic) fixture schema: sparkcode/titanic_example_delta.py:18 ---

TITANIC_DDL = (
    "PassengerId int, Survived int, Pclass int, Name string, Sex string, "
    "Age double, SibSp int, Parch int, Ticket string, Fare double, "
    "Cabin string, Embarked string"
)


def ddl(table: str) -> str:
    """DDL string for a registered table."""
    return TESTDATA_DDL[table]


def struct(table: str) -> StructType:
    """StructType for a registered table."""
    return StructType.fromDDL(TESTDATA_DDL[table])

