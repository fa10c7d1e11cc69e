"""Schema-hardened readers for the engine's test tables.

The reference relies on pandas schema inference everywhere (its DataFrames are
assembled from literal column lists, e.g. reference
src/data_processing/data_fetching.py:118-121); this engine declares explicit
``StructType`` schemas so scans never pay inference and malformed files fail
fast. Passing the schema to ``spark.read`` also guarantees column pruning and
predicate pushdown hit the parquet reader with the exact expected types.

Timestamps are ``TIMESTAMP_NTZ`` throughout (the driver-generated parquet is
written with ``isAdjustedToUTC=false``), which keeps every value independent
of the session timezone — the same wall-clock the DuckDB oracle sees.
``events.ts`` has shipped both as TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
across test-data generations, so ``load_table`` sniffs the parquet footer:
micros files read directly as TIMESTAMP_NTZ; nanos files (which Spark's
parquet reader rejects outright) are scanned as raw nanosecond longs via
``spark.sql.legacy.parquet.nanosAsLong`` (a runtime SQLConf), then rebuilt
into a microsecond TIMESTAMP_NTZ with pure integer arithmetic — exactly the
ns→us truncation DuckDB applies when it coerces the column.

At 100 TB the fact tables (``lineitem``, ``events``, ``documents``) would be
directory-partitioned (e.g. by date) and bucketed on their join keys; locally
each table is a single parquet file, so readers take a plain directory and
table name.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Explicit schemas matching the driver-generated files (TESTDATA.md) exactly —
# verified against the parquet footers (int32 vs int64, NTZ timestamps).
TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    # events.ts is TIMESTAMP(NANOS) on disk — scanned as long (see load_table).
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLE_NAMES = list(TABLE_SCHEMAS)


_EVENTS_NTZ_SCHEMA = T.StructType(
    [
        f if f.name != "ts" else T.StructField("ts", T.TimestampNTZType())
        for f in TABLE_SCHEMAS["events"].fields
    ]
)


def _events_ts_unit(path: str) -> str:
    """Time unit of ``events.ts`` from the parquet footer ('ns' or 'us').

    The test generator has shipped this column both as TIMESTAMP(NANOS)
    and as TIMESTAMP(MICROS) across rounds — sniff the footer instead of
    assuming. This is a driver-side metadata read of ONE file's footer
    (first file of the directory for a partitioned 100 TB layout), not a
    data scan.
    """
    import pyarrow.parquet as pq

    p = path
    if os.path.isdir(path):
        parts = sorted(n for n in os.listdir(path) if n.endswith(".parquet"))
        if parts:
            p = os.path.join(path, parts[0])
    # a missing or unreadable file (OSError), a corrupt footer (ArrowInvalid,
    # a ValueError) or no ts column (KeyError): assume standard micros
    try:
        ts_type = pq.ParquetFile(p).schema_arrow.field("ts").type
    except (OSError, ValueError, KeyError):
        return "us"
    return getattr(ts_type, "unit", "us")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table with its declared schema.

    ``events``: TIMESTAMP(MICROS) files read directly as TIMESTAMP_NTZ;
    TIMESTAMP(NANOS) files (which Spark's parquet reader rejects outright)
    are scanned as raw nanosecond longs via the
    ``spark.sql.legacy.parquet.nanosAsLong`` runtime conf and rebuilt into
    TIMESTAMP_NTZ with ``timestampadd`` from a literal NTZ epoch — pure
    integer arithmetic, no session-timezone dependence, identical to
    DuckDB's ns→us coercion.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        if _events_ts_unit(path) != "ns":
            return spark.read.schema(_EVENTS_NTZ_SCHEMA).parquet(path)
        # Runtime SQLConf: must be set on whatever session executes the scan
        # (the driver's session does not run our builder).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.schema(TABLE_SCHEMAS[name]).parquet(path)
        return df.withColumn(
            "ts",
            F.expr("timestampadd(MICROSECOND, ts DIV 1000, TIMESTAMP_NTZ'1970-01-01 00:00:00')"),
        )
    return spark.read.schema(TABLE_SCHEMAS[name]).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every test table under ``sf_dir``."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_SCHEMAS}


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> None:
    """Register all tables as temp views (for the SQL surface)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(prefix + name)
