"""Parquet loaders for the driver's star schema (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table per scale factor.

Every scan is ``spark.read.schema(TABLE_SCHEMAS[name]).parquet``: the
schemas are fixed (the DDL below is copied from the file footers, the
same at every scale factor), so declaring them spares each read the
Spark job that schema inference would run on the footer.  Catalyst's
parquet source still does predicate pushdown / column pruning /
partition pruning; at 100 TB these would be directory-partitioned
Delta/Parquet tables and the code below is unchanged.

Caveat: a declared read does not check the file against the
declaration.  A column the file lacks reads as all-null instead of
failing, and an extra file column is silently dropped; a type the
reader cannot convert fails only when the scan runs.  One such type is
a parquet TIMESTAMP(NANOS) `events.ts`: Spark has no nanosecond
timestamp, so it fails against the declared TIMESTAMP_NTZ instead of
reading as a long (the test data is TIMESTAMP(MICROS) at every scale).
``tests/test_declared_schemas.py`` pins every declaration to the
footers at sf0.001, sf0.01 and sf0.1, so drift fails there first.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Spark's inferred schema of each table, identical at sf0.001/0.01/0.1.
TABLE_SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": "c_custkey BIGINT, c_name STRING, c_nationkey INT, "
                "c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, "
                "s_acctbal DOUBLE",
    "part": "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
            "p_size INT, p_retailprice DOUBLE",
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
              "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, "
              "o_orderpriority STRING",
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
                "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
                "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
                "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ",
    "events": "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
              "event_type STRING, value DOUBLE, props STRING",
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, "
                 "n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}
TABLE_NAMES = tuple(TABLE_SCHEMAS)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ensure_confs(spark: SparkSession) -> None:
    """Session settings the engine depends on, applied defensively because
    a caller may hand us a session it built itself: the UTC
    session timezone keeps TIMESTAMP_NTZ → TIMESTAMP casts and
    epoch-millis math identical to the DuckDB oracle (which treats naive
    timestamps as UTC)."""
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass


def _normalize_times(df: DataFrame) -> DataFrame:
    """Give every table a plain TIMESTAMP view of its time columns."""
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    _ensure_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    return _normalize_times(spark.read.schema(TABLE_SCHEMAS[name]).parquet(path))


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view for the SQL API."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
