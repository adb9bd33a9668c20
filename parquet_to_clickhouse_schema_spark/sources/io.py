"""Table sources for the engine.

All inputs are Parquet directories/files laid out as
``{sf_dir}/{table}.parquet`` (see TESTDATA.md). Loading is lazy — a
``load_table`` call builds a scan node only; Catalyst pushes projections and
predicates into the Parquet reader (verify with ``df.explain``: look for
``PushedFilters`` / ``ReadSchema``).

Scale notes:
- No ``.cache()`` here: at 100 TB caching full tables is wrong; individual
  queries decide what (if anything) to persist.
- The ``events`` table is written with TIMESTAMP(NANOS), which Spark's
  Parquet reader rejects outright. With
  ``spark.sql.legacy.parquet.nanosAsLong=true`` the column arrives as raw
  Int64 nanoseconds; we reconstruct a microsecond TimestampType column
  (truncating division — matching what DuckDB/pyarrow do when they cast
  ns → us), so downstream operators see a normal timestamp. This is a
  source-level adapter, the same role as a custom DataSource's schema
  normalization, and it keeps every executor-side expression JVM-native.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_to_clickhouse_schema_spark.session import tune

TABLES = [
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
]


def _normalize_nanos(df: DataFrame) -> DataFrame:
    """Convert any raw int64-nanosecond columns (from nanosAsLong) that are
    semantically timestamps back to TimestampType (microsecond precision)."""
    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            # integer `div`, NOT float division: ns epoch values (~1.7e18)
            # exceed double's 2^53 integer range, so `/ 1000` would drift by
            # up to ~128 ns and flip ~12% of microseconds vs DuckDB/pyarrow.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of one testdata table; nanosecond timestamps normalized."""
    tune(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = _normalize_nanos(df)
    return df


def fanout_scan(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Restore scan parallelism when the source cannot provide it.

    The testdata tables are single-file, single-row-group parquet, so
    every scan stage is exactly ONE task and all row-local work before
    the first exchange runs on one core (guide §2.5 "input skew: one
    huge unsplittable file ... repartition immediately after the read").
    This is a no-op whenever the scan already yields at least
    shuffle-partition-many splits — i.e. on any real multi-file lake
    table — so at 100 TB it never adds an exchange; project the needed
    columns BEFORE calling so the one local exchange ships only them.
    The partition count is pinned (explicit N) so AQE cannot coalesce
    the deliberately-small shuffle back to one partition."""
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
