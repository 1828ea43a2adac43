"""Table loaders over the driver-generated parquet fixtures.

All queries go through :func:`load` so the cross-engine timestamp landmine is
handled in exactly one place (FIXTURES.md):

- ``events.ts`` layout varies by fixture generation. Older drops stored
  parquet ``TIMESTAMP(NANOS)`` (Spark reads LongType nanoseconds under the
  legacy flag set by :func:`upflow_spark.session.ensure_conf`); current drops
  store ``timestamp[us]`` which Spark reads directly as ``timestamp_ntz``.
  :func:`load` inspects the read schema and normalizes BOTH layouts to the
  same shape: canonical ``ts`` = ``timestamp_ntz`` µs wall clock (matching
  DuckDB's read of the same file) plus ``ts_ns`` = epoch-nanosecond BIGINT.
  The ns→µs path uses **integer** division (``ts div 1000`` — double division
  loses ULPs at 1.7e18 and can round across a microsecond boundary).
- timestamps elsewhere (orders, lineitem) already read as ``timestamp_ntz``.

Scale note: loaders return plain DataFrames (no caching/collect) so Catalyst
keeps column pruning + predicate pushdown through to the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from upflow_spark.memo import memo, path_of
from upflow_spark.session import ensure_conf

TABLES = (
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


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalizing events.ts to timestamp_ntz µs.

    Memoized: re-resolving a scan costs ~80 ms per call (file listing,
    schema, the events ts-normalization py4j chatter), paid by every query.
    A catalog resolves a table once and hands the same immutable relation to
    every query; the memo is that catalog. Catalyst still prunes columns and
    pushes filters per consuming query."""
    ensure_conf(spark)
    return memo(
        spark, sf_dir, name, f"load/{name}", lambda: _load_uncached(spark, sf_dir, name)
    )


def _load_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(path_of(sf_dir, name))
    if name == "events":
        ts_type = df.schema["ts"].dataType.simpleString()
        if ts_type == "bigint":
            # legacy nanos layout: keep raw nanos as ts_ns; canonical ts =
            # µs-truncated wall clock (UTC)
            df = df.withColumn("ts_ns", F.col("ts")).withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
        else:
            # µs layout: ts already timestamp_ntz; derive ts_ns for callers
            # that want integer nanos (session tz pinned UTC so the ntz→ltz
            # cast is wall-clock identity)
            df = df.withColumn(
                "ts_ns", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
            ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}
