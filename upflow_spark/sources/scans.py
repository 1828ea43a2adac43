"""§2-A scan operators (SURVEY.md).

These keys exist to pin the scan-efficiency contract: projection and
predicates must reach the parquet reader. tests/test_plans.py asserts the
formatted plan shows the pruned ReadSchema and PushedFilters — at 100 TB the
difference between scanning 2 columns of 11 with row-group skipping and a
full-table read is the whole game.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from upflow_spark.io import load
from upflow_spark.memo import memo, scratch
from upflow_spark.parity import R4, r4
from upflow_spark.registry import query


@query(
    "scan_parquet",
    oracle="""
SELECT count(*) AS n_rows,
       min(l_orderkey) AS min_orderkey, max(l_orderkey) AS max_orderkey,
       min(l_partkey) AS min_partkey, max(l_partkey) AS max_partkey
FROM lineitem
""",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full parquet scan: count + key ranges of the fact table."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_orderkey").alias("min_orderkey"),
        F.max("l_orderkey").alias("max_orderkey"),
        F.min("l_partkey").alias("min_partkey"),
        F.max("l_partkey").alias("max_partkey"),
    )


@query(
    "scan_projection_pushdown",
    oracle="SELECT l_orderkey, floor((l_extendedprice) * 10000 + 0.5) / 10000 AS l_extendedprice FROM lineitem",
)
def scan_projection_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reads exactly 2 of lineitem's 11 columns (ReadSchema pruned)."""
    li = load(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", r4("l_extendedprice").alias("l_extendedprice"))


@query(
    "scan_predicate_pushdown",
    oracle="""
SELECT l_orderkey, l_linenumber, l_shipdate
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-04-01 00:00:00'
""",
)
def scan_predicate_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-range filter pushed to parquet (row-group stats pruning)."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp_ntz"))
    ).select("l_orderkey", "l_linenumber", "l_shipdate")


NSP_PRICE_MIN = 150000  # fin.total filter bound (pushed into the nested scan)


@query(
    "scan_nested_struct_prune",
    oracle=f"""
SELECT year(o_orderdate) AS y, CAST(count(*) AS BIGINT) AS n_rows,
       {R4("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)")}
         AS sum_total
FROM orders
WHERE o_totalprice > {NSP_PRICE_MIN}
GROUP BY year(o_orderdate)
""",
)
def scan_nested_struct_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED schema pruning — the columnar-read contract for struct
    columns: orders is rewritten with two struct columns (meta = status/
    priority, fin = total/date), and the graded query touches ONLY
    fin.total and fin.odate. Parquet is columnar underneath nested types
    (each leaf is its own column chunk), so Catalyst's nested-schema
    pruning must shrink ReadSchema to the two fin leaves — the meta
    struct is never decoded, and the fin.total predicate is pushed to the
    scan. At 100 TB on wide event/feature structs (the props-bag shape
    every telemetry table grows) this is the difference between reading
    2 leaves and deserializing whole structs per row.

    The plan pin (tests/test_r11_wave2.py) asserts ReadSchema contains
    the fin leaves and NOT meta; the graded values prove the pruned read
    is lossless against the flat source-of-truth.
    """
    path = _nested_layout(spark, sf_dir)
    n = spark.read.parquet(path)
    return (
        n.filter(F.col("fin.total") > NSP_PRICE_MIN)
        .groupBy(F.year("fin.odate").cast("long").alias("y"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            r4(
                F.sum(F.col("fin.total").cast("decimal(18,2)")).cast("double")
            ).alias("sum_total"),
        )
    )


def _nested_layout(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per session+fixture) the struct-columned orders twin."""
    return memo(
        spark, sf_dir, "orders", "nested_layout", lambda: _write_nested(spark, sf_dir)
    )


def _write_nested(spark: SparkSession, sf_dir: str) -> str:
    o = load(spark, sf_dir, "orders")
    path = scratch(spark, "nested_layout") + "/orders_nested"
    o.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            F.col("o_custkey").alias("custkey"),
        ).alias("meta"),
        F.struct(
            F.col("o_totalprice").alias("total"),
            F.col("o_orderdate").alias("odate"),
        ).alias("fin"),
    ).write.mode("overwrite").parquet(path)
    return path
