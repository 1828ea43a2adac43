"""Bucketed-table co-located join (SURVEY §4 'bucketing for co-located
joins'): write both join sides bucketed on the key, then join WITHOUT a
shuffle — the bucketing metadata satisfies the join's distribution
requirement.

Rows-only key (bucket spec isn't SQL-observable) but tests/test_plans.py
asserts the punchline: zero shuffle exchanges in the bucketed join's plan.
At 100 TB this is the difference between re-shuffling both fact tables on
every join and paying the shuffle once at write time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from upflow_spark.io import load
from upflow_spark.memo import memo, scratch
from upflow_spark.parity import r4
from upflow_spark.registry import query
from upflow_spark.session import ensure_conf

N_BUCKETS = 8


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders+lineitem bucketed by orderkey once per session+fixture."""
    ensure_conf(spark)
    return memo(
        spark, sf_dir, ("orders", "lineitem"), "bucketed_tables",
        lambda: _write_bucketed(spark, sf_dir),
    )


def _write_bucketed(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    o_name, l_name = "upflow_orders_bkt", "upflow_lineitem_bkt"
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    loc = scratch(spark, "bucketed_tables")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    (
        o.write.mode("overwrite")
        .option("path", f"{loc}/orders")
        .bucketBy(N_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable(o_name)
    )
    (
        li.write.mode("overwrite")
        .option("path", f"{loc}/lineitem")
        .bucketBy(N_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable(l_name)
    )
    return o_name, l_name


@query(
    "sink_bucketed_join",
    oracle="""
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_items,
       floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             * 10000 + 0.5) / 10000 AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o_orderstatus
""",
)
def sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join two bucketed tables on the bucket key — no exchange in the plan
    (tests/test_plans.py pins the zero-Exchange property; r6: promoted from
    rows-only — the bucket LAYOUT is engine-internal but the join RESULT is
    layout-independent, so the plain-join DuckDB twin verifies it).

    Revenue in exact DECIMAL then cast to double: only 3 status groups, so
    each sums ~200k values — double accumulation-order drift across engines
    exceeds the 4dp compare at that group size (the usual revenue keys
    group much finer); decimal sums are order-independent and exact.
    """
    o_name, l_name = _bucketed_tables(spark, sf_dir)
    o = spark.table(o_name)
    li = spark.table(l_name)
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            r4(F.sum(rev).cast("double")).alias("revenue"),
        )
    )
