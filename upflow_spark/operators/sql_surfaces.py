"""Modern SQL-text surfaces (EP2 of SURVEY.md §3): recursive CTEs, LATERAL
subqueries, GROUP BY ALL, parameterized queries, collations, the df.na
null-handling family, and SQL DDL (CTAS + INSERT INTO).

These keys exercise the engine's *SQL entry point* — text in, DataFrame out —
over the same temp-view registrations the DataFrame keys use; both entry
points converge at the analyzer (§3), so oracle parity here also certifies
the parser surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from upflow_spark.io import load
from upflow_spark.memo import scratch
from upflow_spark.parity import r4
from upflow_spark.registry import query


def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        load(spark, sf_dir, n).createOrReplaceTempView(n)


@query(
    "sql_recursive_cte",
    oracle="""
WITH RECURSIVE months(m) AS (
  SELECT 1 UNION ALL SELECT m + 1 FROM months WHERE m < 12
)
SELECT CAST(m AS BIGINT) AS month_num,
       CAST(coalesce(o.n, 0) AS BIGINT) AS n_orders
FROM months LEFT JOIN (
  SELECT month(o_orderdate) AS m2, count(*) AS n
  FROM orders WHERE year(o_orderdate) = 1995
  GROUP BY month(o_orderdate)
) o ON o.m2 = m
""",
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4.x): a 12-row month spine generated by
    recursion, left-joined to monthly 1995 order counts so empty months
    survive as zeros.

    The recursion is driver-bounded (12 iterations of a 1-row frontier);
    the order aggregation underneath is the usual distributed hash agg —
    recursive CTEs at scale are fine when the recursive side is tiny and
    the bulk data sits on the non-recursive side of the join, as here.
    """
    _views(spark, sf_dir, "orders")
    return spark.sql(
        """
WITH RECURSIVE months(m) AS (
  SELECT 1 UNION ALL SELECT m + 1 FROM months WHERE m < 12
)
SELECT CAST(m AS BIGINT) AS month_num,
       CAST(coalesce(o.n, 0) AS BIGINT) AS n_orders
FROM months LEFT JOIN (
  SELECT month(o_orderdate) AS m2, count(*) AS n
  FROM orders WHERE year(o_orderdate) = 1995
  GROUP BY month(o_orderdate)
) o ON o.m2 = m
"""
    )


@query(
    "sql_lateral_topn",
    oracle="""
SELECT r.r_name, l.n_name
FROM region r, LATERAL (
  SELECT n_name FROM nation n WHERE n.n_regionkey = r.r_regionkey
  ORDER BY n_name LIMIT 2
) l
""",
)
def sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT — top-2 nations per
    region as a join-shaped query (the SQL-text twin of win_row_number_topk;
    Catalyst decorrelates it to a ranked join, no per-row re-execution)."""
    _views(spark, sf_dir, "region", "nation")
    return spark.sql(
        """
SELECT r.r_name, l.n_name
FROM region r, LATERAL (
  SELECT n_name FROM nation n WHERE n.n_regionkey = r.r_regionkey
  ORDER BY n_name LIMIT 2
) l
"""
    )


@query(
    "sql_group_by_all",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_items,
       floor((sum(l_extendedprice * (1 - l_discount))) * 10000 + 0.5) / 10000 AS total_rev
FROM lineitem
GROUP BY ALL
""",
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL: grouping keys inferred from the non-aggregate select
    list — identical dialect support in Spark 4 and DuckDB."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_items,
       floor((sum(l_extendedprice * (1 - l_discount))) * 10000 + 0.5) / 10000 AS total_rev
FROM lineitem
GROUP BY ALL
"""
    )


@query(
    "sql_parameterized",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       floor((sum(o_totalprice)) * 10000 + 0.5) / 10000 AS total_price
FROM orders
WHERE o_totalprice > 150000.0 AND o_orderstatus = 'O'
GROUP BY o_orderpriority
""",
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (spark.sql(..., args={...})): literals bind at
    parse time — injection-safe and plan-cache friendly, the right way to
    template the same query over many thresholds."""
    _views(spark, sf_dir, "orders")
    return spark.sql(
        """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       floor((sum(o_totalprice)) * 10000 + 0.5) / 10000 AS total_price
FROM orders
WHERE o_totalprice > :minprice AND o_orderstatus = :status
GROUP BY o_orderpriority
""",
        args={"minprice": 150000.0, "status": "O"},
    )


@query(
    "collate_utf8_lcase",
    oracle="""
SELECT c_nationkey,
       CAST(count(*) FILTER (WHERE lower(c_mktsegment) = 'building') AS BIGINT) AS n_building_ci,
       CAST(count(DISTINCT lower(c_mktsegment)) AS BIGINT) AS n_segments_ci,
       min(lower(c_name)) AS first_name_ci
FROM customer
GROUP BY c_nationkey
""",
)
def collate_utf8_lcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collations: UTF8_LCASE comparison/distinct/ordering without
    materializing lower() — the collation rides the type, so joins and aggs
    on collated columns stay sargable. Oracle twin spells it as lower()."""
    c = load(spark, sf_dir, "customer")
    seg_ci = F.expr("collate(c_mktsegment, 'UTF8_LCASE')")
    return c.groupBy("c_nationkey").agg(
        F.count_if(seg_ci == F.lit("bUiLdInG")).alias("n_building_ci"),
        F.countDistinct(seg_ci).cast("long").alias("n_segments_ci"),
        # min under lcase collation compares case-insensitively but RETURNS an
        # original-cased value — not oracle-stable; emit the lowered form
        F.min(F.lower("c_name")).alias("first_name_ci"),
    )


@query(
    "na_fill_drop",
    oracle="""
WITH masked AS (
  SELECT event_type,
         CASE WHEN value < 20 THEN NULL ELSE value END AS mval
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(mval) AS BIGINT) AS n_kept,
       floor((sum(coalesce(mval, 0.0))) * 10000 + 0.5) / 10000 AS sum_filled,
       floor((avg(coalesce(mval, 0.0))) * 10000 + 0.5) / 10000 AS avg_filled
FROM masked
GROUP BY event_type
""",
)
def na_fill_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df.na handler family: values under 20 masked to NULL, then
    na.fill(0) for the filled aggregates while count(mval) measures what
    na.drop would keep — one pass, both policies quantified."""
    ev = load(spark, sf_dir, "events").withColumn(
        "mval", F.when(F.col("value") >= 20, F.col("value"))
    )
    # record null-ness BEFORE na.fill overwrites it: count_if(!was_null) ==
    # the rows na.drop(subset=['mval']) would keep
    filled = ev.withColumn("was_null", F.col("mval").isNull()).na.fill({"mval": 0.0})
    return filled.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count_if(~F.col("was_null")).alias("n_kept"),
        r4(F.sum("mval")).alias("sum_filled"),
        r4(F.avg("mval")).alias("avg_filled"),
    )


@query(
    "sql_ddl_insert",
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       floor((sum(o_totalprice)) * 10000 + 0.5) / 10000 AS total_price
FROM orders
WHERE o_totalprice > 250000.0 OR o_totalprice < 10000.0
GROUP BY o_orderstatus
""",
)
def sql_ddl_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL DDL lifecycle: CREATE TABLE ... USING PARQUET AS SELECT (the
    high-price slice), INSERT INTO (the low-price slice), aggregate the
    union from the catalog table. DROP + fresh LOCATION keeps re-runs clean.

    Catalog tables (vs temp views) are what bucketBy/partition metadata hang
    off at scale — this key certifies the DDL path works end-to-end.
    """
    _views(spark, sf_dir, "orders")
    loc = scratch(spark, "sql_ddl_insert") + "/t"
    spark.sql("DROP TABLE IF EXISTS upflow_ddl_orders")
    spark.sql(
        f"""
CREATE TABLE upflow_ddl_orders USING PARQUET LOCATION '{loc}'
AS SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
   WHERE o_totalprice > 250000.0
"""
    )
    spark.sql(
        """
INSERT INTO upflow_ddl_orders
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
WHERE o_totalprice < 10000.0
"""
    )
    return spark.sql(
        """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       floor((sum(o_totalprice)) * 10000 + 0.5) / 10000 AS total_price
FROM upflow_ddl_orders
GROUP BY o_orderstatus
"""
    )


_EXISTS_SQL = """
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT')
  AND NOT EXISTS (SELECT 1 FROM orders o2
                  WHERE o2.o_custkey = c.c_custkey
                    AND o2.o_orderstatus = 'F'
                    AND o2.o_totalprice > 300000)
"""


@query("sql_exists_correlated", oracle=_EXISTS_SQL)
def sql_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS submitted as SQL TEXT — Catalyst
    decorrelates both subqueries into a left-semi + left-anti join pair on
    o_custkey (RewriteCorrelatedScalarSubquery / RewritePredicateSubquery),
    so the executed plan is two hash joins, never a per-row subquery loop.
    Identical ANSI text runs on both engines.
    """
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(_EXISTS_SQL)
