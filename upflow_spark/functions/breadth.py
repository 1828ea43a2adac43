"""SQL-surface breadth wave: bitwise expressions, TRY_* safe arithmetic,
edit distance, regexp count/extract, interval arithmetic + date constructors,
ordered string aggregation, range table-valued function, array set algebra,
and outer explode null semantics.

All keys are map-only or single-shuffle shapes built on native Catalyst
expressions (whole-stage codegen; no Python UDFs), so every one of them
scales linearly with input partitions at 100 TB. Reference parity: the
reference repo is empty (SURVEY.md §0) — these keys extend the §2 contract
under the same conventions (identical aliases both sides, r4 float rounding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from upflow_spark.io import load
from upflow_spark.memo import scratch
from upflow_spark.parity import r4
from upflow_spark.registry import query


@query(
    "bitwise_ops",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderkey & 255 AS BIGINT) AS key_low8,
       CAST(o_orderkey | 4096 AS BIGINT) AS key_or,
       CAST(xor(o_orderkey, o_custkey) AS BIGINT) AS key_xor,
       CAST(bit_count(CAST(o_orderkey AS BIGINT)) AS BIGINT) AS key_bits,
       CAST(o_custkey << 2 AS BIGINT) AS cust_shl2,
       CAST(o_orderkey >> 3 AS BIGINT) AS key_shr3
FROM orders
""",
)
def bitwise_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise and/or/xor, popcount, shifts — all codegen'd JVM expressions.

    Scale note: pure map-side projection; partition count = input splits,
    zero shuffle at any data size.
    """
    o = load(spark, sf_dir, "orders")
    k, c = F.col("o_orderkey"), F.col("o_custkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).cast("long").alias("key_low8"),
        k.bitwiseOR(F.lit(4096)).cast("long").alias("key_or"),
        k.bitwiseXOR(c).cast("long").alias("key_xor"),
        F.bit_count(k).cast("long").alias("key_bits"),
        F.shiftleft(c, 2).cast("long").alias("cust_shl2"),
        F.shiftright(k, 3).cast("long").alias("key_shr3"),
    )


@query(
    "try_arithmetic",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_custkey % 3 = 0 THEN NULL
            ELSE floor((o_totalprice / (o_custkey % 3)) * 10000 + 0.5) / 10000
       END AS safe_div,
       floor((o_totalprice + 1e6) * 10000 + 0.5) / 10000 AS safe_add,
       TRY_CAST(o_orderstatus AS BIGINT) AS status_num
FROM orders
""",
)
def try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe TRY_* arithmetic: null instead of error on /0 and bad casts.

    At scale this is the difference between a 100 TB job dying at hour 9 on
    one malformed row and the row degrading to NULL for later auditing.
    """
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        r4(F.try_divide(F.col("o_totalprice"), F.col("o_custkey") % 3)).alias("safe_div"),
        r4(F.try_add(F.col("o_totalprice"), F.lit(1e6))).alias("safe_add"),
        F.col("o_orderstatus").try_cast("long").alias("status_num"),
    )


@query(
    "str_levenshtein",
    oracle="""
SELECT c_custkey,
       CAST(levenshtein(c_name, 'Customer#000000000') AS BIGINT) AS dist_canon,
       CAST(levenshtein(c_mktsegment, 'BUILDING') AS BIGINT) AS dist_segment
FROM customer
""",
)
def str_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit distance vs canonical strings — fuzzy-match primitive for
    entity-resolution pipelines (same DP algorithm in Spark and DuckDB)."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.levenshtein("c_name", F.lit("Customer#000000000")).cast("long").alias("dist_canon"),
        F.levenshtein("c_mktsegment", F.lit("BUILDING")).cast("long").alias("dist_segment"),
    )


@query(
    "str_regexp_count",
    oracle="""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_numbers,
       coalesce(nullif(regexp_extract(text, '[0-9]+'), ''), 'NONE') AS first_number,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_words
FROM documents
""",
)
def str_regexp_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_count + regexp_substr over the text corpus (POSIX-simple
    patterns so Java and RE2-ish dialects agree)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit(r"[0-9]+")).cast("long").alias("n_numbers"),
        F.coalesce(F.regexp_substr("text", F.lit(r"[0-9]+")), F.lit("NONE")).alias(
            "first_number"
        ),
        F.regexp_count("text", F.lit(r"[A-Za-z]+")).cast("long").alias("n_words"),
    )


@query(
    "interval_arith",
    oracle="""
SELECT o_orderkey,
       o_orderdate + to_months(3) AS plus_3mo,
       o_orderdate + to_days(100) AS plus_100d,
       o_orderdate - to_hours(36) AS minus_36h,
       CAST(make_date(CAST(year(o_orderdate) AS INTEGER), CAST(month(o_orderdate) AS INTEGER), 1) AS TIMESTAMP) AS month_start,
       make_timestamp(CAST(year(o_orderdate) AS BIGINT), CAST(month(o_orderdate) AS BIGINT), 1, 12, 0, 0.0) AS month_noon
FROM orders
""",
)
def interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar interval arithmetic (month clamping matches DuckDB) plus
    make_date/make_timestamp constructors.

    Oracle landmine (DuckDB 1.0.0): interval constants are deduplicated by
    *interval comparison* semantics, where 1 month == 30 days — so
    ``INTERVAL 3 MONTH`` and ``INTERVAL 90 DAY`` in one SELECT collapse into
    a single constant and both columns come back +3 months. The day offset
    here is 100 (≠ any month multiple) to dodge the collision.
    """
    o = load(spark, sf_dir, "orders")
    y = F.year("o_orderdate")
    m = F.month("o_orderdate")
    return o.select(
        "o_orderkey",
        F.expr("o_orderdate + INTERVAL 3 MONTH").alias("plus_3mo"),
        F.expr("o_orderdate + INTERVAL 100 DAY").alias("plus_100d"),
        F.expr("o_orderdate - INTERVAL 36 HOUR").alias("minus_36h"),
        F.make_date(y, m, F.lit(1)).cast("timestamp_ntz").alias("month_start"),
        F.make_timestamp(y, m, F.lit(1), F.lit(12), F.lit(0), F.lit(0))
        .cast("timestamp_ntz")
        .alias("month_noon"),
    )


@query(
    "agg_string_agg",
    oracle="""
SELECT o_orderpriority,
       string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
       CAST(count(*) AS BIGINT) AS n_statuses
FROM (SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders)
GROUP BY o_orderpriority
""",
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered LISTAGG/string_agg surface: deterministic via sort-then-join
    (collect_set is unordered; array_sort pins the output)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select("o_orderpriority", "o_orderstatus")
        .distinct()
        .groupBy("o_orderpriority")
        .agg(
            F.array_join(F.array_sort(F.collect_list("o_orderstatus")), ",").alias("statuses"),
            F.count(F.lit(1)).alias("n_statuses"),
        )
    )


@query(
    "agg_bool_bit",
    oracle="""
SELECT c_nationkey,
       bool_and(c_acctbal > 0) AS all_positive,
       bool_or(c_acctbal < -900) AS any_deep_debt,
       CAST(bit_and(c_custkey) AS BIGINT) AS key_bit_and,
       CAST(bit_or(c_custkey) AS BIGINT) AS key_bit_or,
       CAST(bit_xor(c_custkey) AS BIGINT) AS key_bit_xor
FROM customer
GROUP BY c_nationkey
""",
)
def agg_bool_bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bool_and/bool_or + bitwise aggregate functions per nation (all have
    map-side partial aggregation — shuffle carries 25 rows, not 15k)."""
    c = load(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.bool_and(F.col("c_acctbal") > 0).alias("all_positive"),
        F.bool_or(F.col("c_acctbal") < -900).alias("any_deep_debt"),
        F.bit_and("c_custkey").cast("long").alias("key_bit_and"),
        F.bit_or("c_custkey").cast("long").alias("key_bit_or"),
        F.bit_xor("c_custkey").cast("long").alias("key_bit_xor"),
    )


@query(
    "tvf_range_series",
    oracle="""
SELECT CAST(i % 7 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(i) AS BIGINT) AS total,
       CAST(sum(i * i) AS BIGINT) AS total_sq
FROM generate_series(0, 9999) t(i)
GROUP BY i % 7
""",
)
def tvf_range_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated-series table-valued source (spark.range ↔ generate_series):
    synthetic spines for gap fill / date scaffolds without any input scan.

    spark.range parallelizes the series across the cluster (numPartitions
    arg), unlike driver-side enumeration.
    """
    r = spark.range(0, 10000, 1, 8)
    i = F.col("id")
    return (
        r.groupBy((i % 7).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(i).alias("total"),
            F.sum(i * i).alias("total_sq"),
        )
    )


@query(
    "array_set_algebra",
    oracle="""
SELECT vec_id,
       array_to_string(list_sort(list_distinct(list_concat(a, b))), ',') AS ab_union,
       coalesce(array_to_string(list_sort(list_intersect(a, b)), ','), '') AS ab_intersect,
       coalesce(array_to_string(list_sort(list_filter(a, x -> NOT list_contains(b, x))), ','), '') AS a_minus_b,
       CAST(list_position(a, 3) AS BIGINT) AS pos_of_3,
       array_to_string(flatten([a, b]), ',') AS ab_concat
FROM (SELECT vec_id,
             generate_series(1, 1 + vec_id % 5) AS a,
             generate_series(3, 3 + vec_id % 4) AS b
      FROM embeddings)
""",
)
def array_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array_union / intersect / except / position / flatten — set algebra on
    array columns (token-set ops for dedup pipelines) without exploding.

    Spark's array_union dedups in first-appearance order and array_except is
    distinct-semantics; both sides sort so ordering conventions can't leak
    into the hash. pos_of_3: both engines are 1-based with 0 for missing.
    """
    e = load(spark, sf_dir, "embeddings").select("vec_id")
    v = F.col("vec_id")
    a = F.sequence(F.lit(1), (v % 5 + 1).cast("int"))
    b = F.sequence(F.lit(3), (v % 4 + 3).cast("int"))
    return e.select(
        "vec_id",
        F.array_join(F.array_sort(F.array_union(a, b)), ",").alias("ab_union"),
        F.array_join(F.array_sort(F.array_intersect(a, b)), ",").alias("ab_intersect"),
        F.array_join(F.array_sort(F.array_except(a, b)), ",").alias("a_minus_b"),
        F.array_position(a, 3).cast("long").alias("pos_of_3"),
        F.array_join(F.flatten(F.array(a, b)), ",").alias("ab_concat"),
    )


@query(
    "explode_outer_null",
    oracle="""
SELECT n_nationkey, u AS item
FROM (SELECT n_nationkey,
             CASE WHEN n_nationkey % 5 = 0 THEN NULL
                  WHEN n_nationkey % 7 = 0 THEN []
                  ELSE generate_series(1, n_nationkey % 4 + 1) END AS arr
      FROM nation) t,
     unnest(CASE WHEN arr IS NULL OR len(arr) = 0 THEN [NULL] ELSE arr END) AS un(u)
""",
)
def explode_outer_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer semantics: NULL and empty arrays keep their parent row
    (plain explode silently drops them — a classic lost-rows bug in ETL)."""
    n = load(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    arr = (
        F.when(k % 5 == 0, F.lit(None).cast("array<int>"))
        .when(k % 7 == 0, F.array().cast("array<int>"))
        .otherwise(F.sequence(F.lit(1), (k % 4 + 1).cast("int")))
    )
    return n.select("n_nationkey", F.explode_outer(arr).alias("item"))


@query(
    "source_orc_roundtrip",
    oracle="""
SELECT s_nationkey,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       floor((sum(s_acctbal)) * 10000 + 0.5) / 10000 AS total_bal,
       min(s_name) AS first_name
FROM supplier
GROUP BY s_nationkey
""",
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet → ORC → schema'd read-back → aggregate == original's oracle.

    ORC is Spark's second built-in columnar format (predicate pushdown and
    column pruning work the same as parquet); the write here is
    partition-parallel, not a driver collect.
    """
    s = load(spark, sf_dir, "supplier")
    out = scratch(spark, "source_orc_roundtrip") + "/supplier"
    s.write.mode("overwrite").orc(out)
    back = spark.read.schema(s.schema).orc(out)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        r4(F.sum("s_acctbal")).alias("total_bal"),
        F.min("s_name").alias("first_name"),
    )
