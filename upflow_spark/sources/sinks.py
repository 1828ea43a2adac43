"""§2-A sink operators (SURVEY.md) — rows-only keys.

Each key writes under its own scratch dir (``memo.scratch``), which the
key's next invocation replaces (the fixtures are read-only). Rows-only
because the interesting property — written data reads back identically /
partition pruning works — is asserted by re-reading and returning
verifiable counts, not by SQL-expressible values.

Scale notes: parquet is the only sane sink format at 100 TB (columnar,
splittable, stats for pruning). partitionBy on a low-cardinality column
(event_type: 5 values) gives partition-pruned reads; never partitionBy a
high-cardinality key (file-per-value explosion) — bucket instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from upflow_spark.io import load
from upflow_spark.memo import scratch
from upflow_spark.parity import r4
from upflow_spark.registry import query


@query(
    "sink_parquet_roundtrip",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_expected,
       min(o_orderkey) AS min_orderkey,
       max(o_orderkey) AS max_orderkey
FROM orders WHERE o_totalprice > 100000
""",
)
def sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write filtered orders to parquet, read back, prove data identity.

    r6: promoted from rows-only — the read-back aggregate is
    layout-independent, so the DuckDB twin over the SOURCE relation
    verifies the whole write→read cycle preserved the rows exactly (any
    lost/duplicated/corrupted row moves count or key range)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    out = scratch(spark, "sink_parquet_roundtrip") + "/orders"
    o.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    n_written = o.count()
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(n_written).cast("long").alias("n_expected"),
        F.min("o_orderkey").alias("min_orderkey"),
        F.max("o_orderkey").alias("max_orderkey"),
    )


@query(
    "sink_partitioned",
    oracle="""
SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events WHERE event_type = 'purchase'
GROUP BY event_type
""",
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events partitioned by event_type; read ONE partition back.

    The re-read filter on the partition column prunes directories (no scan of
    the other 4/5 of the data) — the same mechanism that makes date-partitioned
    100 TB tables queryable. r6: promoted from rows-only — the pruned
    partition's aggregate is layout-independent, so the source-side DuckDB
    twin verifies the partitioned write+pruned read preserved the slice.
    """
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    out = scratch(spark, "sink_partitioned") + "/events"
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).filter(F.col("event_type") == "purchase")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "join_dpp",
    oracle="""
SELECT p.p_brand, count(*) AS n_parts,
       floor((sum(p.p_retailprice)) * 10000 + 0.5) / 10000 AS sum_price
FROM part p
JOIN (SELECT DISTINCT p_brand FROM part WHERE p_size <= 2) hot
  ON p.p_brand = hot.p_brand
GROUP BY p.p_brand
""",
)
def join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: a brand-partitioned fact joined to a dim
    whose qualifying keys are only known at RUNTIME (brands that carry size<=2 parts). Catalyst turns the broadcast dim into a dynamicpruning#N subquery
    inside the fact scan's PartitionFilters, so non-qualifying partition
    DIRECTORIES are skipped — static pruning can't do this (the filter isn't
    a literal), and at 100 TB it's the difference between scanning 3 brands
    and scanning all of them.
    """
    p = load(spark, sf_dir, "part")
    out = scratch(spark, "join_dpp") + "/part"
    p.write.mode("overwrite").partitionBy("p_brand").parquet(out)
    fact = spark.read.parquet(out)
    hot = (
        p.filter(F.col("p_size") <= 2)
        .select(F.col("p_brand").alias("hot_brand"))
        .distinct()
    )
    return (
        fact.join(F.broadcast(hot), fact.p_brand == F.col("hot_brand"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            r4(F.sum("p_retailprice")).alias("sum_price"),
        )
    )


@query(
    "scan_schema_evolution",
    oracle="""
SELECT CAST(1 AS BIGINT) AS batch, count(*) AS n_rows,
       count(*) AS n_null_priority
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT CAST(2 AS BIGINT), count(*), CAST(0 AS BIGINT)
FROM orders WHERE o_orderkey % 2 = 1
""",
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: batch 1 was written BEFORE o_orderpriority
    existed; batch 2 after. mergeSchema=true unions the file schemas and
    null-fills the missing column — the only sane posture for a 100 TB
    table whose schema widened over its lifetime.

    Scale note: mergeSchema reads every file footer at planning time — fine
    per-batch, expensive over millions of files; production pins the merged
    schema in a catalog and passes .schema() explicitly (footer reads drop
    to zero). The null-fill semantics exercised here are identical.
    """
    o = load(spark, sf_dir, "orders")
    out = scratch(spark, "scan_schema_evolution") + "/orders"
    old = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    new = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    old.write.mode("overwrite").parquet(out + "/batch=1")
    new.write.mode("overwrite").parquet(out + "/batch=2")
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return (
        back.groupBy(F.col("batch").cast("long").alias("batch"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_if(F.col("o_orderpriority").isNull()).alias("n_null_priority"),
        )
    )


@query(
    "sink_compaction",
    oracle="""
SELECT 'small' AS phase, count(*) AS n_rows FROM orders
UNION ALL
SELECT 'compacted', count(*) FROM orders
""",
)
def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: the maintenance op every long-lived 100 TB
    table needs. A fragmented write (64 splinter files here; in production,
    thousands of per-micro-batch or per-task files) is rewritten to
    size-targeted files with one coalesce pass.

    coalesce(), not repartition(): compaction must not shuffle — it only
    merges read splits, so the rewrite cost is one scan + one write. The
    target file count is ceil(bytes / 128 MB); a real deployment drives
    this from file-listing stats exactly as done here (and compacts only
    partitions whose file count exceeds a threshold, rather than the whole
    table). Row-count identity across the rewrite is the oracle check;
    tests assert the file count actually dropped.
    """
    import math
    import os

    o = load(spark, sf_dir, "orders")
    base = scratch(spark, "sink_compaction")
    small_dir = base + "/small"
    compact_dir = base + "/compacted"
    o.repartition(64).write.mode("overwrite").parquet(small_dir)

    def parquet_files(d: str) -> list[str]:
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    total_bytes = sum(
        os.path.getsize(os.path.join(small_dir, f)) for f in parquet_files(small_dir)
    )
    target = max(1, math.ceil(total_bytes / (128 << 20)))
    small = spark.read.parquet(small_dir)
    small.coalesce(target).write.mode("overwrite").parquet(compact_dir)
    n_small = len(parquet_files(small_dir))
    n_compact = len(parquet_files(compact_dir))
    assert n_compact <= target < n_small
    back_small = spark.read.parquet(small_dir).agg(
        F.lit("small").alias("phase"), F.count(F.lit(1)).alias("n_rows")
    )
    back_compact = spark.read.parquet(compact_dir).agg(
        F.lit("compacted").alias("phase"), F.count(F.lit(1)).alias("n_rows")
    )
    return back_small.unionAll(back_compact)


@query(
    "sink_overwrite_dynamic_partition",
    oracle="""
WITH base AS (SELECT o_orderstatus, o_orderkey, o_totalprice FROM orders),
patch AS (
  SELECT o_orderstatus, o_orderkey,
         floor((o_totalprice * 0.5) * 100 + 0.5) / 100 AS o_totalprice
  FROM orders WHERE o_orderstatus = 'F'
),
final AS (
  SELECT * FROM base WHERE o_orderstatus <> 'F'
  UNION ALL SELECT * FROM patch
)
SELECT o_orderstatus, count(*) AS n_rows,
       floor((sum(o_totalprice)) * 10000 + 0.5) / 10000 AS sum_price
FROM final GROUP BY o_orderstatus
""",
)
def sink_overwrite_dynamic_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite: write orders partitioned by status,
    then overwrite ONLY the 'F' partition with repriced rows
    (partitionOverwriteMode=dynamic — sibling partitions survive, the
    classic incremental-backfill contract; STATIC mode would wipe them).
    Read-back aggregate proves exactly one partition changed.
    """
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    out = scratch(spark, "sink_overwrite_dynamic_partition") + "/orders"
    o = load(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderkey", "o_totalprice"
    )
    o.write.partitionBy("o_orderstatus").mode("overwrite").parquet(out)
    patch = o.filter(F.col("o_orderstatus") == "F").withColumn(
        "o_totalprice", F.floor(F.col("o_totalprice") * 0.5 * 100 + 0.5) / 100
    )
    spark.conf.set(key, "dynamic")
    try:
        patch.write.partitionBy("o_orderstatus").mode("overwrite").parquet(out)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    back = spark.read.parquet(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        r4(F.sum("o_totalprice")).alias("sum_price"),
    )


@query(
    "catalog_analyze_stats",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
       CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations
FROM customer
""",
)
def catalog_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE … COMPUTE STATISTICS: persist table + column stats
    into the catalog and read the row count BACK FROM THE CATALOG — the
    cost-based-optimizer feed (join reordering and broadcast decisions at
    100 TB run off exactly these statistics, so writing/reading them is a
    first-class surface, not bookkeeping).

    The key registers a temp table, ANALYZEs it, asserts the
    catalog-reported rowCount equals the live count, and emits the
    verified stats alongside two column NDVs (computed live — catalog NDVs
    are HLL estimates and wouldn't hash-match).
    """
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    # external table in this application's scratch dir: a managed
    # saveAsTable leaves its warehouse dir behind across sessions and a NEW
    # session then fails with LOCATION_ALREADY_EXISTS on overwrite, and a
    # path shared across processes lets two sessions (driver sim + pytest)
    # overwrite each other's table mid-read (ADVICE r5)
    name = "upflow_stats_customer"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    path = scratch(spark, "catalog_analyze_stats") + "/customer"
    c.write.mode("overwrite").option("path", path).saveAsTable(name)
    spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
    # row count from the catalog statistics line
    stats_line = [
        r["data_type"]
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        if r["col_name"] == "Statistics"
    ]
    catalog_rows = None
    if stats_line:
        import re as _re

        m = _re.search(r"(\d+) rows", stats_line[0])
        if m:
            catalog_rows = int(m.group(1))
    live = spark.table(name)
    n_live = live.count()
    if catalog_rows is not None and catalog_rows != n_live:
        raise AssertionError(
            f"catalog stats rowCount {catalog_rows} != live {n_live}"
        )
    return live.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("c_mktsegment").alias("n_segments"),
        F.countDistinct("c_nationkey").alias("n_nations"),
    )
