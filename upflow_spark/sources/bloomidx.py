"""File-level BLOOM-FILTER index for point-lookup pruning (§2-W).

Zone maps (scan_manifest_pruned's 1-D buckets, scan_zorder_cluster's 2-D
Morton boxes) prune RANGE predicates but are useless for equality probes on
a column uncorrelated with the file layout — every file's [min, max] spans
the whole domain. The production answer is a per-file Bloom filter
(Parquet's own column index feature, Iceberg/Delta file skipping): k hash
bits per value OR-ed into an M-bit set per file; a probe scans only files
whose filter contains all k bits. No false negatives ever; false positives
are the graded cost of the compression.

Portability discipline: the hash family is Carter–Wegman style
``((x mod P) * a_j + b_j) mod P mod M`` with P = 2³¹−1 and a_j < 2³¹ so
every product stays below 2⁶², exact in int64 on BOTH engines — no
engine-local hash (xxhash64 here, different in DuckDB) ever decides a
graded number. The persisted index relation stores the SET of lit bit
positions per file (the decision procedure is identical to the packed
bitset; word packing is a storage-layout detail this grading does not
depend on).

Reference: n/a (ref empty — SURVEY.md §0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from upflow_spark.io import load
from upflow_spark.memo import scratch
from upflow_spark.registry import query

BLOOM_NF = 16  # files in the layout
BLOOM_M = 4096  # bits per file filter
BLOOM_P = 2147483647  # 2^31 - 1, Mersenne prime
# (a_j, b_j) for the k=3 hash functions; all < 2^31
BLOOM_HASHES = ((2654435761 % BLOOM_P, 104729), (40503, 30011), (999983, 700001))
BLOOM_N_PROBES = 8

_H_ROWS = ", ".join(
    f"(CAST({a} AS BIGINT), CAST({b} AS BIGINT))" for a, b in BLOOM_HASHES
)


def _bit_sql(x: str, a: str = "a", b: str = "b") -> str:
    return f"((({x}) % {BLOOM_P}) * {a} + {b}) % {BLOOM_P} % {BLOOM_M}"


@query(
    "scan_bloom_index_prune",
    oracle=f"""
WITH base AS MATERIALIZED (
  SELECT o_orderkey % {BLOOM_NF} AS f, o_custkey AS ck,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
probes AS MATERIALIZED (
  SELECT DISTINCT ck AS p FROM base ORDER BY p LIMIT {BLOOM_N_PROBES}
),
hashes AS (SELECT * FROM (VALUES {_H_ROWS}) AS t(a, b)),
idx AS MATERIALIZED (
  SELECT DISTINCT f, {_bit_sql("ck")} AS bit FROM base, hashes
),
pb AS MATERIALIZED (
  SELECT DISTINCT p, {_bit_sql("p")} AS bit FROM probes, hashes
),
req AS (SELECT p, CAST(count(*) AS BIGINT) AS n_req FROM pb GROUP BY p),
hitc AS (
  SELECT pb.p, idx.f, CAST(count(*) AS BIGINT) AS c
  FROM pb JOIN idx ON idx.bit = pb.bit
  GROUP BY pb.p, idx.f
),
hit AS MATERIALIZED (
  SELECT hitc.p, hitc.f FROM hitc JOIN req ON req.p = hitc.p
  WHERE hitc.c = req.n_req
),
truef AS MATERIALIZED (SELECT ck AS p, f FROM base GROUP BY ck, f),
nf AS (SELECT CAST(count(DISTINCT f) AS BIGINT) AS n_files FROM base),
per AS (
  SELECT h.p,
         CAST(count(*) AS BIGINT) AS n_files_hit,
         CAST(count(t.f) AS BIGINT) AS n_files_true
  FROM hit h LEFT JOIN truef t ON t.p = h.p AND t.f = h.f
  GROUP BY h.p
),
res AS (
  SELECT h.p,
         CAST(count(b.ck) AS BIGINT) AS n_rows,
         CAST(COALESCE(sum(b.cents), 0) AS BIGINT) AS sum_cents
  FROM hit h LEFT JOIN base b ON b.f = h.f AND b.ck = h.p
  GROUP BY h.p
)
SELECT per.p AS probe_custkey, nf.n_files, per.n_files_hit, per.n_files_true,
       per.n_files_hit - per.n_files_true AS n_false_pos,
       res.n_rows, res.sum_cents
FROM per JOIN res ON res.p = per.p, nf
""",
)
def scan_bloom_index_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-lookup file pruning through a persisted per-file Bloom index:
    orders laid out as {BLOOM_NF} files keyed by o_orderkey (so any one
    customer's rows SCATTER — the layout zone maps cannot help), a
    {BLOOM_M}-bit k=3 Bloom filter built per file over o_custkey and
    persisted as the index artifact, then {BLOOM_N_PROBES} customer-key
    probes answered by scanning ONLY bloom-hit files.

    Graded per probe: files hit vs files truly containing the key (hit −
    true = the false-positive bill; a Bloom filter can NEVER miss a true
    file, which the row-count/sum parity proves), plus the rows and exact
    cents read through the pruned scan.

    Plan: the index build is one groupBy-distinct over (file, bit) — map-
    side combinable, index size ∝ files × M regardless of corpus scale;
    probing joins the ≤(probes·k)-row bit relation against the index and
    the pruned read reaches the partitioned scan as a broadcast semi-join
    on the file id (the DPP pattern shared with _zorder_pruned_read — no
    file list converges on the driver).
    """
    o = load(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % BLOOM_NF).alias("f"),
        F.col("o_custkey").alias("ck"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    base = scratch(spark, "scan_bloom_index_prune") + "/orders"
    o.write.mode("overwrite").partitionBy("f").parquet(base)
    written = spark.read.parquet(base).select("f", "ck", "cents")

    hashes = spark.createDataFrame(
        [(int(a), int(b)) for a, b in BLOOM_HASHES], "a long, b long"
    )
    bit = (((F.col("ck") % BLOOM_P) * F.col("a") + F.col("b")) % BLOOM_P) % BLOOM_M
    idx_path = base + "_bloom"
    (
        written.crossJoin(F.broadcast(hashes))
        .select("f", bit.alias("bit"))
        .distinct()
        .write.mode("overwrite")
        .parquet(idx_path)
    )
    idx = spark.read.parquet(idx_path)

    probes = (
        written.select(F.col("ck").alias("p"))
        .distinct()
        .orderBy("p")
        .limit(BLOOM_N_PROBES)
    )
    pbit = (((F.col("p") % BLOOM_P) * F.col("a") + F.col("b")) % BLOOM_P) % BLOOM_M
    pb = (
        probes.crossJoin(F.broadcast(hashes))
        .select("p", pbit.alias("bit"))
        .distinct()
        .localCheckpoint()  # ≤ probes·k rows; feeds req + the index join
    )
    req = pb.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("n_req"))
    hitc = (
        F.broadcast(pb)
        .join(idx, "bit")
        .groupBy("p", "f")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    hit = (
        hitc.join(F.broadcast(req), "p")
        .filter(F.col("c") == F.col("n_req"))
        .select("p", "f")
        .localCheckpoint()  # ≤ probes·files rows; feeds stats + pruned read
    )

    truef = (
        written.select(F.col("ck").alias("p"), "f")
        .distinct()
        .withColumn("one", F.lit(1))
    )
    nf = written.agg(F.countDistinct("f").cast("long").alias("n_files"))
    per = (
        hit.join(truef, ["p", "f"], "left")
        .groupBy("p")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files_hit"),
            F.count("one").cast("long").alias("n_files_true"),
        )
    )
    # the REAL pruned read: partitioned scan semi-joined on the hit file
    # set (DPP), probe keys re-applied inside the surviving files only
    pruned = spark.read.parquet(base).join(F.broadcast(hit), "f")
    res = (
        pruned.filter(F.col("ck") == F.col("p"))
        .groupBy("p")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .join(hit.select("p").distinct(), "p", "right")
        .fillna(0, ["n_rows", "sum_cents"])
    )
    return (
        per.join(res, "p")
        .crossJoin(F.broadcast(nf))
        .select(
            F.col("p").alias("probe_custkey"),
            "n_files",
            "n_files_hit",
            "n_files_true",
            (F.col("n_files_hit") - F.col("n_files_true"))
            .cast("long")
            .alias("n_false_pos"),
            "n_rows",
            "sum_cents",
        )
    )
