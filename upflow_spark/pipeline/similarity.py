"""§2-J similarity search / embedding operators (SURVEY.md; north star).

Vector math is HOF-based (zip_with / aggregate / transform) on double-cast
elements — in-order sequential sums, bit-identical across engines, no UDFs.

Scale strategy (stated per key): the graded keys are brute-force exact (the
baseline the paper variants are judged against); `sim_ann_lsh` is the
random-hyperplane LSH scale path that bounds candidate pairs, and the probe
top-k broadcasts the single probe vector (map-side only + one top-k).

Related public work (PAPERS.md): incremental top-k similarity search
(EDBT 2020) and continuously adaptive similarity search (SIGMOD 2020)
motivate the candidate-prune-verify split used here — exact verification
over bounded candidate sets instead of all-pairs scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from upflow_spark.io import load
from upflow_spark.memo import memo
from upflow_spark.parity import R4, r4
from upflow_spark.pipeline.packed import gather_pairs, pack
from upflow_spark.registry import query

# cosine similarity between two double arrays, Spark side.
# Normalize-first design: _unit() divides each vector by its L2 norm ONCE
# (map-side, before any pair join); _cos of unit vectors is then a plain dot
# product — 3× fewer HOF evaluations in the O(n²) pair loop, and at scale the
# normalized embedding is what you'd persist. Measured at sf0.1: cosine pair
# keys dropped from ~85-96 s to the dot-only cost.
def _dot(a, b):  # noqa: ANN001, ANN201
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _cos(a, b):  # noqa: ANN001, ANN201  (expects _unit()-normalized inputs)
    return _dot(a, b)


def _dbl(col: str):  # noqa: ANN201
    return F.transform(col, lambda x: x.cast("double"))


def _unit(col: str):  # noqa: ANN201
    """double-cast + L2-normalized embedding (one pass, before pair joins)."""
    d = _dbl(col)
    norm = F.sqrt(F.aggregate(d, F.lit(0.0), lambda s, v: s + v * v))
    return F.transform(d, lambda x: x / norm)


# DuckDB twin: in-order double dot/norm via list HOFs
def _sql_cos(a: str, b: str) -> str:
    # mirrors the Spark normalize-first path element-for-element so the
    # floating-point rounding sequence is identical on both engines
    na = f"sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    nb = f"sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> (CAST({a}[i] AS DOUBLE) / {na}) * (CAST({b}[i] AS DOUBLE) / {nb})))"
    )


@query(
    "sim_cosine_topk",
    oracle=f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       floor(({_sql_cos('a.embedding', 'b.embedding')}) * 10000 + 0.5) / 10000 AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
ORDER BY {_sql_cos('a.embedding', 'b.embedding')} DESC, vec_a ASC, vec_b ASC
LIMIT 25
""",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 most-similar embedding pairs by exact cosine (brute force).

    O(n²) pair join — correct baseline at fixture scale; `sim_ann_lsh` is
    the bucketed variant for 100 TB. The orderBy+limit compiles to
    TakeOrderedAndProject (per-partition heaps), so the full pair set is
    never materialized to one node.
    """
    e = load(spark, sf_dir, "embeddings").select("vec_id", _unit("embedding").alias("emb"))
    # the fixture parquet is ONE file -> one partition; without an explicit
    # repartition the broadcast-nested-loop pair join runs the whole O(n^2)
    # HOF workload on a single core (measured 9+ min at sf0.1 -> seconds)
    a = e.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("vec_id").alias("vec_a"), F.col("emb").alias("emb_a")
    )
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("emb_b"))
    cos = _cos(F.col("emb_a"), F.col("emb_b"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cos_raw"))
        .orderBy(F.col("cos_raw").desc(), F.col("vec_a").asc(), F.col("vec_b").asc())
        .limit(25)
        .select("vec_a", "vec_b", r4(F.col("cos_raw")).alias("cos_sim"))
    )


@query(
    "sim_probe_topk",
    oracle=f"""
WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, e.label,
       floor(({_sql_cos('e.embedding', 'probe.p')}) * 10000 + 0.5) / 10000 AS cos_sim
FROM embeddings e CROSS JOIN probe
WHERE e.vec_id <> 0
ORDER BY {_sql_cos('e.embedding', 'probe.p')} DESC, e.vec_id ASC
LIMIT 10
""",
)
def sim_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 nearest neighbors of probe vector vec_id=0 (broadcast probe:
    map-side cosine + top-k — no shuffle of the corpus at any scale)."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _unit("embedding").alias("emb")
    )
    probe = e.filter(F.col("vec_id") == 0).select(F.col("emb").alias("p"))
    cos = _cos(F.col("emb"), F.col("p"))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select("vec_id", "label", cos.alias("cos_raw"))
        .orderBy(F.col("cos_raw").desc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", "label", r4(F.col("cos_raw")).alias("cos_sim"))
    )


@query(
    "sim_centroid_per_label",
    oracle="""
WITH centroid AS (
  SELECT label, pos, avg(v) AS c
  FROM (
    SELECT label, generate_subscripts(embedding, 1) AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS v
    FROM embeddings
  )
  GROUP BY label, pos
)
SELECT e.vec_id, e.label,
       floor((sqrt(sum((CAST(e.v AS DOUBLE) - c.c) * (CAST(e.v AS DOUBLE) - c.c)))) * 10000 + 0.5) / 10000 AS dist_to_centroid
FROM (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
) e
JOIN centroid c ON e.label = c.label AND e.pos = c.pos
GROUP BY e.vec_id, e.label
""",
)
def sim_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean vector per label + each vector's L2 distance to its centroid.

    posexplode → per-(label,pos) avg → broadcast back → per-vector re-agg.
    One explode pass, shuffles keyed on (label,pos) then vec_id.

    Parity note: avg() accumulation order differs between engines; embedding
    values are continuous so 4dp-boundary collisions are ~impossible (unlike
    2-decimal prices — see parity.py).
    """
    e = load(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id", "label", F.posexplode(_dbl("embedding")).alias("pos", "v")
    )
    centroid = ex.groupBy("label", "pos").agg(F.avg("v").alias("c"))
    diff = F.col("v") - F.col("c")
    return (
        ex.join(F.broadcast(centroid), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(r4(F.sqrt(F.sum(diff * diff))).alias("dist_to_centroid"))
    )


@query(
    "knn_classify",
    oracle=f"""
WITH pairs AS (
  SELECT q.vec_id AS query_id, q.label AS true_label, n.label AS neigh_label,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {_sql_cos('q.embedding', 'n.embedding')} DESC,
                                     n.vec_id ASC) AS rn
  FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
  WHERE q.vec_id % 50 = 0
),
votes AS (
  SELECT query_id, true_label, neigh_label, count(*) AS n_votes
  FROM pairs WHERE rn <= 5
  GROUP BY query_id, true_label, neigh_label
)
SELECT query_id, true_label, neigh_label AS predicted_label
FROM (
  SELECT query_id, true_label, neigh_label,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY n_votes DESC, neigh_label ASC) AS vr
  FROM votes
)
WHERE vr = 1
""",
)
def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN majority-label classification for the probe set (vec_id % 50 = 0).

    Ties broken toward the smaller label on both sides. Brute-force kNN is
    the exactness baseline; swap the pair join for sim_ann_lsh buckets at
    scale.

    Plan shape (r4 fix for the 2.2–4.6 s variance): the corpus side is
    repartitioned off the single-file scan and the tiny probe set is
    explicitly broadcast, so the nested-loop join is a map-side pass over
    ≥32 corpus partitions instead of the whole 40×2000 cosine workload
    landing on one core whenever AQE coalesced the probe side. This is the
    100 TB shape too: probes broadcast, corpus streams, top-k per query via
    one small (query_id)-keyed shuffle.
    """
    e = load(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    ).select(
        "vec_id", "label", _unit("embedding").alias("emb")
    )
    q = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("emb").alias("q_emb"),
    )
    cos = _cos(F.col("q_emb"), F.col("emb"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_raw").desc(), F.col("vec_id").asc())
    pairs = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "true_label", "vec_id", F.col("label").alias("neigh_label"), cos.alias("cos_raw"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
    )
    votes = pairs.groupBy("query_id", "true_label", "neigh_label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("neigh_label").asc()
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("query_id", "true_label", F.col("neigh_label").alias("predicted_label"))
    )


def packed_embeddings_cached(
    spark: SparkSession, sf_dir: str, kind: str, e_builder, emb_col: str = "emb"
):
    """packed_embeddings as a session memo, one entry per kind.
    ann_lsh_pairs (raw vectors) and emb_dedup_ann_verified (unit-normalized)
    each need the packed matrix; within a session it's a reusable index —
    same contract as pipeline/dedup.py's packed corpus."""
    return memo(
        spark, sf_dir, "embeddings", f"emb/{kind}",
        lambda: packed_embeddings(spark, e_builder(), emb_col=emb_col),
    )


def packed_embeddings(spark: SparkSession, e: DataFrame, emb_col: str = "emb"):
    """The float64 packed.pack operand of a (vec_id, emb_col) relation.

    Workers pack their partitions' vectors into float64 block rows; the
    driver collects only those block bytes (n × d × 8 ≈ 51 MB at the 10×
    probe), never one Row per vector — the same bounded-build-side
    contract as a broadcast hash join. packed.pack's one
    ceilings.BROADCAST_MAX_BYTES gate prices the matrix BEFORE any byte
    heads driver-ward; past it the checkpointed block relation stays
    distributed and packed.gather_pairs shuffle-gathers each candidate's
    vectors from it instead — at 100 TB the matrix never converges
    anywhere.
    """
    # checkpoint: the gate reads the relation twice (count, pack)
    return pack(spark, e.select("vec_id", emb_col).localCheckpoint(), "f64")


def lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection-LSH candidate pairs (vec_a < vec_b), UNVERIFIED —
    the shared bucket-local candidate generator behind ann_lsh_pairs and
    emb_dedup_ann_verified.

    ML BucketedRandomProjectionLSH assigns the buckets (the production LSH
    surface); candidates come from per-table bucket self-joins (broadcast
    build side — the bucket table is KB-scale) with the "first agreeing
    table" dedup as a codegen'd filter (a pair found in table 0 is NOT
    re-emitted by table 1 — no distinct shuffle). Candidates never
    converge; callers verify with a vectorized kernel.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector, vector_to_array

    par = spark.sparkContext.defaultParallelism

    # The signature assignment is a deterministic (seeded) INDEX over the
    # corpus — production persists it once and runs every ANN query
    # against it, so re-fitting the BRP model and re-materializing buckets
    # per query would be pure fixed overhead (~0.6 s/call measured at
    # sf0.1): a session memo.
    def build() -> DataFrame:
        # single-file fixture -> 1 partition; spread BEFORE fit/join or the
        # bucket explode + pair verify runs on one core
        e = load(spark, sf_dir, "embeddings").repartition(par)
        feats = e.select(
            "vec_id", array_to_vector(_dbl("embedding")).alias("features")
        )
        lsh = BucketedRandomProjectionLSH(
            inputCol="features",
            outputCol="hashes",
            numHashTables=2,
            bucketLength=0.25,
            seed=42,
        )
        model = lsh.fit(feats)
        return (
            model.transform(feats)
            .select(
                "vec_id",
                *[
                    F.element_at(vector_to_array(F.col("hashes")[t]), 1)
                    .cast("long")
                    .alias(f"b{t}")
                    for t in range(2)
                ],
            )
            .localCheckpoint()  # both sides of the self-join read it
        )

    sig = memo(spark, sf_dir, "embeddings", "lsh_signatures", build)
    a = sig.repartition(par).alias("a")
    b = sig.alias("b")
    lt = F.col("a.vec_id") < F.col("b.vec_id")
    cand0 = a.join(
        F.broadcast(b), (F.col("a.b0") == F.col("b.b0")) & lt
    )
    # table-1 matches only when table 0 did NOT match — dedup as a filter,
    # not a shuffle (the minhash first-agreeing-band trick for 2 tables)
    cand1 = a.join(
        F.broadcast(b),
        (F.col("a.b1") == F.col("b.b1")) & (F.col("a.b0") != F.col("b.b0")) & lt,
    )
    return cand0.select(
        F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
    ).unionAll(
        cand1.select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
    )


def ann_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-level random-projection-LSH near pairs (consumed by tests; the
    graded key aggregates — see below).

    r6 rewrite (the minhash_lsh_pairs playbook applied to the BRP family):
    approxSimilarityJoin's per-candidate JVM UDF distance was the whole
    cost on a replica-degenerate corpus — measured 300 s for 35.5M
    candidates at the 10× probe. Candidates come from lsh_candidates
    (bucket self-joins, session-cached signature index); the L2 verify is
    a numpy gather+einsum over the packed matrix (packed.gather_pairs) —
    exact same math, BLAS-speed, candidates never converge.

    The 1.35 threshold: embeddings are unit-norm (max pairwise L2 = 2.0),
    so a loose threshold would admit EVERY pair — an O(n²) join in
    disguise. 1.35 sits just above the typical nearest-neighbor distance
    (p10 of the pair-distance distribution ≈ 1.30 at sf0.1), so the output
    is the genuine near band.
    """
    import numpy as np
    import pandas as pd

    cand = lsh_candidates(spark, sf_dir)
    par = spark.sparkContext.defaultParallelism
    op = packed_embeddings_cached(
        spark,
        sf_dir,
        "raw",
        # spread the single-file scan so the pack kernel runs parallel
        lambda: load(spark, sf_dir, "embeddings")
        .repartition(par)
        .select("vec_id", _dbl("embedding").alias("emb")),
    )

    def verify(pdf, take):
        A, B = take()
        diff = A - B
        dist = np.sqrt(np.einsum("ij,ij->i", diff, diff))
        keep = dist < 1.35  # approxSimilarityJoin's strict threshold
        return pd.DataFrame(
            {
                "vec_a": pdf["vec_a"].to_numpy(np.int64)[keep],
                "vec_b": pdf["vec_b"].to_numpy(np.int64)[keep],
                "l2_dist": dist[keep],
            }
        )

    pairs = gather_pairs(op, cand, verify, "vec_a long, vec_b long, l2_dist double")
    return pairs.select("vec_a", "vec_b", r4(F.col("l2_dist")).alias("l2_dist"))


@query("sim_ann_lsh")  # rows-only: hyperplane buckets are engine-specific
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-hyperplane projection LSH — the 100 TB
    path. Bucketed candidate generation replaces the O(n²) join with
    per-bucket joins; rows-only (hyperplane buckets are engine-specific),
    recall-tested against sim_cosine_topk via ann_lsh_pairs().

    Graded output (r5, mirroring the dedup_minhash_banded_pairs /
    dedup_near_minhash_lsh reshape): the old shape returned every near
    pair — 354k rows at sf0.1, mostly py4j transfer. Now one summary row
    (pair count, order-insensitive checksum, mean distance) with the same
    discriminating power and constant-size output at any scale.
    """
    pairs = ann_lsh_pairs(spark, sf_dir)
    ph = (
        F.col("vec_a") * F.lit(2654435761) + F.col("vec_b") * F.lit(40503)
    ) % F.lit(4294967296)
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(ph).cast("long").alias("pair_checksum"),
        r4(F.avg("l2_dist")).alias("mean_l2_dist"),
    )


@query(
    "emb_cosine_hist",
    oracle=f"""
WITH probes AS (SELECT * FROM embeddings WHERE vec_id % 20 = 0),
pairs AS (
  SELECT CAST(floor(({_sql_cos('p.embedding', 'e.embedding')}) * 10) AS BIGINT)
           AS cos_bucket
  FROM probes p JOIN embeddings e ON p.vec_id < e.vec_id
)
SELECT cos_bucket, CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY cos_bucket
""",
)
def emb_cosine_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine distribution histogram (0.1-wide buckets) over a
    deterministic probe sample (vec_id ≡ 0 mod 20 vs all later ids) — the
    profiling pass that tells you where to SET a near-dup threshold before
    running dedup_embedding_cosine (on this corpus it shows the mass
    sitting at \\|cos\\| < 0.5, which is why that key uses 0.40).

    Probe×corpus is 1/20th of all-pairs — a deterministic sampled
    estimate of the full distribution; the bucket floor happens on the
    identical normalize-first cosine both engines fold in the same
    element order, so bucket membership is bit-stable. At 100 TB: sample
    both sides (p² of pairs) and/or bucket from the GEMM kernel's blocks.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", _unit("embedding").alias("emb")
    )
    probes = e.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("p_id"), F.col("emb").alias("p_emb")
    )
    pairs = e.repartition(spark.sparkContext.defaultParallelism).join(
        F.broadcast(probes), F.col("p_id") < F.col("vec_id")
    )
    bucket = F.floor(_cos(F.col("p_emb"), F.col("emb")) * 10).cast("long")
    return (
        pairs.select(bucket.alias("cos_bucket"))
        .groupBy("cos_bucket")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


FS_N_PROBES, FS_K, FS_KPOST = 20, 5, 20


@query(
    "sim_filtered_topk_prepost",
    oracle=f"""
WITH probes AS MATERIALIZED (
  SELECT vec_id AS probe_id, label AS probe_label, embedding AS pemb
  FROM embeddings ORDER BY vec_id LIMIT {FS_N_PROBES}
),
scored AS MATERIALIZED (
  SELECT p.probe_id, p.probe_label, e.vec_id, e.label,
         floor(({_sql_cos('e.embedding', 'p.pemb')}) * 10000 + 0.5) / 10000
           AS cos_r
  FROM probes p, embeddings e WHERE e.vec_id <> p.probe_id
),
g AS MATERIALIZED (
  SELECT probe_id, probe_label, vec_id, label, cos_r,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY cos_r DESC, vec_id) AS rnk_g
  FROM scored
),
f AS MATERIALIZED (
  SELECT probe_id, probe_label, vec_id, cos_r, rnk_g,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY cos_r DESC, vec_id) AS rnk_f
  FROM g WHERE label = probe_label
),
per AS (
  SELECT probe_id,
         max(CASE WHEN rnk_f = 1 THEN vec_id END) AS top1_id,
         max(CASE WHEN rnk_f = 1 THEN cos_r END) AS top1_cos,
         CAST(count(CASE WHEN rnk_f <= {FS_K} AND rnk_g <= {FS_KPOST}
                         THEN 1 END) AS BIGINT) AS n_post_found,
         {R4("CAST(count(CASE WHEN rnk_f <= " + str(FS_K) + " AND rnk_g <= "
             + str(FS_KPOST) + " THEN 1 END) AS DOUBLE)"
             " / least(" + str(FS_K) + ", max(rnk_f))")} AS post_recall
  FROM f GROUP BY probe_id
)
SELECT p.probe_id, p.probe_label, a.top1_id, a.top1_cos,
       COALESCE(a.n_post_found, CAST(0 AS BIGINT)) AS n_post_found,
       a.post_recall
FROM probes p LEFT JOIN per a ON a.probe_id = p.probe_id
""",
)
def sim_filtered_topk_prepost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — the pre-filter vs post-filter trade-off
    report every attribute-filtered ANN deployment runs before choosing a
    strategy: for {FS_N_PROBES} probes, the TRUE answer is the top-{FS_K}
    among vectors sharing the probe's label (pre-filtering); the cheap
    strategy takes the GLOBAL top-{FS_KPOST} and filters afterwards.
    Graded per probe: the filtered top-1 (id + cosine) and how much of
    the true filtered top-{FS_K} the post-filter route actually recovers
    (n_post_found, recall) — low recall on selective filters is exactly
    why vector stores grew filter-aware index probing.

    Both rankings are 4dp-rounded-cosine + vec_id (the rounded-ADC
    tie-break discipline) over the SAME scored relation, so the report
    is deterministic and hash-checked. This is the brute-force rail —
    probes × corpus with per-probe windows (probe_id partitions); the
    production path routes the filtered search through the IVF cells
    (sim_ann_ivf_pq_batch) with the label as a probe-time predicate on
    the codes table, same plan family, and uses THIS key as its
    recall gate (the emb_pq_recall_eval pattern).
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _unit("embedding").alias("emb")
    )
    probes = (
        e.orderBy("vec_id")
        .limit(FS_N_PROBES)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("label").alias("probe_label"),
            F.col("emb").alias("pemb"),
        )
    )
    corpus = e.repartition(spark.sparkContext.defaultParallelism)
    scored = (
        corpus.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "probe_label",
            "vec_id",
            "label",
            r4(_cos(F.col("emb"), F.col("pemb"))).alias("cos_r"),
        )
    )
    wg = Window.partitionBy("probe_id").orderBy(F.desc("cos_r"), "vec_id")
    g = scored.withColumn("rnk_g", F.row_number().over(wg))
    f = g.filter(F.col("label") == F.col("probe_label")).withColumn(
        "rnk_f", F.row_number().over(wg)
    )
    found = (F.col("rnk_f") <= FS_K) & (F.col("rnk_g") <= FS_KPOST)
    per = f.groupBy("probe_id").agg(
        F.max(F.when(F.col("rnk_f") == 1, F.col("vec_id"))).alias("top1_id"),
        F.max(F.when(F.col("rnk_f") == 1, F.col("cos_r"))).alias("top1_cos"),
        F.count(F.when(found, 1)).alias("n_post_found"),
        r4(
            F.count(F.when(found, 1)).cast("double")
            / F.least(F.lit(FS_K), F.max("rnk_f"))
        ).alias("post_recall"),
    )
    # every probe appears in the report even when its label has no other
    # corpus member (ADVICE r11): n_post_found = 0, scores NULL — the
    # dropout would otherwise be silent on selective label distributions.
    return (
        probes.select("probe_id", "probe_label")
        .join(per, "probe_id", "left")
        .select(
            "probe_id",
            "probe_label",
            "top1_id",
            "top1_cos",
            F.coalesce(F.col("n_post_found"), F.lit(0).cast("long")).alias(
                "n_post_found"
            ),
            "post_recall",
        )
    )


KPP_K = 8  # seeds; greedy farthest-first (deterministic k-means++ variant)


def _kpp_oracle() -> str:
    parts = [
        "s1 AS MATERIALIZED (SELECT vec_id, label, embedding"
        " FROM embeddings ORDER BY vec_id LIMIT 1)",
        f"""d1 AS MATERIALIZED (
  SELECT e.vec_id, e.label, e.embedding,
         floor((1.0 - ({_sql_cos('e.embedding', 's.embedding')})) * 10000
               + 0.5) / 10000 AS mind
  FROM embeddings e, s1 s WHERE e.vec_id <> s.vec_id
)""",
    ]
    for i in range(2, KPP_K + 1):
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT vec_id, label, embedding, mind"
            f" FROM d{i - 1} ORDER BY mind DESC, vec_id LIMIT 1)"
        )
        if i < KPP_K:
            parts.append(f"""d{i} AS MATERIALIZED (
  SELECT d.vec_id, d.label, d.embedding,
         least(d.mind,
               floor((1.0 - ({_sql_cos('d.embedding', 's.embedding')}))
                     * 10000 + 0.5) / 10000) AS mind
  FROM d{i - 1} d, s{i} s WHERE d.vec_id <> s.vec_id
)""")
    rows = [
        "SELECT 1 AS seed_rank, vec_id, label, CAST(NULL AS DOUBLE)"
        " AS min_dist FROM s1"
    ] + [
        f"SELECT {i} AS seed_rank, vec_id, label, mind AS min_dist FROM s{i}"
        for i in range(2, KPP_K + 1)
    ]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(rows)


@query("emb_kmeanspp_init", oracle=_kpp_oracle())
def emb_kmeanspp_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means seeding by greedy FARTHEST-FIRST traversal
    (the derandomized k-means++ variant k-means‖ ships): seed 1 is the
    smallest vec_id, every next seed is the vector maximizing its minimum
    cosine distance to the seeds chosen so far — the spread-out
    initialization that makes Lloyd iterations (emb_pq_encode,
    sim_ann_ivf_kmeans) converge in the 2 rounds those keys budget.
    Graded output: the {KPP_K} seeds in selection order with each one's
    min-distance-to-priors at selection time.

    Determinism discipline: distances are 4dp-rounded BEFORE the argmax
    (rounded-rank rule, vec_id tie-break), so the greedy trajectory is
    engine-exact and the oracle can replay it as an unrolled CTE chain —
    the same verify-a-training-loop pattern as tokenize_bpe_train. Each
    of the K−1 steps is one scan of the candidate relation with a
    broadcast 1-row seed + a TakeOrdered(1): at 100 TB that is K linear
    passes (or one pass per batch in the k-means‖ oversampling variant),
    never a quadratic.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _unit("embedding").alias("emb")
    ).repartition(spark.sparkContext.defaultParallelism)
    seed = e.orderBy("vec_id").limit(1).localCheckpoint()
    out = seed.select(
        F.lit(1).alias("seed_rank"),
        "vec_id",
        "label",
        F.lit(None).cast("double").alias("min_dist"),
    )
    sel = seed.select(F.col("vec_id").alias("s_id"), F.col("emb").alias("s_emb"))
    cand = (
        e.crossJoin(F.broadcast(sel))
        .filter(F.col("vec_id") != F.col("s_id"))
        .select(
            "vec_id",
            "label",
            "emb",
            r4(1.0 - _cos(F.col("emb"), F.col("s_emb"))).alias("mind"),
        )
        .localCheckpoint()
    )
    for i in range(2, KPP_K + 1):
        s_i = (
            cand.orderBy(F.desc("mind"), "vec_id").limit(1).localCheckpoint()
        )
        out = out.unionByName(
            s_i.select(
                F.lit(i).alias("seed_rank"),
                "vec_id",
                "label",
                F.col("mind").alias("min_dist"),
            )
        )
        if i < KPP_K:
            sel = s_i.select(
                F.col("vec_id").alias("s_id"), F.col("emb").alias("s_emb")
            )
            cand = (
                cand.crossJoin(F.broadcast(sel))
                .filter(F.col("vec_id") != F.col("s_id"))
                .select(
                    "vec_id",
                    "label",
                    "emb",
                    F.least(
                        F.col("mind"),
                        r4(1.0 - _cos(F.col("emb"), F.col("s_emb"))),
                    ).alias("mind"),
                )
                .localCheckpoint()
            )
    return out


# MMR re-ranking constants: λ = 0.6 as integer tenths (6·rel − 4·maxsim —
# the basis-point discipline), a DELIBERATELY coarser 1e-4 lattice than
# ann_ivf's 1e-8 (weighted int64 scores must stay < 2^63: values ≤ 2e4,
# dots ≤ 64·4e8 ≈ 2.6e10, ×6 ≈ 1.6e11 — comfortable; both engines share
# the identical lattice so parity is exact regardless of the coarseness)
MMR_Q = 10**4
MMR_OFF = 10**4
MMR_POOL = 20  # candidate pool from the relevance rail
MMR_K = 10  # diversified result size
MMR_LN, MMR_LD = 6, 4  # λ and 1−λ in tenths
_MMR_LAT_SQL = (
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000"
    " + 0.5) AS BIGINT) + 10000)"
)
_MMR_DOT = (
    "list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]))"
)


def _mmr_oracle() -> str:
    parts = [
        f"""mq AS MATERIALIZED (
  SELECT {_MMR_LAT_SQL} AS p FROM embeddings WHERE vec_id = 0
),
mcand AS MATERIALIZED (
  SELECT vec_id, rel, q FROM (
    SELECT e.vec_id, {_MMR_DOT.format(a="q", b="mq.p")} AS rel, q
    FROM (SELECT vec_id, {_MMR_LAT_SQL} AS q FROM embeddings
          WHERE vec_id <> 0) e, mq
  ) ORDER BY rel DESC, vec_id ASC LIMIT {MMR_POOL}
),
mpair AS MATERIALIZED (
  SELECT a.vec_id AS a, b.vec_id AS b,
         CAST({_MMR_DOT.format(a="a.q", b="b.q")} AS BIGINT) AS dot
  FROM mcand a JOIN mcand b ON a.vec_id <> b.vec_id
),
msel1 AS MATERIALIZED (
  SELECT vec_id, CAST(rel AS BIGINT) AS rel, CAST(0 AS BIGINT) AS maxsim,
         1 AS rank
  FROM mcand ORDER BY rel DESC, vec_id ASC LIMIT 1
)"""
    ]
    for k in range(2, MMR_K + 1):
        parts.append(
            f"""mpick{k} AS MATERIALIZED (
  SELECT c.vec_id, CAST(c.rel AS BIGINT) AS rel,
         CAST(max(p.dot) AS BIGINT) AS maxsim, {k} AS rank
  FROM mcand c
  JOIN mpair p ON p.a = c.vec_id
    AND p.b IN (SELECT vec_id FROM msel{k - 1})
  WHERE c.vec_id NOT IN (SELECT vec_id FROM msel{k - 1})
  GROUP BY c.vec_id, c.rel
  ORDER BY {MMR_LN} * CAST(c.rel AS BIGINT) - {MMR_LD} * CAST(max(p.dot) AS BIGINT) DESC,
           c.vec_id ASC
  LIMIT 1
),
msel{k} AS MATERIALIZED (
  SELECT * FROM msel{k - 1} UNION ALL SELECT * FROM mpick{k}
)"""
        )
    return (
        "WITH\n"
        + ",\n".join(parts)
        + f"""
SELECT CAST(rank AS INT) AS rank, vec_id, rel AS rel_dot,
       maxsim AS maxsim_dot,
       CAST({MMR_LN} * rel - {MMR_LD} * maxsim AS BIGINT) AS mmr_score
FROM msel{MMR_K} ORDER BY rank
"""
    )


@query("sim_mmr_diversify", oracle=_mmr_oracle())
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking of a similarity result — the
    retrieval-diversification step between top-k search and RAG context
    assembly: from the probe's top-{MMR_POOL} relevance pool, greedily
    select {MMR_K} items maximizing λ·rel(d) − (1−λ)·max_sim(d, selected)
    (λ = 0.6 in integer tenths), so near-duplicate hits don't crowd the
    context window.

    Exactness: relevance and pairwise similarities are int64 dots over a
    shared 1e-4 lattice (see MMR_Q above) — the greedy argmax chain is
    pure integer comparison on both engines, so the 10-step selection is
    bit-reproducible and the oracle unrolls it as 10 argmax CTE steps.

    Scale: the distributed work is ONE lattice-dot scan + TakeOrdered
    {MMR_POOL} (the sim_cosine_topk rail); the greedy fold runs on the
    driver over the {MMR_POOL}-row pool (bounded collect — the binseg
    "model on driver, data on cluster" topology). At 100 TB the pool
    comes from the IVF/PQ rail instead; MMR cost is unchanged (pool-
    sized, never corpus-sized).
    """
    e = load(spark, sf_dir, "embeddings")
    lat = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * MMR_Q + F.lit(0.5)).cast("long")
        + F.lit(MMR_OFF),
    )
    probe = e.filter(F.col("vec_id") == 0).select(lat.alias("p"))
    rel = F.aggregate(
        F.zip_with("q", "p", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda s, v: s + v,
    )
    pool_rows = (
        e.filter(F.col("vec_id") != 0)
        .select("vec_id", lat.alias("q"))
        .crossJoin(F.broadcast(probe))
        .select("vec_id", rel.alias("rel"), "q")
        .orderBy(F.col("rel").desc(), F.col("vec_id").asc())
        .limit(MMR_POOL)
        .collect()  # bounded: MMR_POOL rows × 64 ints
    )
    cand = {r["vec_id"]: (int(r["rel"]), list(r["q"])) for r in pool_rows}

    def dot(a: list, b: list) -> int:
        s = 0
        for x, y in zip(a, b):
            s += x * y
        return s

    selected: list[tuple[int, int, int, int]] = []  # (rank, vec, rel, maxsim)
    chosen: set = set()
    for rank in range(1, MMR_K + 1):
        best = None
        for vec, (r_d, q) in sorted(cand.items()):
            if vec in chosen:
                continue
            ms = (
                max(dot(q, cand[v][1]) for _, v, _, _ in selected)
                if selected
                else 0
            )
            score = MMR_LN * r_d - MMR_LD * ms
            if best is None or score > best[0]:  # ties: first = min vec_id
                best = (score, vec, r_d, ms)
        selected.append((rank, best[1], best[2], best[3]))
        chosen.add(best[1])
    out = [
        (rank, vec, r_d, ms, MMR_LN * r_d - MMR_LD * ms)
        for rank, vec, r_d, ms in selected
    ]
    return spark.createDataFrame(
        out,
        "rank int, vec_id long, rel_dot bigint, maxsim_dot bigint,"
        " mmr_score bigint",
    )
