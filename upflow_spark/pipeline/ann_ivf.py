"""IVF-style approximate nearest neighbor search (north star scale path #2,
complementing the LSH variant).

IVF (inverted file) structure: a coarse quantizer assigns every vector to
its nearest centroid cell; a probe searches only the `nprobe` closest cells
instead of the full corpus. Here the coarse centroids are the per-label mean
vectors (deterministic, already an operator — sim_centroid_per_label); a
production build would k-means them.

Scale: the cell assignment is one broadcast-centroid map pass; per-query
work drops from O(N) to O(N * nprobe / n_cells). sim_ann_ivf is
hash-checked against a full SQL restatement as of r10 (centroid avgs +
dot ranking are engine-stable at this fixture's gaps); sim_ann_ivf_kmeans
and knn_classify_ann are hash-checked as of r12 via the INTEGER-LATTICE
discipline (components quantized once to a 1e-8 lattice, all centroid
folds and cell routing in exact int64 arithmetic — order-free, so the
distributed partial sums and the DuckDB restatement agree bit-for-bit);
tests/test_ops.py additionally measures recall against the exact
brute-force top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from upflow_spark.io import load
from upflow_spark.parity import R4, r4
from upflow_spark.pipeline.similarity import _cos, _dbl, _sql_cos
from upflow_spark.registry import query

NPROBE = 3
TOP_K = 10

# Integer-lattice discipline for the trained-quantizer keys: quantize each
# component ONCE to a 1e-8 lattice (below the float32 input precision, so
# semantically a no-op) and shift non-negative; every subsequent centroid
# sum / mean / squared distance is then EXACT int64 arithmetic — order-free
# across partitions AND engines. This is the repo's basis-point money
# discipline applied to vectors (VERDICT r11 item 1).
IVF_Q = 10**8
IVF_OFF = 10**8  # shift => all lattice values positive => trunc div == floor
_LAT_SQL = (
    "CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 100000000 + 0.5)"
    " AS BIGINT) + 100000000"
)


def _lat(col):  # noqa: ANN001, ANN201
    """Scaled-integer lattice embedding (array<long>), Spark side."""
    return F.transform(
        col,
        lambda x: F.floor(x.cast("double") * IVF_Q + F.lit(0.5)).cast("long")
        + F.lit(IVF_OFF),
    )


_SQL_DOT_P = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


@query(
    "sim_ann_ivf",
    oracle=f"""
WITH ex AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
cent AS MATERIALIZED (
  SELECT label, list(c ORDER BY pos) AS centroid
  FROM (SELECT label, pos, avg(v) AS c FROM ex GROUP BY label, pos)
  GROUP BY label
),
probe AS MATERIALIZED (SELECT embedding AS p FROM embeddings WHERE vec_id = 0),
cells AS MATERIALIZED (
  SELECT label
  FROM cent, probe
  ORDER BY {_SQL_DOT_P.format(a="centroid", b="p")} DESC, label ASC
  LIMIT {NPROBE}
),
cand AS (
  SELECT e.vec_id, e.label,
         {_SQL_DOT_P.format(a="e.embedding", b="probe.p")} AS cos_raw
  FROM embeddings e JOIN cells USING (label), probe
  WHERE e.vec_id <> 0
)
SELECT vec_id, label,
       floor(cos_raw * 10000 + 0.5) / 10000 AS cos_sim
FROM cand ORDER BY cos_raw DESC, vec_id ASC LIMIT {TOP_K}
""",
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 neighbors of probe vec_id=0 searching only NPROBE IVF cells.

    1. build centroids (mean vector per label) — the inverted-file coarse
       quantizer; 2. rank cells by cosine to the probe, keep NPROBE;
    3. exact cosine only against vectors in those cells.

    HASH-CHECKED as of r10 (was rows-only): the whole pipeline is
    SQL-restatable — per-(label, dim) avg centroids, raw dot-product cell
    ranking with a label tie-break, dot-ranked top-k in the probed cells.
    Centroid avgs re-associate across engines (~1e-15 relative error on
    unit-scale components) but cell gaps and candidate gaps sit many
    orders of magnitude above that, and the output value is r4-rounded.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _dbl("embedding").alias("emb")
    )
    # coarse quantizer: label-mean centroids, reassembled to arrays
    ex = e.select("label", F.posexplode("emb").alias("pos", "v"))
    centroids = (
        ex.groupBy("label", "pos")
        .agg(F.avg("v").alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            "label", F.transform("pc", lambda s: s.getField("c")).alias("centroid")
        )
    )
    probe = e.filter(F.col("vec_id") == 0).select(F.col("emb").alias("p"))
    # rank cells by cosine(centroid, probe); keep NPROBE closest
    cells = (
        centroids.crossJoin(F.broadcast(probe))
        .select("label", _cos(F.col("centroid"), F.col("p")).alias("cell_cos"))
        # label tie-break keeps the cell cut deterministic on both engines
        .orderBy(F.col("cell_cos").desc(), F.col("label").asc())
        .limit(NPROBE)
        .select("label")
    )
    # exact search restricted to the probed cells
    candidates = e.filter(F.col("vec_id") != 0).join(F.broadcast(cells), "label")
    cos = _cos(F.col("emb"), F.col("p"))
    return (
        candidates.crossJoin(F.broadcast(probe))
        .select("vec_id", "label", cos.alias("cos_raw"))
        .orderBy(F.col("cos_raw").desc(), F.col("vec_id").asc())
        .limit(TOP_K)
        .select("vec_id", "label", r4(F.col("cos_raw")).alias("cos_sim"))
    )


def _knn_ann_oracle() -> str:
    cos = _sql_cos("q.embedding", "n.embedding")
    return f"""
WITH ev AS MATERIALIZED (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
         {_LAT_SQL} AS e
  FROM embeddings
),
cent AS MATERIALIZED (
  SELECT label AS cell, pos, CAST(sum(e) // count(*) AS BIGINT) AS c
  FROM ev GROUP BY label, pos
),
qcells AS MATERIALIZED (
  SELECT query_id, cell FROM (
    SELECT d.query_id, d.cell,
           row_number() OVER (PARTITION BY d.query_id
                              ORDER BY d.d2 ASC, d.cell ASC) AS cr
    FROM (
      SELECT ev.vec_id AS query_id, c.cell,
             sum((ev.e - c.c) * (ev.e - c.c)) AS d2
      FROM ev JOIN cent c ON ev.pos = c.pos
      WHERE ev.vec_id % 50 = 0
      GROUP BY ev.vec_id, c.cell
    ) d) WHERE cr <= {NPROBE}
),
pairs AS MATERIALIZED (
  SELECT qc.query_id, q.label AS true_label, n.label AS neigh_label,
         row_number() OVER (PARTITION BY qc.query_id
                            ORDER BY {cos} DESC, n.vec_id ASC) AS rn
  FROM qcells qc
  JOIN embeddings q ON q.vec_id = qc.query_id
  JOIN embeddings n ON n.label = qc.cell AND n.vec_id <> qc.query_id
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
) WHERE vr = 1
"""


@query("knn_classify_ann", oracle=_knn_ann_oracle())
def knn_classify_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN majority-label classification with IVF-routed candidates — the
    scale path for `knn_classify` (VERDICT r1 item 8: the exact key's
    brute-force Q x N pair join shrinks to Q x N x NPROBE / n_cells here).

    Same probe set (vec_id % 50 = 0), same vote/tie rules as the exact key,
    but each query only scores vectors in its NPROBE closest IVF cells.
    HASH-CHECKED as of r12 (was rows-only): the coarse quantizer is an
    integer-lattice label centroid — components quantized once to the 1e-8
    lattice (below float32 input precision), per-(label, dim) TRUNCATING
    integer mean — and cell routing ranks EXACT int64 squared distances
    (ties to the lowest cell), so routing is order-free and bit-identical
    in both engines; only the final 5-NN vote uses float cosine, the same
    hash-checked expression class as knn_classify. Everything is DataFrame
    joins — per-query cell ranking is a broadcast-centroid window, not a
    driver loop — so Q can be millions. tests/test_ops.py exact-matches
    against an independent numpy re-implementation.
    """
    from upflow_spark.pipeline.similarity import _unit

    e = load(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    ).select(
        "vec_id",
        "label",
        _unit("embedding").alias("emb"),
        _lat("embedding").alias("ei"),
    )
    ex = e.select("label", F.posexplode("ei").alias("pos", "v"))
    centroids = (
        ex.groupBy("label", "pos")
        .agg(F.expr("sum(v) div count(1)").alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            F.col("label").alias("cell"),
            F.transform("pc", lambda s: s.getField("c")).alias("centroid"),
        )
    )
    q = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("emb").alias("q_emb"),
        F.col("ei").alias("q_ei"),
    )
    # rank all cells per query (Q x n_cells rows — tiny), keep NPROBE;
    # d2 is an exact integer fold, so the ranking has no float-order risk
    d2 = F.aggregate(
        F.zip_with(F.col("q_ei"), F.col("centroid"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda s, v: s + v,
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("cell").asc()
    )
    q_cells = (
        q.crossJoin(F.broadcast(centroids))
        .select("query_id", "cell", d2.alias("d2"))
        .withColumn("cr", F.row_number().over(wc))
        .filter(F.col("cr") <= NPROBE)
        .select("query_id", F.col("cell").alias("label"))
    )
    # candidates = corpus vectors living in a probed cell of that query
    cand = e.join(F.broadcast(q_cells), "label").filter(
        F.col("vec_id") != F.col("query_id")
    )
    pairs = cand.join(
        q.select("query_id", "true_label", "q_emb"), "query_id"
    ).select(
        "query_id",
        "true_label",
        "vec_id",
        F.col("label").alias("neigh_label"),
        _cos(F.col("q_emb"), F.col("emb")).alias("cos_raw"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_raw").desc(), F.col("vec_id").asc()
    )
    votes = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .groupBy("query_id", "true_label", "neigh_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("neigh_label").asc()
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "query_id", "true_label", F.col("neigh_label").alias("predicted_label")
        )
    )


K_CELLS = 8
KMEANS_ITERS = 3


def _ivf_kmeans_oracle() -> str:
    """Unrolled integer-lattice Lloyd's as chained CTEs (the emb_pq_encode
    proof pattern, VERDICT r11 item 1): seeds are the first K lattice
    vectors by vec_id; each round assigns by EXACT int64 squared distance
    (ties to the lowest cell) and updates by truncating integer mean, so
    DuckDB reproduces the distributed trainer bit-for-bit."""
    parts = [
        f"""ev AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         {_LAT_SQL} AS e
  FROM embeddings
)""",
        f"""seedids AS (
  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {K_CELLS})
)""",
        "cent0 AS MATERIALIZED (SELECT s.cell, ev.pos, ev.e AS c"
        " FROM seedids s JOIN ev USING (vec_id))",
    ]
    for t in range(1, KMEANS_ITERS + 1):
        parts.append(f"""d{t} AS MATERIALIZED (
  SELECT ev.vec_id, c.cell, sum((ev.e - c.c) * (ev.e - c.c)) AS d2
  FROM ev JOIN cent{t - 1} c ON ev.pos = c.pos
  GROUP BY ev.vec_id, c.cell
)""")
        parts.append(f"""a{t} AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2 ASC, cell ASC) AS rn
    FROM d{t}) WHERE rn = 1
)""")
        parts.append(f"""cent{t} AS MATERIALIZED (
  SELECT a.cell, ev.pos, CAST(sum(ev.e) // count(*) AS BIGINT) AS c
  FROM a{t} a JOIN ev USING (vec_id) GROUP BY a.cell, ev.pos
  UNION ALL
  SELECT c.cell, c.pos, c.c FROM cent{t - 1} c
  WHERE c.cell NOT IN (SELECT cell FROM a{t})
)""")
    T = KMEANS_ITERS
    parts.append(f"""dfin AS MATERIALIZED (
  SELECT ev.vec_id, c.cell, sum((ev.e - c.c) * (ev.e - c.c)) AS d2
  FROM ev JOIN cent{T} c ON ev.pos = c.pos
  GROUP BY ev.vec_id, c.cell
)""")
    parts.append("""afin AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2 ASC, cell ASC) AS rn
    FROM dfin) WHERE rn = 1
)""")
    parts.append(f"""cells AS (
  SELECT cell FROM (
    SELECT c.cell, sum((p.e - c.c) * (p.e - c.c)) AS d2
    FROM cent{T} c JOIN ev p ON p.pos = c.pos AND p.vec_id = 0
    GROUP BY c.cell)
  ORDER BY d2 ASC, cell ASC LIMIT {NPROBE}
)""")
    parts.append(
        "probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0)"
    )
    parts.append("""cand AS MATERIALIZED (
  SELECT emb.vec_id, af.cell, emb.embedding
  FROM embeddings emb
  JOIN afin af ON af.vec_id = emb.vec_id
  JOIN cells USING (cell)
  WHERE emb.vec_id <> 0
)""")
    cos = _sql_cos("cand.embedding", "probe.p")
    return (
        "WITH " + ",\n".join(parts) + "\n"
        f"SELECT cand.vec_id, cand.cell,\n"
        f"       floor(({cos}) * 10000 + 0.5) / 10000 AS cos_sim\n"
        f"FROM cand, probe\n"
        f"ORDER BY {cos} DESC, cand.vec_id ASC\n"
        f"LIMIT {TOP_K}"
    )


@query("sim_ann_ivf_kmeans", oracle=_ivf_kmeans_oracle())
def sim_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a k-means-trained coarse quantizer (Lloyd's on the integer
    lattice).

    Unlike sim_ann_ivf's label-mean cells, the quantizer here is learned:
    KMEANS_ITERS rounds of (assign to nearest centroid, recompute cell
    means). Each round is one Arrow map pass emitting K tiny per-partition
    (sum-vector, count) rows; only the K x dim centroid table ever reaches
    the driver (the MLlib treeAggregate pattern — the corpus itself never
    leaves the executors, so the loop scales to 100 TB with K x dim x iters
    driver traffic).

    HASH-CHECKED as of r12 (was rows-only): components are quantized ONCE
    to the 1e-8 integer lattice (below float32 input precision — the
    basis-point discipline applied to vectors), after which every Lloyd
    fold is exact int64 arithmetic: assignment by integer squared distance
    with ties to the lowest cell, centroid update by truncating integer
    mean, empty cells carrying their previous centroid. Integer sums are
    order-free, so partition-parallel partials equal the oracle's unrolled
    sequential CTEs exactly; only the final in-cell cosine ranking is
    float, the same r4-rounded expression class as sim_probe_topk.

    Probe path: rank the K centroids against the probe driver-side (tiny),
    search the NPROBE best cells exactly.
    """
    import numpy as np
    import pandas as pd

    from upflow_spark.pipeline.similarity import _unit

    e = (
        load(spark, sf_dir, "embeddings")
        # single-file fixture -> 1 partition; spread the per-row K x dim
        # distance workload across cores before persist
        .repartition(spark.sparkContext.defaultParallelism)
        .select("vec_id", _lat("embedding").alias("ei"))
        .persist()
    )

    # deterministic seeding: the first K lattice vectors by vec_id
    cents = np.asarray(
        [r["ei"] for r in e.orderBy("vec_id").limit(K_CELLS).collect()],
        dtype=np.int64,
    )
    dim = cents.shape[1]

    for _ in range(KMEANS_ITERS):
        C = cents.copy()  # K x dim int64, broadcast via closure

        def partials(batches):  # noqa: ANN001, ANN202
            # NESTED function on purpose: module-level callables cloudpickle
            # by reference and break when the driver cwd isn't the repo.
            sums = np.zeros((K_CELLS, dim), dtype=np.int64)
            ns = np.zeros(K_CELLS, dtype=np.int64)
            for pdf in batches:
                m = np.vstack(pdf["ei"].to_numpy()).astype(np.int64)
                diff = m[:, None, :] - C[None, :, :]
                # int64 all the way: (1.2e8)^2 * 64 dims < 2^63, no overflow;
                # argmin's first-occurrence rule == ties to the lowest cell
                a = (diff * diff).sum(axis=2).argmin(axis=1)
                for k in np.unique(a):
                    sel = a == k
                    sums[k] += m[sel].sum(axis=0)
                    ns[k] += int(sel.sum())
            yield pd.DataFrame(
                {
                    "cell": list(range(K_CELLS)),
                    "s": [row.tolist() for row in sums],
                    "n": ns,
                }
            )

        rows = e.select("ei").mapInPandas(
            partials, "cell int, s array<long>, n long"
        ).collect()
        sums = np.zeros((K_CELLS, dim), dtype=np.int64)
        ns = np.zeros(K_CELLS, dtype=np.int64)
        for r in rows:
            sums[r["cell"]] += np.asarray(r["s"], dtype=np.int64)
            ns[r["cell"]] += r["n"]
        new = cents.copy()
        for k in range(K_CELLS):
            if ns[k] > 0:  # empty cells keep their old centroid
                new[k] = sums[k] // ns[k]  # positive => trunc == floor
        cents = new

    probe_i = np.asarray(
        e.filter(F.col("vec_id") == 0).collect()[0]["ei"], dtype=np.int64
    )
    e.unpersist()
    pd2 = ((cents - probe_i[None, :]) ** 2).sum(axis=1)
    probed = sorted(range(K_CELLS), key=lambda k: (int(pd2[k]), k))[:NPROBE]

    Cf = cents

    def cell_of(col):  # noqa: ANN001, ANN202
        # argmin over K integer squared distances as ONE Arrow-batched pass
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import IntegerType

        # no type hints: `from __future__ import annotations` stringifies
        # them and pyspark's hint inference rejects the strings
        @pandas_udf(IntegerType())
        def _assign(ei):  # noqa: ANN001, ANN202
            m = np.vstack(ei.to_numpy()).astype(np.int64)
            diff = m[:, None, :] - Cf[None, :, :]
            return pd.Series(
                (diff * diff).sum(axis=2).argmin(axis=1).astype("int32")
            )

        return _assign(col)

    probe = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select(_unit("embedding").alias("p"))
    )
    cand = (
        load(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("vec_id", _unit("embedding").alias("emb"), _lat("embedding").alias("ei"))
        .withColumn("cell", cell_of(F.col("ei")))
        .filter(
            F.col("cell").isin([int(k) for k in probed]) & (F.col("vec_id") != 0)
        )
    )
    dot = F.aggregate(
        F.zip_with(F.col("emb"), F.col("p"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, v: s + v,
    )
    return (
        cand.crossJoin(F.broadcast(probe))
        .select("vec_id", "cell", dot.alias("cos_raw"))
        .orderBy(F.col("cos_raw").desc(), F.col("vec_id").asc())
        .limit(TOP_K)
        .select("vec_id", "cell", r4(F.col("cos_raw")).alias("cos_sim"))
    )


def _pq_sql_psub() -> str:
    """Probe subvector CTE body (s, xs) — the query side of the ADC LUT."""
    return (
        "SELECT ss.s AS s, list_transform(range(1, 9), "
        "i -> CAST(p[ss.s * 8 + i] AS DOUBLE)) AS xs "
        "FROM probe, (SELECT unnest(range(0, 8)) AS s) ss"
    )


def _ivf_pq_oracle() -> str:
    from upflow_spark.pipeline.pca import PQ_TRAIN_CTES, _sql_d2

    return f"""
WITH ex AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
cent AS MATERIALIZED (
  SELECT label, list(c ORDER BY pos) AS centroid
  FROM (SELECT label, pos, avg(v) AS c FROM ex GROUP BY label, pos)
  GROUP BY label
),
probe AS MATERIALIZED (SELECT embedding AS p FROM embeddings WHERE vec_id = 0),
cells AS MATERIALIZED (
  SELECT label
  FROM cent, probe
  ORDER BY {_SQL_DOT_P.format(a="centroid", b="p")} DESC, label ASC
  LIMIT {NPROBE}
),
{PQ_TRAIN_CTES},
cand AS MATERIALIZED (
  SELECT e.vec_id, e.label, e.embedding
  FROM embeddings e JOIN cells USING (label)
  WHERE e.vec_id <> 0
),
csub AS (
  SELECT vec_id, ss.s AS s,
         list_transform(range(1, 9),
           i -> CAST(embedding[ss.s * 8 + i] AS DOUBLE)) AS xs
  FROM cand, (SELECT unnest(range(0, 8)) AS s) ss
),
code AS (
  SELECT vec_id, s, c FROM (
    SELECT csub.vec_id, csub.s, c2.c,
           row_number() OVER (PARTITION BY csub.vec_id, csub.s
             ORDER BY {_sql_d2("csub.xs", "c2.cent")} ASC, c2.c ASC) AS rk
    FROM csub JOIN c2 ON csub.s = c2.s
  ) WHERE rk = 1
),
lut AS (
  SELECT c2.s, c2.c, {_sql_d2("psub.xs", "c2.cent")} AS d2
  FROM c2 JOIN ({_pq_sql_psub()}) psub ON c2.s = psub.s
),
adc AS (
  SELECT vec_id, sum(d2) AS a FROM code JOIN lut USING (s, c) GROUP BY vec_id
)
SELECT cand.vec_id, cand.label,
       floor(a * 10000 + 0.5) / 10000 AS adc
FROM adc JOIN cand USING (vec_id)
ORDER BY floor(a * 10000 + 0.5) / 10000 ASC, vec_id ASC
LIMIT {TOP_K}
"""


PROBE_N_BATCH = 50  # deterministic probe set: the 50 smallest vec_ids


def _ivf_pq_batch_ctes() -> str:
    """The WITH-body shared by sim_ann_ivf_pq_batch's oracle and
    emb_pq_recall_eval's (train + routing + codes + LUT + adc)."""
    from upflow_spark.pipeline.pca import PQ_TRAIN_CTES, _sql_d2

    dot = _SQL_DOT_P.format(a="cent.centroid", b="pr.p")
    return f"""ex AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
cent AS MATERIALIZED (
  SELECT label, list(c ORDER BY pos) AS centroid
  FROM (SELECT label, pos, avg(v) AS c FROM ex GROUP BY label, pos)
  GROUP BY label
),
probes AS MATERIALIZED (
  SELECT vec_id AS probe_id, embedding AS p FROM embeddings
  WHERE vec_id < {PROBE_N_BATCH}
),
cells AS MATERIALIZED (
  SELECT probe_id, label FROM (
    SELECT pr.probe_id, cent.label,
           row_number() OVER (PARTITION BY pr.probe_id
             ORDER BY floor(({dot}) * 10000 + 0.5) / 10000 DESC,
                      cent.label ASC) AS rk
    FROM cent, probes pr
  ) WHERE rk <= {NPROBE}
),
{PQ_TRAIN_CTES},
cand AS MATERIALIZED (
  SELECT cl.probe_id, e.vec_id, e.label
  FROM embeddings e JOIN cells cl USING (label)
  WHERE e.vec_id <> cl.probe_id
),
csub AS (
  SELECT vec_id, ss.s AS s,
         list_transform(range(1, 9),
           i -> CAST(embedding[ss.s * 8 + i] AS DOUBLE)) AS xs
  FROM embeddings, (SELECT unnest(range(0, 8)) AS s) ss
),
code AS MATERIALIZED (
  SELECT vec_id, s, c FROM (
    SELECT csub.vec_id, csub.s, c2.c,
           row_number() OVER (PARTITION BY csub.vec_id, csub.s
             ORDER BY {_sql_d2("csub.xs", "c2.cent")} ASC, c2.c ASC) AS rk
    FROM csub JOIN c2 ON csub.s = c2.s
  ) WHERE rk = 1
),
psub AS (
  SELECT probe_id, ss.s AS s,
         list_transform(range(1, 9),
           i -> CAST(p[ss.s * 8 + i] AS DOUBLE)) AS xs
  FROM probes, (SELECT unnest(range(0, 8)) AS s) ss
),
lut AS MATERIALIZED (
  SELECT psub.probe_id, c2.s, c2.c, {_sql_d2("psub.xs", "c2.cent")} AS d2
  FROM c2 JOIN psub ON c2.s = psub.s
),
adc AS MATERIALIZED (
  SELECT cand.probe_id, cand.vec_id, cand.label, sum(lut.d2) AS a
  FROM cand
  JOIN code ON code.vec_id = cand.vec_id
  JOIN lut ON lut.probe_id = cand.probe_id
          AND lut.s = code.s AND lut.c = code.c
  GROUP BY cand.probe_id, cand.vec_id, cand.label
)"""


def _ivf_pq_batch_oracle() -> str:
    return f"""
WITH {_ivf_pq_batch_ctes()}
SELECT probe_id, CAST(rnk AS BIGINT) AS rnk, vec_id, label,
       floor(a * 10000 + 0.5) / 10000 AS adc
FROM (
  SELECT probe_id, vec_id, label, a,
         row_number() OVER (PARTITION BY probe_id
           ORDER BY floor(a * 10000 + 0.5) / 10000 ASC, vec_id ASC) AS rnk
  FROM adc
)
WHERE rnk <= {TOP_K}
"""


def _pq_recall_oracle() -> str:
    sq = ("(CAST(e.embedding[i] AS DOUBLE) - CAST(p.p[i] AS DOUBLE))"
          " * (CAST(e.embedding[i] AS DOUBLE) - CAST(p.p[i] AS DOUBLE))")
    return f"""
WITH {_ivf_pq_batch_ctes()},
exd AS MATERIALIZED (
  SELECT cand.probe_id, cand.vec_id,
         list_sum(list_transform(range(1, len(e.embedding) + 1), i -> {sq}))
           AS d2
  FROM cand
  JOIN embeddings e ON e.vec_id = cand.vec_id
  JOIN probes p ON p.probe_id = cand.probe_id
),
topx AS MATERIALIZED (
  SELECT probe_id, vec_id FROM (
    SELECT probe_id, vec_id,
           row_number() OVER (PARTITION BY probe_id
             ORDER BY floor(d2 * 10000 + 0.5) / 10000 ASC, vec_id ASC) AS rk
    FROM exd
  ) WHERE rk <= {TOP_K}
),
topa AS MATERIALIZED (
  SELECT probe_id, vec_id FROM (
    SELECT probe_id, vec_id,
           row_number() OVER (PARTITION BY probe_id
             ORDER BY floor(a * 10000 + 0.5) / 10000 ASC, vec_id ASC) AS rnk
    FROM adc
  ) WHERE rnk <= {TOP_K}
)
SELECT t.probe_id,
       CAST(count(x.vec_id) AS BIGINT) AS n_overlap10,
       floor((count(x.vec_id) / {TOP_K}.0) * 10000 + 0.5) / 10000 AS recall10
FROM topa t
LEFT JOIN topx x ON x.probe_id = t.probe_id AND x.vec_id = t.vec_id
GROUP BY t.probe_id
"""


@query("emb_pq_recall_eval", oracle=_pq_recall_oracle())
def emb_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality EVALUATION operator (r11): per-probe recall@10 of the
    rounded-ADC (PQ-compressed) ranking against the exact squared-L2
    ranking over the SAME routed candidates, for the 50-probe batch set —
    the measurement every vector-index deployment runs before trusting a
    compressed read path, here as a first-class graded operator rather
    than a test assertion.

    Both rankings are deterministic (4dp rounding + vec_id tie-break on
    both engines — the exact side's sequential squared-diff fold is the
    proven _sql_cos float pattern), so the per-probe overlap is
    hash-checkable, not just bounded. The exact side gathers candidate
    vectors BY JOIN (the r10 join-gather contract) and reuses the batch
    pipeline's single codes-table join for the ADC side.

    Scale: the eval costs one extra exact-distance pass over the routed
    candidates (O(N × NPROBE / n_cells × probes) — the same bound as the
    read path), so it can ride every index rebuild as a regression gate.
    """
    adc, cand, probes = _ivf_pq_batch_parts(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", _dbl("embedding").alias("emb")
    )
    pairs = cand.select("probe_id", "vec_id").join(e, "vec_id").join(
        F.broadcast(probes), "probe_id"
    )
    d2 = F.aggregate(
        F.zip_with("emb", "p", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    exd = pairs.select("probe_id", "vec_id", d2.alias("d2"))
    w_x = Window.partitionBy("probe_id").orderBy(
        r4(F.col("d2")).asc(), F.col("vec_id").asc()
    )
    topx = (
        exd.withColumn("rk", F.row_number().over(w_x))
        .filter(F.col("rk") <= TOP_K)
        .select("probe_id", "vec_id")
    )
    w_a = Window.partitionBy("probe_id").orderBy(
        r4(F.col("a")).asc(), F.col("vec_id").asc()
    )
    topa = (
        adc.withColumn("rnk", F.row_number().over(w_a))
        .filter(F.col("rnk") <= TOP_K)
        .select("probe_id", "vec_id")
    )
    hit = topx.withColumn("hit", F.lit(1))
    return (
        topa.join(hit, ["probe_id", "vec_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.count("hit").alias("n_overlap10"),
            r4(F.count("hit") / F.lit(float(TOP_K))).alias("recall10"),
        )
    )


@query("sim_ann_ivf_pq_batch", oracle=_ivf_pq_batch_oracle())
def sim_ann_ivf_pq_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED-probe IVF-PQ retrieval (VERDICT r10 item 2) — the
    production shape of the ANN read path: a probe SET (the PROBE_N_BATCH
    smallest vec_ids — every RAG/eval-mining batch run) gets per-probe
    top-k in ONE plan, with no per-probe loop anywhere:

    1. **Routing** — cell scores for all (probe, cell) pairs in one
       broadcast cross of the 8 label-mean centroids against the probe
       set; per-probe NPROBE cut via a row_number window PARTITIONED BY
       probe_id (bounded: n_cells rows per partition). Cell ranking is on
       the 4dp-ROUNDED dot with a label tie-break — per-probe routing
       multiplies the near-tie exposure 50×, so the rounding discipline
       moves from the final rank (where the single-probe key applies it)
       up into the routing cut too.
    2. **Index** — the ENTIRE corpus is PQ-encoded once (the codes table
       IS the persisted index at scale; the single-probe key's
       encode-candidates-only shortcut is the one-shot optimization, not
       the index shape).
    3. **LUT** — the (probe_id, s, c, d2) relation: PROBE_N_BATCH × 128
       rows, built on the driver from the collected probe set (bounded:
       K-row class, 50 × 64 doubles) with the same sequential numpy
       kernel the single-probe LUT uses, broadcast once.
    4. **ADC** — ONE codes-table join for all probes: routing pairs
       (probe_id, vec_id) join the exploded codes on vec_id, then the
       broadcast LUT on (probe_id, s, c), one grouped sum, and the
       per-probe top-k via a probe_id-partitioned window on the rounded
       ADC with vec_id tie-break.

    Scale: per-probe work stays O(N × NPROBE / n_cells); the probe batch
    rides the same index scan instead of re-reading it per query, which is
    the entire point of batching. tests/test_plans.py pins the
    one-join/no-loop plan shape.
    """
    adc, _, _ = _ivf_pq_batch_parts(spark, sf_dir)
    w_k = Window.partitionBy("probe_id").orderBy(
        F.col("adc").asc(), F.col("vec_id").asc()
    )
    return (
        adc.select("probe_id", "vec_id", "label", r4(F.col("a")).alias("adc"))
        .withColumn("rnk", F.row_number().over(w_k).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
        .select("probe_id", "rnk", "vec_id", "label", "adc")
    )


def _ivf_pq_batch_parts(spark: SparkSession, sf_dir: str):
    """The shared batched-IVF-PQ pipeline: returns (adc, cand, probes) —
    per-(probe, candidate) ADC sums, the routing pairs, and the probe
    relation. Used by sim_ann_ivf_pq_batch (read path) and
    emb_pq_recall_eval (quality eval)."""
    import numpy as np

    from upflow_spark.pipeline.pca import _pq_encode_df, _pq_train

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding", _dbl("embedding").alias("emb")
    )
    ex = e.select("label", F.posexplode("emb").alias("pos", "v"))
    centroids = (
        ex.groupBy("label", "pos")
        .agg(F.avg("v").alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            "label", F.transform("pc", lambda s: s.getField("c")).alias("centroid")
        )
    )
    probes = e.filter(F.col("vec_id") < PROBE_N_BATCH).select(
        F.col("vec_id").alias("probe_id"), F.col("emb").alias("p")
    )
    w_route = Window.partitionBy("probe_id").orderBy(
        F.col("cell_cos").desc(), F.col("label").asc()
    )
    cells = (
        centroids.crossJoin(F.broadcast(probes))
        .select(
            "probe_id",
            "label",
            r4(_cos(F.col("centroid"), F.col("p"))).alias("cell_cos"),
        )
        .withColumn("rk", F.row_number().over(w_route))
        .filter(F.col("rk") <= NPROBE)
        .select("probe_id", "label")
    )
    cand = (
        e.select("vec_id", "label")
        .join(F.broadcast(cells), "label")
        .filter(F.col("vec_id") != F.col("probe_id"))
    )

    books = _pq_train(spark, sf_dir)
    n_sub, k, sub_d = books.shape
    # bounded collect: the probe set itself (50 rows) — the batch LUT is
    # driver-built with the same sequential kernel as the 1-probe LUT
    p_rows = probes.orderBy("probe_id").collect()
    lut_rows = [
        (
            int(r["probe_id"]),
            s,
            c,
            float(
                (
                    (
                        np.array(r["p"], dtype=np.float64)[
                            s * sub_d : (s + 1) * sub_d
                        ]
                        - books[s, c]
                    )
                    ** 2
                ).sum()
            ),
        )
        for r in p_rows
        for s in range(n_sub)
        for c in range(k)
    ]
    lut = spark.createDataFrame(lut_rows, "probe_id long, s int, c long, d2 double")

    # the persisted index: codes for the WHOLE corpus, encoded once
    codes = _pq_encode_df(spark, e.select("vec_id", "embedding"), books)
    per = codes.select("vec_id", F.posexplode("codes").alias("s", "c"))
    pairs = cand.join(per, "vec_id")  # the ONE codes-table join
    adc = (
        pairs.join(F.broadcast(lut), ["probe_id", "s", "c"])
        .groupBy("probe_id", "vec_id", "label")
        .agg(F.sum("d2").alias("a"))
    )
    return adc, cand, probes


@query("sim_ann_ivf_pq", oracle=_ivf_pq_oracle())
def sim_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ query — the canonical billion-scale ANN index read path
    (Jégou et al., "Product Quantization for Nearest Neighbor Search"):
    IVF routing narrows the probe to NPROBE cells (label-mean coarse
    quantizer, as sim_ann_ivf), then candidates are ranked by ASYMMETRIC
    DISTANCE COMPUTATION — the exact query vector against each candidate's
    PQ RECONSTRUCTION, evaluated as one 128-row lookup table
    (n_sub × k precomputed subvector distances) summed over the 8 stored
    codes. At scale the index stores ONLY the codes (64× smaller than the
    vectors); the LUT is per-query constant work and the scan is a
    codes-table join, never a vector gather.

    Plan: codes via the shared PQ encode kernel (map-only Arrow pass,
    broadcast codebooks — emb_pq_encode's path), posexplode to (s, c),
    broadcast-join the 128-row LUT, one vec_id sum, rounded-ADC top-k.
    HASH-CHECKED: codebooks/codes are SQL-exact (the emb_pq_encode r10
    proof) and the ADC ranking orders by the 4dp-rounded distance with a
    vec_id tie-break, so engine ULP drift cannot reorder the cut.
    """
    import numpy as np

    from upflow_spark.pipeline.pca import _pq_encode_df, _pq_train

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding", _dbl("embedding").alias("emb")
    )
    ex = e.select("label", F.posexplode("emb").alias("pos", "v"))
    centroids = (
        ex.groupBy("label", "pos")
        .agg(F.avg("v").alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            "label", F.transform("pc", lambda s: s.getField("c")).alias("centroid")
        )
    )
    probe = e.filter(F.col("vec_id") == 0).select(F.col("emb").alias("p"))
    cells = (
        centroids.crossJoin(F.broadcast(probe))
        .select("label", _cos(F.col("centroid"), F.col("p")).alias("cell_cos"))
        .orderBy(F.col("cell_cos").desc(), F.col("label").asc())
        .limit(NPROBE)
        .select("label")
    )
    cand = e.filter(F.col("vec_id") != 0).join(F.broadcast(cells), "label")

    books = _pq_train(spark, sf_dir)  # (n_sub, k, sub_d), driver-bounded
    p_vec = np.array(
        probe.limit(1).collect()[0]["p"], dtype=np.float64
    )  # one bounded row: the query itself
    n_sub, k, sub_d = books.shape
    lut_rows = [
        (s, c, float(((p_vec[s * sub_d : (s + 1) * sub_d] - books[s, c]) ** 2).sum()))
        for s in range(n_sub)
        for c in range(k)
    ]
    lut = spark.createDataFrame(lut_rows, "s int, c long, d2 double")

    codes = _pq_encode_df(spark, cand.select("vec_id", "embedding"), books)
    per = codes.select("vec_id", F.posexplode("codes").alias("s", "c"))
    adc = (
        per.join(F.broadcast(lut), ["s", "c"])
        .groupBy("vec_id")
        .agg(F.sum("d2").alias("a"))
    )
    return (
        adc.join(cand.select("vec_id", "label"), "vec_id")
        .select("vec_id", "label", r4(F.col("a")).alias("adc"))
        .orderBy(F.col("adc").asc(), F.col("vec_id").asc())
        .limit(TOP_K)
    )


@query(
    "emb_ivf_cell_stats",
    oracle=f"""
WITH ex AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
cent AS MATERIALIZED (
  SELECT label AS cell, list(c ORDER BY pos) AS centroid
  FROM (SELECT label, pos, avg(v) AS c FROM ex GROUP BY label, pos)
  GROUP BY label
),
scored AS MATERIALIZED (
  SELECT e.vec_id, e.label, c.cell,
         floor(({_SQL_DOT_P.format(a="e.embedding", b="c.centroid")})
               * 10000 + 0.5) / 10000 AS dot_r
  FROM embeddings e, cent c
),
assigned AS MATERIALIZED (
  SELECT vec_id, label, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dot_r DESC, cell) AS rn
    FROM scored) WHERE rn = 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(count(DISTINCT cell) AS BIGINT) AS n_cells
        FROM assigned)
SELECT a.cell,
       CAST(count(*) AS BIGINT) AS n_assigned,
       CAST(count(*) FILTER (a.label = a.cell) AS BIGINT) AS n_native,
       {R4("CAST(count(*) FILTER (a.label = a.cell) AS DOUBLE) / count(*)")}
         AS purity,
       {R4("CAST(count(*) AS DOUBLE) * max(t.n_cells) / max(t.n_vecs)")}
         AS load_factor
FROM assigned a, tot t
GROUP BY a.cell
""",
)
def emb_ivf_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-HEALTH report — the check a vector-index deployment runs
    after building the coarse quantizer and before trusting NPROBE
    routing: every vector is assigned to its NEAREST centroid (rounded
    dot + cell tie-break — the actual inverted-file assignment, not the
    label it was born with), and per cell the report grades size, native
    membership, purity (quantizer confusion: how many residents the cell
    'stole'), and load factor (cell size ÷ ideal — the imbalance that
    turns NPROBE=2 into a hot-cell scan). A load factor far from 1 or a
    low-purity cell is the signal to retrain (emb_kmeanspp_init feeds
    that retrain with spread seeds).

    Plan: one posexplode centroid build (the hash-checked sim_ann_ivf
    kernel), one corpus×K-centroid broadcast join scored map-side,
    argmax via a vec_id-partitioned window, ONE cell rollup. At 100 TB
    this is a linear pass; the K-row centroid table broadcasts at any
    corpus size.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _dbl("embedding").alias("emb")
    )
    ex = e.select("label", F.posexplode("emb").alias("pos", "v"))
    centroids = (
        ex.groupBy("label", "pos")
        .agg(F.avg("v").alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            F.col("label").alias("cell"),
            F.transform("pc", lambda s: s.getField("c")).alias("centroid"),
        )
    )
    dot = F.aggregate(
        F.zip_with(F.col("emb"), F.col("centroid"), lambda a, b: a * b),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    scored = e.crossJoin(F.broadcast(centroids)).select(
        "vec_id", "label", "cell", r4(dot).alias("dot_r")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("dot_r"), "cell")
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", "cell")
    )
    tot = assigned.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.countDistinct("cell").alias("n_cells"),
    )
    return (
        assigned.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            F.count(F.when(F.col("label") == F.col("cell"), 1)).alias(
                "n_native"
            ),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "cell",
            "n_assigned",
            "n_native",
            r4(
                F.col("n_native").cast("double") / F.col("n_assigned")
            ).alias("purity"),
            r4(
                F.col("n_assigned").cast("double")
                * F.col("n_cells")
                / F.col("n_vecs")
            ).alias("load_factor"),
        )
    )


# ---------------------------------------------------------------------------
# IVF cell maintenance: split the hottest cells (VERDICT r11 item 7)

SPLIT_TOP = 2  # maintenance budget: split the 2 most-loaded cells per cycle
SPLIT_OFF = 1000  # new-subcell id offset (labels are small ints)
NPROBE_POST = NPROBE + 1  # post-split routing probes one extra (sub)cell:
# splitting halves cell sizes, so holding candidate MASS (not cell count)
# constant is the standard nprobe adjustment after a split cycle


def _d2(a, b):  # noqa: ANN001, ANN202 — exact int64 squared distance
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda s, v: s + v,
    )


def _centroid_arr():  # noqa: ANN202 — grouped (…, pos, c) -> centroid array
    return F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "c"))),
        lambda s: s.getField("c"),
    )


def _lattice_cells(spark: SparkSession, sf_dir: str):
    """The starting state both cell-maintenance keys act on: the persisted
    (vec_id, label, unit emb, lattice ei) relation e, the per-label integer
    centroids cent0 (cell, centroid), the checkpointed nearest-centroid
    assignment asg (vec_id, cell), and the probe pv (p_ei, p) of vec_id 0.
    The caller unpersists e."""
    from upflow_spark.pipeline.similarity import _unit

    e = (
        load(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "vec_id", "label", _unit("embedding").alias("emb"),
            _lat("embedding").alias("ei"),
        )
        .persist()
    )
    cent0 = (
        e.select("label", F.posexplode("ei").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.expr("sum(v) div count(1)").alias("c"))
        .groupBy("label")
        .agg(_centroid_arr().alias("centroid"))
        .select(F.col("label").alias("cell"), "centroid")
    )
    wv = Window.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("cell").asc())
    asg = (
        e.crossJoin(F.broadcast(cent0))
        .select("vec_id", "cell", _d2(F.col("ei"), F.col("centroid")).alias("d2"))
        .withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell")
    ).localCheckpoint()  # read by sizes, membership, and both probes
    pv = e.filter(F.col("vec_id") == 0).select(
        F.col("ei").alias("p_ei"), F.col("emb").alias("p")
    )
    return e, cent0, asg, pv


def _probe_cells(pv: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """The nprobe cells nearest the probe on the integer lattice."""
    return (
        cents.crossJoin(F.broadcast(pv.select("p_ei")))
        .select("cell", _d2(F.col("centroid"), F.col("p_ei")).alias("d2"))
        .orderBy(F.col("d2").asc(), F.col("cell").asc())
        .limit(nprobe)
        .select("cell")
    )


def _maintenance_report(
    e: DataFrame, pv: DataFrame, state: str, membership: DataFrame,
    cells: DataFrame, n_moved: DataFrame, n_cells: DataFrame,
) -> DataFrame:
    """One graded row: the probe's candidate bill over ``cells`` under
    ``membership`` and its recall@10 hits against the exact top-10."""
    cos = F.aggregate(
        F.zip_with(F.col("emb"), F.col("p"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, v: s + v,
    )

    def top10(vecs: DataFrame) -> DataFrame:
        return (
            vecs.crossJoin(F.broadcast(pv.select("p")))
            .select("vec_id", cos.alias("cos_raw"))
            .orderBy(F.col("cos_raw").desc(), F.col("vec_id").asc())
            .limit(TOP_K)
            .select("vec_id")
        )

    exact10 = top10(e.filter(F.col("vec_id") != 0))
    cand = membership.join(F.broadcast(cells), "cell", "semi").filter(
        F.col("vec_id") != 0
    )
    top = top10(e.join(F.broadcast(cand.select("vec_id")), "vec_id", "semi"))
    return (
        cand.agg(F.count(F.lit(1)).alias("n_candidates"))
        .crossJoin(
            F.broadcast(
                top.join(F.broadcast(exact10), "vec_id", "semi").agg(
                    F.count(F.lit(1)).alias("n_hits10")
                )
            )
        )
        .crossJoin(F.broadcast(n_moved))
        .crossJoin(F.broadcast(n_cells))
        .withColumn("state", F.lit(state))
        .select("state", "n_cells", "n_moved", "n_candidates", "n_hits10")
    )


def _cell_split_oracle() -> str:
    d2 = "sum((x.e - c.c) * (x.e - c.c))"
    cosp = _sql_cos("e.embedding", "pr.p")
    return f"""
WITH ev AS MATERIALIZED (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
         {_LAT_SQL} AS e
  FROM embeddings
),
cent0 AS MATERIALIZED (
  SELECT label AS cell, pos, CAST(sum(e) // count(*) AS BIGINT) AS c
  FROM ev GROUP BY label, pos
),
asg AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT x.vec_id, c.cell,
           row_number() OVER (PARTITION BY x.vec_id
                              ORDER BY {d2} ASC, c.cell ASC) AS rn
    FROM ev x JOIN cent0 c ON x.pos = c.pos
    GROUP BY x.vec_id, c.cell
  ) WHERE rn = 1
),
sizes AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM asg GROUP BY cell),
split_cells AS MATERIALIZED (
  SELECT cell FROM sizes ORDER BY n DESC, cell ASC LIMIT {SPLIT_TOP}
),
mem AS MATERIALIZED (
  SELECT a.vec_id, a.cell FROM asg a JOIN split_cells USING (cell)
),
seed_a AS MATERIALIZED (
  SELECT cell, min(vec_id) AS a_id FROM mem GROUP BY cell
),
da AS MATERIALIZED (
  SELECT m.cell, m.vec_id,
         sum((x.e - y.e) * (x.e - y.e)) AS d2a
  FROM mem m
  JOIN seed_a s ON s.cell = m.cell
  JOIN ev x ON x.vec_id = m.vec_id
  JOIN ev y ON y.vec_id = s.a_id AND y.pos = x.pos
  GROUP BY m.cell, m.vec_id
),
seed_b AS MATERIALIZED (
  SELECT cell, vec_id AS b_id FROM (
    SELECT cell, vec_id,
           row_number() OVER (PARTITION BY cell
                              ORDER BY d2a DESC, vec_id ASC) AS rn
    FROM da) WHERE rn = 1
),
db AS MATERIALIZED (
  SELECT m.cell, m.vec_id,
         sum((x.e - y.e) * (x.e - y.e)) AS d2b
  FROM mem m
  JOIN seed_b s ON s.cell = m.cell
  JOIN ev x ON x.vec_id = m.vec_id
  JOIN ev y ON y.vec_id = s.b_id AND y.pos = x.pos
  GROUP BY m.cell, m.vec_id
),
sides AS MATERIALIZED (
  SELECT da.cell, da.vec_id,
         CASE WHEN da.d2a <= db.d2b THEN 0 ELSE 1 END AS side
  FROM da JOIN db ON db.cell = da.cell AND db.vec_id = da.vec_id
),
subcent AS MATERIALIZED (
  SELECT CASE WHEN s.side = 0 THEN s.cell
              ELSE s.cell + {SPLIT_OFF} END AS cell,
         x.pos, CAST(sum(x.e) // count(*) AS BIGINT) AS c
  FROM sides s JOIN ev x ON x.vec_id = s.vec_id
  GROUP BY s.cell, s.side, x.pos
),
cent1 AS MATERIALIZED (
  SELECT c.cell, c.pos, c.c FROM cent0 c
  WHERE c.cell NOT IN (SELECT cell FROM split_cells)
  UNION ALL
  SELECT cell, pos, c FROM subcent
),
asg1 AS MATERIALIZED (
  SELECT a.vec_id, a.cell FROM asg a
  WHERE a.cell NOT IN (SELECT cell FROM split_cells)
  UNION ALL
  SELECT s.vec_id,
         CASE WHEN s.side = 0 THEN s.cell ELSE s.cell + {SPLIT_OFF} END
  FROM sides s
),
pv AS MATERIALIZED (SELECT pos, e FROM ev WHERE vec_id = 0),
cells0 AS MATERIALIZED (
  SELECT cell FROM (
    SELECT c.cell, sum((p.e - c.c) * (p.e - c.c)) AS d2
    FROM cent0 c JOIN pv p ON p.pos = c.pos GROUP BY c.cell)
  ORDER BY d2 ASC, cell ASC LIMIT {NPROBE}
),
cells1 AS MATERIALIZED (
  SELECT cell FROM (
    SELECT c.cell, sum((p.e - c.c) * (p.e - c.c)) AS d2
    FROM cent1 c JOIN pv p ON p.pos = c.pos GROUP BY c.cell)
  ORDER BY d2 ASC, cell ASC LIMIT {NPROBE_POST}
),
probe AS MATERIALIZED (SELECT embedding AS p FROM embeddings WHERE vec_id = 0),
exact10 AS MATERIALIZED (
  SELECT e.vec_id FROM embeddings e, probe pr WHERE e.vec_id <> 0
  ORDER BY {cosp} DESC, e.vec_id ASC LIMIT {TOP_K}
),
cand0 AS MATERIALIZED (
  SELECT a.vec_id FROM asg a JOIN cells0 USING (cell) WHERE a.vec_id <> 0
),
cand1 AS MATERIALIZED (
  SELECT a.vec_id FROM asg1 a JOIN cells1 USING (cell) WHERE a.vec_id <> 0
),
top0 AS MATERIALIZED (
  SELECT e.vec_id FROM embeddings e JOIN cand0 USING (vec_id), probe pr
  ORDER BY {cosp} DESC, e.vec_id ASC LIMIT {TOP_K}
),
top1 AS MATERIALIZED (
  SELECT e.vec_id FROM embeddings e JOIN cand1 USING (vec_id), probe pr
  ORDER BY {cosp} DESC, e.vec_id ASC LIMIT {TOP_K}
)
SELECT 'pre_split' AS state,
       (SELECT CAST(count(DISTINCT cell) AS BIGINT) FROM cent0) AS n_cells,
       CAST(0 AS BIGINT) AS n_moved,
       (SELECT CAST(count(*) AS BIGINT) FROM cand0) AS n_candidates,
       (SELECT CAST(count(*) AS BIGINT) FROM top0 t
        JOIN exact10 x ON x.vec_id = t.vec_id) AS n_hits10
UNION ALL
SELECT 'post_split',
       (SELECT CAST(count(DISTINCT cell) AS BIGINT) FROM cent1),
       (SELECT CAST(count(*) AS BIGINT) FROM sides WHERE side = 1),
       (SELECT CAST(count(*) AS BIGINT) FROM cand1),
       (SELECT CAST(count(*) AS BIGINT) FROM top1 t
        JOIN exact10 x ON x.vec_id = t.vec_id)
"""


@query("emb_ivf_cell_split", oracle=_cell_split_oracle())
def emb_ivf_cell_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell MAINTENANCE — act on emb_ivf_cell_stats' imbalance signal
    (VERDICT r11 item 7): split the SPLIT_TOP most-loaded cells into two
    subcells with one deterministic 2-means pass inside each cell
    (seed A = smallest member vec_id, seed B = the member farthest from A,
    one side-assignment, integer-mean subcell centroids), rewrite cell ids
    for MOVED vectors only (side-1 members; side-0 keeps the original
    cell id, untouched cells are never read), and grade the probe recall
    against the exact rail before and after — the split must not degrade
    retrieval while it halves the hot cells' scan cost.

    Everything that decides structure — assignment, hottest-cell ranking,
    seeds, side assignment, subcell centroids, probe routing — runs on
    the r12 integer lattice (exact int64 distances and truncating means),
    so the whole maintenance cycle is order-free and hash-checked; floats
    appear only in the final r4-rounded cosine top-10s, the proven
    sim_probe_topk class. Graded: cell count, moved-vector count,
    candidate-scan bill, and recall@10 hits pre/post.

    At 100 TB: the split touches only the hot cells' members (semi-join
    scoped, like the MOR purge), centroids stay a broadcast-sized
    relation, and the recall gate is the same cheap fixed-probe canary
    the PQ ingest key keeps.
    """
    e, cent0, asg, pv = _lattice_cells(spark, sf_dir)
    split_cells = (
        asg.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("cell").asc())
        .limit(SPLIT_TOP)
        .select("cell")
    )
    mem = asg.join(F.broadcast(split_cells), "cell", "semi")
    ev = e.select("vec_id", "ei")
    seed_a = (
        mem.groupBy("cell")
        .agg(F.min("vec_id").alias("a_id"))
        .join(
            ev.select(F.col("vec_id").alias("a_id"), F.col("ei").alias("a_ei")),
            "a_id",
        )
    )
    da = (
        mem.join(ev, "vec_id")
        .join(F.broadcast(seed_a.select("cell", "a_ei")), "cell")
        .select("cell", "vec_id", "ei", _d2(F.col("ei"), F.col("a_ei")).alias("d2a"))
    )
    wc = Window.partitionBy("cell").orderBy(F.col("d2a").desc(), F.col("vec_id").asc())
    seed_b = (
        da.withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") == 1)
        .select("cell", F.col("ei").alias("b_ei"))
    )
    sides = (
        da.join(F.broadcast(seed_b), "cell")
        .select(
            "cell",
            "vec_id",
            "ei",
            F.when(
                F.col("d2a") <= _d2(F.col("ei"), F.col("b_ei")), 0
            ).otherwise(1).alias("side"),
        )
    ).localCheckpoint()  # read by subcent, asg1, and n_moved
    subcent = (
        sides.select("cell", "side", F.posexplode("ei").alias("pos", "v"))
        .groupBy("cell", "side", "pos")
        .agg(F.expr("sum(v) div count(1)").alias("c"))
        .groupBy("cell", "side")
        .agg(_centroid_arr().alias("centroid"))
        .select(
            F.when(F.col("side") == 0, F.col("cell"))
            .otherwise(F.col("cell") + SPLIT_OFF)
            .alias("cell"),
            "centroid",
        )
    )
    cent1 = cent0.join(F.broadcast(split_cells), "cell", "anti").unionByName(
        subcent
    )
    asg1 = asg.join(F.broadcast(split_cells), "cell", "anti").unionByName(
        sides.select(
            "vec_id",
            F.when(F.col("side") == 0, F.col("cell"))
            .otherwise(F.col("cell") + SPLIT_OFF)
            .alias("cell"),
        ).select("cell", "vec_id")
    )

    zero_moved = spark.range(1).select(
        F.lit(0).cast("long").alias("n_moved")
    )
    moved = sides.filter(F.col("side") == 1).agg(
        F.count(F.lit(1)).alias("n_moved")
    )
    nc0 = cent0.agg(F.countDistinct("cell").alias("n_cells"))
    nc1 = cent1.agg(F.countDistinct("cell").alias("n_cells"))
    res = _maintenance_report(
        e, pv, "pre_split", asg, _probe_cells(pv, cent0, NPROBE), zero_moved, nc0
    ).unionByName(
        _maintenance_report(
            e, pv, "post_split", asg1, _probe_cells(pv, cent1, NPROBE_POST),
            moved, nc1,
        )
    )
    e.unpersist()
    return res


MERGE_BOTTOM = 2  # merge the 2 least-loaded cells per maintenance cycle


def _cell_merge_oracle() -> str:
    d2 = "sum((x.e - c.c) * (x.e - c.c))"
    cosp = _sql_cos("e.embedding", "pr.p")
    return f"""
WITH ev AS MATERIALIZED (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
         {_LAT_SQL} AS e
  FROM embeddings
),
cent0 AS MATERIALIZED (
  SELECT label AS cell, pos, CAST(sum(e) // count(*) AS BIGINT) AS c
  FROM ev GROUP BY label, pos
),
asg AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT x.vec_id, c.cell,
           row_number() OVER (PARTITION BY x.vec_id
                              ORDER BY {d2} ASC, c.cell ASC) AS rn
    FROM ev x JOIN cent0 c ON x.pos = c.pos
    GROUP BY x.vec_id, c.cell
  ) WHERE rn = 1
),
sizes AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM asg GROUP BY cell),
mc AS MATERIALIZED (
  SELECT cell FROM sizes ORDER BY n ASC, cell ASC LIMIT {MERGE_BOTTOM}
),
newid AS (SELECT min(cell) AS cell FROM mc),
merged AS MATERIALIZED (
  SELECT (SELECT cell FROM newid) AS cell, x.pos,
         CAST(sum(x.e) // count(*) AS BIGINT) AS c
  FROM asg a JOIN mc USING (cell) JOIN ev x ON x.vec_id = a.vec_id
  GROUP BY x.pos
),
cent1 AS MATERIALIZED (
  SELECT c.cell, c.pos, c.c FROM cent0 c
  WHERE c.cell NOT IN (SELECT cell FROM mc)
  UNION ALL
  SELECT cell, pos, c FROM merged
),
asg1 AS MATERIALIZED (
  SELECT a.vec_id, a.cell FROM asg a
  WHERE a.cell NOT IN (SELECT cell FROM mc)
  UNION ALL
  SELECT a.vec_id, (SELECT cell FROM newid) AS cell
  FROM asg a JOIN mc USING (cell)
),
pv AS MATERIALIZED (SELECT pos, e FROM ev WHERE vec_id = 0),
cells0 AS MATERIALIZED (
  SELECT cell FROM (
    SELECT c.cell, sum((p.e - c.c) * (p.e - c.c)) AS d2
    FROM cent0 c JOIN pv p ON p.pos = c.pos GROUP BY c.cell)
  ORDER BY d2 ASC, cell ASC LIMIT {NPROBE}
),
cells1 AS MATERIALIZED (
  SELECT cell FROM (
    SELECT c.cell, sum((p.e - c.c) * (p.e - c.c)) AS d2
    FROM cent1 c JOIN pv p ON p.pos = c.pos GROUP BY c.cell)
  ORDER BY d2 ASC, cell ASC LIMIT {NPROBE}
),
probe AS MATERIALIZED (SELECT embedding AS p FROM embeddings WHERE vec_id = 0),
exact10 AS MATERIALIZED (
  SELECT e.vec_id FROM embeddings e, probe pr WHERE e.vec_id <> 0
  ORDER BY {cosp} DESC, e.vec_id ASC LIMIT {TOP_K}
),
cand0 AS MATERIALIZED (
  SELECT a.vec_id FROM asg a JOIN cells0 USING (cell) WHERE a.vec_id <> 0
),
cand1 AS MATERIALIZED (
  SELECT a.vec_id FROM asg1 a JOIN cells1 USING (cell) WHERE a.vec_id <> 0
),
top0 AS MATERIALIZED (
  SELECT e.vec_id FROM embeddings e JOIN cand0 USING (vec_id), probe pr
  ORDER BY {cosp} DESC, e.vec_id ASC LIMIT {TOP_K}
),
top1 AS MATERIALIZED (
  SELECT e.vec_id FROM embeddings e JOIN cand1 USING (vec_id), probe pr
  ORDER BY {cosp} DESC, e.vec_id ASC LIMIT {TOP_K}
)
SELECT 'pre_merge' AS state,
       (SELECT CAST(count(DISTINCT cell) AS BIGINT) FROM cent0) AS n_cells,
       CAST(0 AS BIGINT) AS n_moved,
       (SELECT CAST(count(*) AS BIGINT) FROM cand0) AS n_candidates,
       (SELECT CAST(count(*) AS BIGINT) FROM top0 t
        JOIN exact10 x ON x.vec_id = t.vec_id) AS n_hits10
UNION ALL
SELECT 'post_merge',
       (SELECT CAST(count(DISTINCT cell) AS BIGINT) FROM cent1),
       (SELECT CAST(count(*) AS BIGINT) FROM asg a JOIN mc USING (cell)
        WHERE a.cell <> (SELECT cell FROM newid)),
       (SELECT CAST(count(*) AS BIGINT) FROM cand1),
       (SELECT CAST(count(*) AS BIGINT) FROM top1 t
        JOIN exact10 x ON x.vec_id = t.vec_id)
"""


@query("emb_ivf_cell_merge", oracle=_cell_merge_oracle())
def emb_ivf_cell_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell maintenance, the MERGE dual of emb_ivf_cell_split:
    underloaded cells waste NPROBE budget (probing a near-empty cell buys
    almost no candidates), so the cycle merges the MERGE_BOTTOM
    least-loaded cells into one — new centroid = exact integer mean over
    the union of members, id = the smaller of the two (deterministic),
    codes rewritten only for the cell that lost its id. Recall@10 vs the
    exact rail is graded before and after with the SAME NPROBE: the
    merged cell carries both member sets, so the probe's candidate mass
    can only grow where it matters.

    Same r12 integer-lattice discipline as the split: every structural
    decision (assignment, coldest-cell ranking, merged centroid, probe
    routing) is exact int64, floats only in the final r4 cosine top-10s.
    At 100 TB: split + merge together are the rebalancing loop a
    production IVF index runs on schedule, both semi-join scoped to the
    affected cells' members.
    """
    e, cent0, asg, pv = _lattice_cells(spark, sf_dir)
    mc = (
        asg.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").asc(), F.col("cell").asc())
        .limit(MERGE_BOTTOM)
        .select("cell")
    ).localCheckpoint()  # read by merged/cent1/asg1/n_moved
    new_id = mc.agg(F.min("cell").alias("cell"))
    merged = (
        asg.join(F.broadcast(mc), "cell", "semi")
        .join(e.select("vec_id", "ei"), "vec_id")
        .select(F.posexplode("ei").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.expr("sum(v) div count(1)").alias("c"))
        .groupBy()
        .agg(_centroid_arr().alias("centroid"))
        .crossJoin(F.broadcast(new_id))
        .select("cell", "centroid")
    )
    cent1 = cent0.join(F.broadcast(mc), "cell", "anti").unionByName(merged)
    asg1 = asg.join(F.broadcast(mc), "cell", "anti").unionByName(
        asg.join(F.broadcast(mc), "cell", "semi")
        .crossJoin(F.broadcast(new_id.select(F.col("cell").alias("nc"))))
        .select(F.col("nc").alias("cell"), "vec_id")
    )

    zero_moved = spark.range(1).select(F.lit(0).cast("long").alias("n_moved"))
    moved = (
        asg.join(F.broadcast(mc), "cell", "semi")
        .join(F.broadcast(new_id), "cell", "anti")
        .agg(F.count(F.lit(1)).alias("n_moved"))
    )
    nc0 = cent0.agg(F.countDistinct("cell").alias("n_cells"))
    nc1 = cent1.agg(F.countDistinct("cell").alias("n_cells"))
    res = _maintenance_report(
        e, pv, "pre_merge", asg, _probe_cells(pv, cent0, NPROBE), zero_moved, nc0
    ).unionByName(
        _maintenance_report(
            e, pv, "post_merge", asg1, _probe_cells(pv, cent1, NPROBE), moved, nc1
        )
    )
    e.unpersist()
    return res


AUTO_NP_MAX = 4  # nprobe values tested: 1..4 (of K_CELLS=8 label cells)
AUTO_N_PROBES = 10  # deterministic probe batch: the 10 smallest vec_ids
AUTO_TARGET_BP = 9000  # recall@10 target the autotuner must clear


def _probe_autotune_oracle() -> str:
    return f"""
WITH ev AS MATERIALIZED (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
         {_LAT_SQL} AS e
  FROM embeddings
),
cent AS MATERIALIZED (
  SELECT label, pos, CAST(sum(e) // count(*) AS BIGINT) AS c
  FROM ev GROUP BY label, pos
),
probes AS MATERIALIZED (
  SELECT vec_id AS probe_id FROM embeddings ORDER BY vec_id
  LIMIT {AUTO_N_PROBES}
),
pv AS MATERIALIZED (
  SELECT p.probe_id, ev.pos, ev.e
  FROM probes p JOIN ev ON ev.vec_id = p.probe_id
),
cd AS MATERIALIZED (
  SELECT pv.probe_id, c.label,
         CAST(sum((pv.e - c.c) * (pv.e - c.c)) AS BIGINT) AS d2
  FROM pv JOIN cent c ON c.pos = pv.pos
  GROUP BY pv.probe_id, c.label
),
cr AS MATERIALIZED (
  SELECT probe_id, label,
         CAST(row_number() OVER (PARTITION BY probe_id
                                 ORDER BY d2 ASC, label ASC) AS BIGINT) AS crk
  FROM cd
),
vd AS MATERIALIZED (
  SELECT pv.probe_id, e2.vec_id, CAST(max(e2.label) AS INT) AS label,
         CAST(sum((pv.e - e2.e) * (pv.e - e2.e)) AS BIGINT) AS d2
  FROM pv JOIN ev e2 ON e2.pos = pv.pos
  WHERE e2.vec_id <> pv.probe_id
  GROUP BY pv.probe_id, e2.vec_id
),
ext AS MATERIALIZED (
  SELECT probe_id, vec_id FROM (
    SELECT probe_id, vec_id,
           row_number() OVER (PARTITION BY probe_id
                              ORDER BY d2 ASC, vec_id ASC) AS rk
    FROM vd) WHERE rk <= {TOP_K}
),
nps AS (SELECT CAST(unnest(range(1, {AUTO_NP_MAX} + 1)) AS BIGINT) AS np),
candnp AS MATERIALIZED (
  SELECT n.np, v.probe_id, v.vec_id, v.d2
  FROM nps n, vd v
  JOIN cr ON cr.probe_id = v.probe_id AND cr.label = v.label
  WHERE cr.crk <= n.np
),
annt AS MATERIALIZED (
  SELECT np, probe_id, vec_id FROM (
    SELECT np, probe_id, vec_id,
           row_number() OVER (PARTITION BY np, probe_id
                              ORDER BY d2 ASC, vec_id ASC) AS rk
    FROM candnp) WHERE rk <= {TOP_K}
),
ov AS MATERIALIZED (
  SELECT a.np, CAST(count(x.vec_id) AS BIGINT) AS sum_overlap
  FROM annt a LEFT JOIN ext x
    ON x.probe_id = a.probe_id AND x.vec_id = a.vec_id
  GROUP BY a.np
),
tc AS (
  SELECT np, CAST(count(*) AS BIGINT) AS total_candidates
  FROM candnp GROUP BY np
),
rep AS MATERIALIZED (
  SELECT ov.np, ov.sum_overlap,
         ov.sum_overlap * 10000 // {AUTO_N_PROBES * TOP_K} AS recall_bp,
         tc.total_candidates
  FROM ov JOIN tc ON tc.np = ov.np
),
ch AS (
  SELECT COALESCE(min(np), {AUTO_NP_MAX}) AS cnp
  FROM rep WHERE recall_bp >= {AUTO_TARGET_BP}
)
SELECT rep.np AS nprobe,
       CAST({AUTO_N_PROBES} AS BIGINT) AS n_probes,
       rep.sum_overlap, rep.recall_bp, rep.total_candidates,
       rep.np = ch.cnp AS chosen
FROM rep, ch
"""


@query("emb_ivf_probe_autotune", oracle=_probe_autotune_oracle())
def emb_ivf_probe_autotune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nprobe AUTOTUNING for the IVF index — the operational dial every
    vector-search deployment sets by measurement, not guess (completing
    the maintenance family: cell_stats diagnoses load, split/merge act on
    cells, this key tunes the READ path): for nprobe ∈ 1..{AUTO_NP_MAX},
    route a {AUTO_N_PROBES}-probe batch through the label-cell quantizer
    and grade recall@10 against the GLOBAL exact rail (pq_recall_eval
    grades compression error within routed candidates; this key grades
    the ROUTING loss itself). chosen = the smallest nprobe clearing
    {AUTO_TARGET_BP} bp, else the largest tested.

    Everything is exact int64 on the 1e-8 lattice: truncating-mean
    centroids, probe→cell and probe→vector squared distances, rank
    tie-breaks (d2 ASC, id ASC), recall in integer basis points — no
    float anywhere, hence hash-checked (the r12 lattice discipline).

    Scale: the exact rail costs probes × corpus — the same bill as
    sim_cosine_topk's graded rail, run deliberately as the ground-truth
    leg of an offline tuning job; the ANN legs reuse ONE distance pass
    (candnp filters it per nprobe, never recomputing).
    """
    e = (
        load(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("vec_id", "label", _lat("embedding").alias("ei"))
        .localCheckpoint()  # one lattice pass feeds centroids, probes, rail
    )
    cent = (
        e.select("label", F.posexplode("ei").alias("pos", "ev"))
        .groupBy("label", "pos")
        .agg(F.expr("sum(ev) div count(*)").cast("long").alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            "label", F.transform("pc", lambda s: s.getField("c")).alias("ci")
        )
    )
    probes = (
        e.orderBy("vec_id")
        .limit(AUTO_N_PROBES)
        .select(F.col("vec_id").alias("probe_id"), F.col("ei").alias("pi"))
    )
    d2i = F.aggregate(
        F.zip_with("ei", "pi", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    cd = (
        cent.withColumnRenamed("ci", "ei")
        .crossJoin(F.broadcast(probes))
        .select("probe_id", "label", d2i.alias("d2"))
    )
    w_c = Window.partitionBy("probe_id").orderBy(
        F.col("d2").asc(), F.col("label").asc()
    )
    cr = cd.withColumn("crk", F.row_number().over(w_c).cast("long")).select(
        "probe_id", "label", "crk"
    )
    vd = (
        e.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", "label", d2i.alias("d2"))
        .localCheckpoint()  # ONE distance pass feeds the rail + every nprobe leg
    )
    w_p = Window.partitionBy("probe_id").orderBy(
        F.col("d2").asc(), F.col("vec_id").asc()
    )
    ext = (
        vd.withColumn("rk", F.row_number().over(w_p))
        .filter(F.col("rk") <= TOP_K)
        .select("probe_id", "vec_id")
        .withColumn("hit", F.lit(1))
    )
    nps = spark.range(1, AUTO_NP_MAX + 1).select(F.col("id").alias("np"))
    candnp = (
        vd.join(F.broadcast(cr), ["probe_id", "label"])
        .join(F.broadcast(nps), F.col("crk") <= F.col("np"))
        .select("np", "probe_id", "vec_id", "d2")
    )
    w_a = Window.partitionBy("np", "probe_id").orderBy(
        F.col("d2").asc(), F.col("vec_id").asc()
    )
    annt = (
        candnp.withColumn("rk", F.row_number().over(w_a))
        .filter(F.col("rk") <= TOP_K)
        .select("np", "probe_id", "vec_id")
    )
    ov = (
        annt.join(F.broadcast(ext), ["probe_id", "vec_id"], "left")
        .groupBy("np")
        .agg(F.count("hit").cast("long").alias("sum_overlap"))
    )
    tc = candnp.groupBy("np").agg(
        F.count(F.lit(1)).cast("long").alias("total_candidates")
    )
    rep = (
        ov.join(tc, "np")
        .select(
            "np",
            "sum_overlap",
            F.expr(f"(sum_overlap * 10000) div {AUTO_N_PROBES * TOP_K}")
            .cast("long")
            .alias("recall_bp"),
            "total_candidates",
        )
        .localCheckpoint()  # 4 rows; feeds the chosen-min scan + the output
    )
    ch = rep.filter(F.col("recall_bp") >= AUTO_TARGET_BP).agg(
        F.coalesce(F.min("np"), F.lit(AUTO_NP_MAX)).cast("long").alias("cnp")
    )
    return rep.crossJoin(F.broadcast(ch)).select(
        F.col("np").alias("nprobe"),
        F.lit(AUTO_N_PROBES).cast("long").alias("n_probes"),
        "sum_overlap",
        "recall_bp",
        "total_candidates",
        (F.col("np") == F.col("cnp")).alias("chosen"),
    )


BQ_WORDS = 2  # 64 dims packed as two 32-bit words (sign-safe in int64)


def _bq_oracle() -> str:
    return f"""
WITH ev AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v,
         {_LAT_SQL} AS e
  FROM embeddings
),
bw AS MATERIALIZED (
  SELECT vec_id, pos // 32 AS w,
         CAST(sum(CASE WHEN v > 0.0
                       THEN CAST(1 AS BIGINT) << (pos % 32)
                       ELSE 0 END) AS BIGINT) AS bits
  FROM ev GROUP BY vec_id, pos // 32
),
probes AS MATERIALIZED (
  SELECT vec_id AS probe_id FROM embeddings ORDER BY vec_id
  LIMIT {AUTO_N_PROBES}
),
pw AS MATERIALIZED (
  SELECT p.probe_id, b.w, b.bits FROM probes p
  JOIN bw b ON b.vec_id = p.probe_id
),
ham AS MATERIALIZED (
  SELECT pw.probe_id, b.vec_id,
         CAST(sum(bit_count(xor(pw.bits, b.bits))) AS BIGINT) AS hd
  FROM pw JOIN bw b ON b.w = pw.w
  WHERE b.vec_id <> pw.probe_id
  GROUP BY pw.probe_id, b.vec_id
),
bqt AS MATERIALIZED (
  SELECT probe_id, vec_id FROM (
    SELECT probe_id, vec_id,
           row_number() OVER (PARTITION BY probe_id
                              ORDER BY hd ASC, vec_id ASC) AS rk
    FROM ham) WHERE rk <= {TOP_K}
),
pv2 AS MATERIALIZED (
  SELECT p.probe_id, ev.pos, ev.e
  FROM probes p JOIN ev ON ev.vec_id = p.probe_id
),
vd2 AS MATERIALIZED (
  SELECT pv2.probe_id, e2.vec_id,
         CAST(sum((pv2.e - e2.e) * (pv2.e - e2.e)) AS BIGINT) AS d2
  FROM pv2 JOIN ev e2 ON e2.pos = pv2.pos
  WHERE e2.vec_id <> pv2.probe_id
  GROUP BY pv2.probe_id, e2.vec_id
),
ext2 AS MATERIALIZED (
  SELECT probe_id, vec_id FROM (
    SELECT probe_id, vec_id,
           row_number() OVER (PARTITION BY probe_id
                              ORDER BY d2 ASC, vec_id ASC) AS rk
    FROM vd2) WHERE rk <= {TOP_K}
),
mn AS (
  SELECT probe_id, CAST(min(hd) AS BIGINT) AS best_hamming
  FROM ham GROUP BY probe_id
)
SELECT t.probe_id,
       CAST(count(x.vec_id) AS BIGINT) AS n_overlap10,
       CAST(count(x.vec_id) * 10000 // {TOP_K} AS BIGINT) AS recall10_bp,
       mn.best_hamming
FROM bqt t
LEFT JOIN ext2 x ON x.probe_id = t.probe_id AND x.vec_id = t.vec_id
JOIN mn ON mn.probe_id = t.probe_id
GROUP BY t.probe_id, mn.best_hamming
"""


@query("emb_binary_hamming_topk", oracle=_bq_oracle())
def emb_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY QUANTIZATION read path — the 32×-compression ANN tier below
    int8/PQ (one sign bit per dimension, XOR+popcount distance; the
    memory-bound regime every production vector store ships as its
    cheapest filter): per probe, the Hamming top-10 over sign-packed
    words graded for overlap against the EXACT integer-lattice rail,
    plus the probe's best Hamming distance.

    Everything is exact integer: bits pack as two 32-bit words inside
    int64 (sign-safe — the bloom-key discipline), Hamming is
    Σ bit_count(xor), ranks tie-break (hd, vec_id), recall in integer
    bp. Packing is ONE groupBy(vec, word) of shifted bits, engine-exact.

    Scale: the packed relation is 2 longs per vector (the point of the
    tier); Hamming scan cost ∝ probes × corpus with 2-word arithmetic —
    the cheapest rail in the family, meant to pre-filter before the
    lattice/PQ verifies.
    """
    e = (
        load(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("vec_id", F.posexplode("embedding").alias("pos", "v"))
    )
    bw = (
        e.groupBy(
            "vec_id", (F.col("pos") / 32).cast("int").alias("w")
        )
        .agg(
            F.sum(
                F.when(
                    F.col("v") > 0.0,
                    F.expr(
                        "shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))"
                    ),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("bits")
        )
        .localCheckpoint()  # 2 rows/vector; feeds probes + the Hamming scan
    )
    probes = (
        bw.select("vec_id")
        .distinct()
        .orderBy("vec_id")
        .limit(AUTO_N_PROBES)
        .select(F.col("vec_id").alias("probe_id"))
    )
    pw = probes.join(
        bw.select(F.col("vec_id").alias("probe_id"), "w", F.col("bits").alias("pbits")),
        "probe_id",
    )
    ham = (
        bw.join(F.broadcast(pw), "w")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .groupBy("probe_id", "vec_id")
        .agg(
            F.sum(
                F.bit_count(F.col("bits").bitwiseXOR(F.col("pbits")))
            )
            .cast("long")
            .alias("hd")
        )
        .localCheckpoint()  # feeds the rank and the best-hamming agg
    )
    w_h = Window.partitionBy("probe_id").orderBy(
        F.col("hd").asc(), F.col("vec_id").asc()
    )
    bqt = (
        ham.withColumn("rk", F.row_number().over(w_h))
        .filter(F.col("rk") <= TOP_K)
        .select("probe_id", "vec_id")
    )
    # exact integer-lattice rail (shared discipline with the autotune key)
    el = (
        load(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("vec_id", _lat("embedding").alias("ei"))
    )
    pl = probes.join(
        el.select(F.col("vec_id").alias("probe_id"), F.col("ei").alias("pi")),
        "probe_id",
    )
    d2i = F.aggregate(
        F.zip_with("ei", "pi", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    vd = (
        el.crossJoin(F.broadcast(pl))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", d2i.alias("d2"))
    )
    w_p = Window.partitionBy("probe_id").orderBy(
        F.col("d2").asc(), F.col("vec_id").asc()
    )
    ext = (
        vd.withColumn("rk", F.row_number().over(w_p))
        .filter(F.col("rk") <= TOP_K)
        .select("probe_id", "vec_id")
        .withColumn("hit", F.lit(1))
    )
    mn = ham.groupBy("probe_id").agg(
        F.min("hd").cast("long").alias("best_hamming")
    )
    return (
        bqt.join(F.broadcast(ext), ["probe_id", "vec_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.count("hit").cast("long").alias("n_overlap10"),
            F.expr(f"(count(hit) * 10000) div {TOP_K}")
            .cast("long")
            .alias("recall10_bp"),
        )
        .join(F.broadcast(mn), "probe_id")
        .select("probe_id", "n_overlap10", "recall10_bp", "best_hamming")
    )
