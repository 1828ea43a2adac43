"""stream_emb_index_ingest invariant (r10): the classification produced by
the INCREMENTALLY-grown LSH signature index must equal the one computed in
a single batch pass over the same corpus with the same fitted quantizer —
wave-by-wave index appends change nothing but the materialization order.
The dup_id_checksum row pins per-vector identity, not just counts."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from upflow_spark.registry import QUERIES


def _batch_reference(spark, sf_dir):
    """One-pass restatement: vector of wave w is near_dup iff some vector
    of a strictly earlier wave (static corpus = wave -1) shares a bucket
    in >=1 of the sign-LSH hash tables and verifies at exact unit cosine
    >= 0.40. Uses the SAME _emb_sign_sigs family the streaming key
    persists (r13: portable integer-lattice signatures)."""
    from upflow_spark.io import load
    from upflow_spark.pipeline.similarity import _unit
    from upflow_spark.streaming.streams import EMB_LSH_TABLES, _emb_sign_sigs

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        _unit("embedding").alias("emb"),
        F.when(F.col("vec_id") % 10 != 0, F.lit(-1))
        .otherwise(((F.col("vec_id") % 40) / 10).cast("int"))
        .alias("wave"),
    )
    sigs = _emb_sign_sigs(e).drop("embedding")
    inc = sigs.filter(F.col("wave") >= 0).select(
        F.col("vec_id").alias("w_id"),
        F.col("wave").alias("w_wave"),
        F.col("emb").alias("w_emb"),
        *[F.col(f"b{t}").alias(f"wb{t}") for t in range(EMB_LSH_TABLES)],
    )
    any_table = None
    for t in range(EMB_LSH_TABLES):
        hit = F.col(f"wb{t}") == F.col(f"b{t}")
        any_table = hit if any_table is None else (any_table | hit)
    cand = inc.join(sigs, any_table & (F.col("wave") < F.col("w_wave")))
    cos = F.aggregate(
        F.zip_with("w_emb", "emb", lambda x, y: x * y),
        F.lit(0.0),
        lambda s, v: s + v,
    )
    dup = cand.filter(cos >= 0.40).select(
        F.col("w_id").alias("vec_id"), F.col("w_wave").alias("wave")
    ).distinct()
    allv = inc.select(F.col("w_id").alias("vec_id"), F.col("w_wave").alias("wave"))
    marked = allv.join(dup.withColumn("hit", F.lit(1)), ["vec_id", "wave"], "left")
    return (
        marked.groupBy("wave")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.count(F.when(F.col("hit").isNotNull(), 1)).alias("n_dup"),
            F.count(F.when(F.col("hit").isNull(), 1)).alias("n_new"),
            F.sum(F.when(F.col("hit").isNotNull(), F.col("vec_id")))
            .cast("long")
            .alias("dup_id_checksum"),
        )
        .orderBy("wave")
    )


def test_incremental_equals_batch(spark, sf_dir):
    got = QUERIES["stream_emb_index_ingest"](spark, sf_dir).toPandas()
    want = _batch_reference(spark, sf_dir).toPandas()
    assert len(got) == 4  # four ingest waves
    assert got["n_vectors"].sum() > 0
    assert (
        got[["wave", "n_vectors", "n_dup", "n_new", "dup_id_checksum"]]
        .fillna(-1)
        .values.tolist()
        == want[["wave", "n_vectors", "n_dup", "n_new", "dup_id_checksum"]]
        .fillna(-1)
        .values.tolist()
    )


def test_report_is_consistent(spark, sf_dir):
    got = QUERIES["stream_emb_index_ingest"](spark, sf_dir).toPandas()
    assert (got["n_dup"] + got["n_new"]).equals(got["n_vectors"])


def test_pq_index_append_incremental_equals_batch(spark):
    """stream_pq_index_append invariant (r11): the codes accumulated in the
    persisted per-wave index must be BYTE-IDENTICAL to a single batch
    encode of the same vectors against the same static-corpus codebooks —
    wave-by-wave appends change materialization order, nothing else. Also
    recomputes every report column (counts, ADC-vs-exact overlap@5 on the
    fixed probe, centroid shift in sampling std errors) independently."""
    import numpy as np

    from upflow_spark.io import load
    from upflow_spark import memo
    from upflow_spark.pipeline.pca import _pq_encode_df, _pq_train_on
    from upflow_spark.streaming import streams as S

    sf = "/root/testdata/sf0.001"
    report = {
        r["wave"]: r for r in QUERIES["stream_pq_index_append"](spark, sf).collect()
    }
    assert sorted(report) == [0, 1, 2, 3]

    # read the persisted index back: per-wave codes
    idx = spark.read.parquet(
        os.path.join(memo._ROOT[1], "stream_pq_index_append", "pq_codes")
    )
    got = {
        (r["wave"], r["vec_id"]): list(r["codes"])
        for r in idx.filter(F.col("wave") >= 0).collect()
    }

    # batch twin: same static corpus, same trainer, one encode pass
    e = load(spark, sf, "embeddings")
    static = e.filter(F.col("vec_id") % 10 != 0).select("vec_id", "embedding")
    books = _pq_train_on(static)
    waves = e.filter(F.col("vec_id") % 10 == 0).select(
        "vec_id", "embedding", ((F.col("vec_id") % 40) / 10).cast("int").alias("wave")
    )
    batch = {
        (r["wave"], r["vec_id"]): list(r["codes"])
        for r in _pq_encode_df(
            spark, waves.select("vec_id", "embedding"), books
        )
        .join(waves.select("vec_id", "wave"), "vec_id")
        .collect()
    }
    assert got == batch  # incremental index ≡ batch encode, per vector

    # recompute report columns from raw data (driver-side reference)
    stat = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in static.collect()
    }
    probe = stat[min(stat)]
    sc = np.mean(list(stat.values()), axis=0)
    var_sum = float(np.var(list(stat.values()), axis=0).sum())
    wv = {
        r["vec_id"]: (r["wave"], np.array(r["embedding"], dtype=np.float64))
        for r in waves.collect()
    }
    n_sub, k, sub_d = books.shape
    lut = {
        (s, c): float(((probe[s * sub_d : (s + 1) * sub_d] - books[s, c]) ** 2).sum())
        for s in range(n_sub)
        for c in range(k)
    }
    for w in range(4):
        ids = [v for v in wv if wv[v][0] == w]
        assert report[w]["n_vectors"] == len(ids) == report[w]["n_codes"]
        adc = {
            v: round(sum(lut[(s, int(c))] for s, c in enumerate(got[(w, v)])), 4)
            for v in ids
        }
        top_adc = set(sorted(ids, key=lambda v: (adc[v], v))[:5])
        ex = {v: float(((wv[v][1] - probe) ** 2).sum()) for v in ids}
        top_ex = set(sorted(ids, key=lambda v: (ex[v], v))[:5])
        assert report[w]["adc_exact_overlap5"] == len(top_adc & top_ex)
        wc = np.mean([wv[v][1] for v in ids], axis=0)
        sig = float(np.linalg.norm(wc - sc)) / (var_sum / len(ids)) ** 0.5
        assert abs(report[w]["centroid_shift_sigmas"] - round(sig, 4)) <= 1e-4
        assert report[w]["drift_flag"] == (sig > S.DRIFT_SIGMA_MAX)
