"""Join-gather fallback equivalence for the packed-embedding index:
forcing the packed (vec_ids, matrix) operand past BROADCAST_MAX_BYTES
must route the three ANN-verify keys through the shuffle-gather path
(candidate-pair vectors attached by two equi-joins) and produce
BYTE-IDENTICAL results as the broadcast path — path selection is a memory
decision, never a semantics decision. The embedding twin of
tests/test_gemm_grid.py (r10; closes the r9 verdict's last driver-OOM
flag on upflow_spark/pipeline/similarity.py's full-matrix broadcast)."""

from __future__ import annotations

import re
from contextlib import nullcontext

import pandas as pd
import pytest

from tests.conftest import forced
from tests.harness import normalize
from upflow_spark.pipeline import dedup, similarity
from upflow_spark.pipeline.packed import NOT_CLOSED, Packed
from upflow_spark.registry import QUERIES

ANN_KEYS = ["sim_ann_lsh", "emb_dedup_ann_verified", "pipeline_semantic_funnel_ann"]


@pytest.fixture(scope="module")
def gather_vs_broadcast(spark, sf_dir):
    """Run each ANN key once per path, packed-matrix cache cleared around
    the ceiling flip (the cache key does not include the ceiling)."""
    results: dict[str, dict[str, pd.DataFrame]] = {}
    with forced("BROADCAST_MAX_BYTES"):  # every pack onto joins
        for key in ANN_KEYS:
            results.setdefault(key, {})["gather"] = normalize(
                QUERIES[key](spark, sf_dir).toPandas()
            )
    for key in ANN_KEYS:
        results[key]["broadcast"] = normalize(QUERIES[key](spark, sf_dir).toPandas())
    return results


@pytest.mark.parametrize("key", ANN_KEYS)
def test_gather_path_matches_broadcast(gather_vs_broadcast, key):
    got = gather_vs_broadcast[key]
    assert len(got["gather"]) > 0, f"{key}: gather path returned no rows (vacuous)"
    pd.testing.assert_frame_equal(got["gather"], got["broadcast"])


def test_gather_path_was_actually_selected(spark, sf_dir):
    """With the ceiling forced low the pack must return the checkpointed
    block relation the gather joins read, not a broadcast — guards against
    a refactor quietly routing everything to the broadcast path and
    vacuously passing the equality test above."""
    from pyspark.sql import functions as F

    from upflow_spark.io import load
    from upflow_spark.pipeline.similarity import _dbl

    with forced("BROADCAST_MAX_BYTES"):
        e = load(spark, sf_dir, "embeddings").select(
            "vec_id", _dbl("embedding").alias("emb")
        )
        op = similarity.packed_embeddings(spark, e)
    assert isinstance(op, Packed) and op.bc is None and op.blocks is not None


def test_gather_raises_on_non_closed_candidates(spark, sf_dir):
    """The broadcast kernels raise when a candidate id is absent from the
    pack (silent wrong-row gathers are the failure mode); the join path
    must keep that contract — LEFT join + null check, not an inner join
    that would silently drop the pair."""
    from pyspark.sql import functions as F

    from upflow_spark.io import load
    from upflow_spark.pipeline.packed import gather_pair_vectors
    from upflow_spark.pipeline.similarity import _dbl

    e = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", _dbl("embedding").alias("emb"))
        .limit(50)
    )
    cand = spark.createDataFrame(
        [(1, 999_999_999)], "vec_a long, vec_b long"
    )  # vec_b absent
    j = gather_pair_vectors(cand, e)
    row = j.collect()[0]
    assert row["emb_b"] is None  # the null the kernel turns into the error


@pytest.mark.parametrize("path", ["broadcast", "gather"])
@pytest.mark.parametrize("consumer", ["ann_lsh_pairs", "ann_scored_pairs"])
def test_non_closed_candidate_raises(spark, sf_dir, monkeypatch, consumer, path):
    """Both verify consumers, on both sides of the ceiling, raise the
    id-closure error for a candidate whose id is absent from the pack —
    never a silent wrong-row gather or a dropped pair."""
    fn = {
        "ann_lsh_pairs": similarity.ann_lsh_pairs,
        "ann_scored_pairs": dedup.ann_scored_pairs,
    }[consumer]
    cand = spark.createDataFrame(
        [(1, 999_999_999)], "vec_a long, vec_b long"
    )  # vec_b absent
    monkeypatch.setattr(similarity, "lsh_candidates", lambda spark, sf_dir: cand)
    ceiling = forced("BROADCAST_MAX_BYTES") if path == "gather" else nullcontext()
    with ceiling, pytest.raises(Exception, match=re.escape(NOT_CLOSED)):
        fn(spark, sf_dir).collect()


def test_ivf_pq_recall_vs_exact_ivf(spark, sf_dir):
    """ADC over PQ codes approximates the exact in-cell ranking: on unit
    vectors L2-to-reconstruction is monotone in cosine up to quantization
    error, so the PQ top-10 must substantially overlap sim_ann_ivf's exact
    top-10 over the same probed cells."""
    exact = {r["vec_id"] for r in QUERIES["sim_ann_ivf"](spark, sf_dir).collect()}
    pq = {r["vec_id"] for r in QUERIES["sim_ann_ivf_pq"](spark, sf_dir).collect()}
    assert len(pq) == 10
    assert len(exact & pq) >= 5, f"recall too low: {len(exact & pq)}/10"
