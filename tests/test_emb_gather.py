"""Join-gather fallback equivalence for the packed-embedding index:
forcing the packed (vec_ids, matrix) operand past BROADCAST_MAX_BYTES
must route the three ANN-verify keys through the shuffle-gather path
(candidate-pair vectors attached by two equi-joins) and produce
BYTE-IDENTICAL results as the broadcast path — path selection is a memory
decision, never a semantics decision. The embedding twin of
tests/test_gemm_grid.py (r10; closes the r9 verdict's last driver-OOM
flag on upflow_spark/pipeline/similarity.py's full-matrix broadcast)."""

from __future__ import annotations

import pandas as pd
import pytest

from tests.conftest import forced
from tests.harness import normalize
from upflow_spark.pipeline import similarity
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
    """With the ceiling forced low the pack must return the join marker,
    not a broadcast — guards against a refactor quietly routing everything
    to the broadcast path and vacuously passing the equality test above."""
    from pyspark.sql import functions as F

    from upflow_spark.io import load
    from upflow_spark.pipeline.similarity import _dbl

    with forced("BROADCAST_MAX_BYTES"):
        e = load(spark, sf_dir, "embeddings").select(
            "vec_id", _dbl("embedding").alias("emb")
        )
        bc = similarity.packed_embeddings(spark, e)
    assert isinstance(bc, tuple) and bc[0] == "join"


def test_gather_raises_on_non_closed_candidates(spark, sf_dir):
    """The broadcast kernels raise when a candidate id is absent from the
    pack (silent wrong-row gathers are the failure mode); the join path
    must keep that contract — LEFT join + null check, not an inner join
    that would silently drop the pair."""
    from pyspark.sql import functions as F

    from upflow_spark.io import load
    from upflow_spark.pipeline.similarity import _dbl, gather_pair_vectors

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


def test_ivf_pq_recall_vs_exact_ivf(spark, sf_dir):
    """ADC over PQ codes approximates the exact in-cell ranking: on unit
    vectors L2-to-reconstruction is monotone in cosine up to quantization
    error, so the PQ top-10 must substantially overlap sim_ann_ivf's exact
    top-10 over the same probed cells."""
    exact = {r["vec_id"] for r in QUERIES["sim_ann_ivf"](spark, sf_dir).collect()}
    pq = {r["vec_id"] for r in QUERIES["sim_ann_ivf_pq"](spark, sf_dir).collect()}
    assert len(pq) == 10
    assert len(exact & pq) >= 5, f"recall too low: {len(exact & pq)}/10"
