"""Round-14 behavioral tests: retrieval-quality eval invariants.

The oracle hash-checks eval_retrieval_ndcg's exact values; these tests pin
the SEMANTIC claims the key makes — fusion should not degrade retrieval
quality against the dense ground truth on the fixture (the dense arm IS
the truth, so folding it into RRF must lift the lexical-only arm), and the
metrics must sit in their defined ranges.
"""

from __future__ import annotations

import pytest

from tests.conftest import forced

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ndcg_rows(spark):
    from upflow_spark.registry import QUERIES

    rows = QUERIES["eval_retrieval_ndcg"](spark, SF).collect()
    return {r["arm"]: r for r in rows}


def test_ndcg_reports_both_arms(ndcg_rows):
    assert set(ndcg_rows) == {"bm25", "rrf"}


def test_fused_arm_at_least_as_good_as_lexical(ndcg_rows):
    """RRF folds the ground-truth dense ranking into the lexical arm, so
    every graded metric must be >= the BM25-only arm on the fixture."""
    bm, rrf = ndcg_rows["bm25"], ndcg_rows["rrf"]
    assert rrf["ndcg10"] >= bm["ndcg10"]
    assert rrf["mrr"] >= bm["mrr"]
    assert rrf["n_hits"] >= bm["n_hits"]


def test_metric_ranges(ndcg_rows):
    for r in ndcg_rows.values():
        assert 0.0 <= r["ndcg10"] <= 1.0
        assert 0.0 <= r["mrr"] <= 1.0
        assert 0 <= r["n_hits"] <= 10


def test_rrf_first_hit_is_rank_one(ndcg_rows):
    """The fused list's top result comes from the dense arm's rank 1 (the
    truth's highest-gain doc) on the fixture: MRR must be exactly 1.0."""
    assert ndcg_rows["rrf"]["mrr"] == 1.0


def test_weighted_verify_fallback_equals_broadcast(spark):
    """dedup_minhash_weighted (r14): the distributed intersection-join
    fallback (past the WVER_BCAST_DOCS broadcast ceiling) must produce the
    EXACT report the capped-broadcast map-side verify produces — forcing
    the cap to 0 routes every doc through the fallback."""
    from upflow_spark.registry import QUERIES

    want = sorted(
        map(tuple, QUERIES["dedup_minhash_weighted"](spark, SF).collect())
    )
    with forced("WVER_BCAST_DOCS"):
        got = sorted(
            map(tuple, QUERIES["dedup_minhash_weighted"](spark, SF).collect())
        )
    assert got == want


def test_cosine_grid_fallback_equals_broadcast(spark):
    """dedup_embedding_cosine (r14): past BROADCAST_MAX_BYTES the
    cosine kernel runs over the block-row grid instead of a broadcast B
    operand — forcing the ceiling to 0 must leave the pair relation
    byte-identical (same dim-sequential float64 accumulation per cell)."""
    from upflow_spark.registry import QUERIES

    want = sorted(
        map(tuple, QUERIES["dedup_embedding_cosine"](spark, SF).collect())
    )
    with forced("BROADCAST_MAX_BYTES"):
        got = sorted(
            map(tuple, QUERIES["dedup_embedding_cosine"](spark, SF).collect())
        )
    assert got == want and len(got) == 66


def test_cc_star_fallback_equals_local_kernel(spark):
    """_cc_star_fixpoint (r14): past CC_LOCAL_MAX_EDGES the distributed
    star alternation must produce the EXACT label relation the bounded
    single-task kernel produces — forcing the ceiling to 0 routes the
    fixpoint through the star loop."""
    from upflow_spark.registry import QUERIES

    want = sorted(map(tuple, QUERIES["dedup_semantic_cc"](spark, SF).collect()))
    with forced("CC_LOCAL_MAX_EDGES"):
        got = sorted(
            map(tuple, QUERIES["dedup_semantic_cc"](spark, SF).collect())
        )
    assert got == want


def test_bpe_train_fallback_equals_local_kernel(spark):
    """tokenize_bpe_train (r14): past TRAIN_LOCAL_MAX the distributed
    round loop must learn the EXACT merge table the bounded single-task
    kernel learns — forcing the ceiling to 0 routes training through the
    distributed rounds (the oracle separately pins the dynamics)."""
    from upflow_spark.registry import QUERIES

    want = sorted(map(tuple, QUERIES["tokenize_bpe_train"](spark, SF).collect()))
    with forced("TRAIN_LOCAL_MAX"):
        got = sorted(
            map(tuple, QUERIES["tokenize_bpe_train"](spark, SF).collect())
        )
    assert got == want and len(got) == 16


def test_coreness_fallback_equals_broadcast(spark):
    """graph_coreness (r14): the distributed shuffle rounds (past the
    CORENESS_BCAST_NODES label-broadcast ceiling) must produce the EXACT
    coreness relation the broadcast-mode rounds produce — forcing the cap
    to 0 routes every round through the fallback."""
    from upflow_spark.registry import QUERIES

    want = sorted(map(tuple, QUERIES["graph_coreness"](spark, SF).collect()))
    with forced("CORENESS_BCAST_NODES"):
        got = sorted(
            map(tuple, QUERIES["graph_coreness"](spark, SF).collect())
        )
    assert got == want
