"""Round-15 optimization tests: every r15 ceiling/gate keeps the
distributed path output-identical, and the fixture-scale partition
constants stay off the past-ceiling (100 TB) paths.
"""

from __future__ import annotations

import inspect

from tests.conftest import forced

SF = "/root/testdata/sf0.001"


def test_unigram_trainer_kernel_equals_distributed_loop(spark):
    """tokenize_unigram_train (r15): under TRAIN_LOCAL_MAX the whole
    seed + hard-EM loop runs as ONE bounded task; forcing the ceiling to 0
    routes through the original distributed collect loop — the FULL final
    vocabulary (not just the graded top-K) must match exactly."""
    from upflow_spark.registry import QUERIES

    want_top = sorted(
        map(tuple, QUERIES["tokenize_unigram_train"](spark, SF).collect())
    )
    want_vocab = sorted(
        map(tuple, QUERIES["tokenize_unigram_vocab_ids"](spark, SF).collect())
    )
    with forced("TRAIN_LOCAL_MAX"):
        got_top = sorted(
            map(tuple, QUERIES["tokenize_unigram_train"](spark, SF).collect())
        )
        got_vocab = sorted(
            map(
                tuple,
                QUERIES["tokenize_unigram_vocab_ids"](spark, SF).collect(),
            )
        )
    assert got_top == want_top
    assert got_vocab == want_vocab


def test_oov_monitor_kernel_equals_distributed_loop(spark):
    """stream_tokenizer_oov_monitor (r15): the bounded EM kernel's frozen
    (pretoken -> token count) map must reproduce the distributed loop's
    per-wave report exactly."""
    from upflow_spark.registry import QUERIES

    want = sorted(
        map(
            tuple,
            QUERIES["stream_tokenizer_oov_monitor"](spark, SF).collect(),
        )
    )
    with forced("TRAIN_LOCAL_MAX"):
        got = sorted(
            map(
                tuple,
                QUERIES["stream_tokenizer_oov_monitor"](spark, SF).collect(),
            )
        )
    assert got == want


def test_banded_pairs_identical_salted_or_not(spark):
    """_candidates_of_sig (r15): the shuffle-path salt is a physical-plan
    knob only — forcing the salt gate on (PAIR_SALT_MIN_DOCS = 0, i.e. the
    past-broadcast-scale G=16 explode) must leave the verified pair
    relation row-identical to the unsalted broadcast-scale plan."""
    from upflow_spark.pipeline import minhash_sql as M

    want = sorted(
        map(tuple, M.banded_verified_pairs(spark, SF).collect())
    )
    with forced("PAIR_SALT_MIN_DOCS"):
        got = sorted(
            map(tuple, M.banded_verified_pairs(spark, SF).collect())
        )
    assert got == want


def test_packed_corpus_fallback_equals_bounded_vocab(spark):
    """_packed_corpus (r15): past VOCAB_BROADCAST_MAX_TERMS the dense ids
    come from the distributed zipWithIndex + shuffle-join path instead of
    the bounded vocab collect — the GEMM scores are column-permutation
    invariant, so the graded pair relation must be identical."""
    from upflow_spark.registry import QUERIES

    def run():
        return sorted(
            map(tuple, QUERIES["dedup_containment"](spark, SF).collect())
        )

    want = run()
    with forced("VOCAB_BROADCAST_MAX_TERMS"):
        got = run()
    assert got == want


def test_coreness_partition_constants_parameterized():
    """VERDICT r14 item 5 (grep pin): no hardcoded repartition literal on
    the coreness edge copy, and the small-shuffle override is scoped to
    bcast mode (the past-ceiling fallback keeps the session's sizing)."""
    from upflow_spark.pipeline import cluster

    src = inspect.getsource(cluster)
    assert "repartition(8" not in src
    fn = inspect.getsource(cluster.graph_coreness)
    override = "small_shuffles("
    assert fn.count(override) == 1
    # the override must come AFTER the bcast-mode decision (scoped branch)
    assert (
        "bcast_mode = n_nodes <= ceilings.CORENESS_BCAST_NODES"
        in fn.split(override)[0]
    )
