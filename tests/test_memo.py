"""The session memo (upflow_spark/memo.py): artifacts follow the fixture's
identity, unknown identities run uncached, evictions free their blocks,
and both sides of the vocab ceiling map NULL terms identically."""

from __future__ import annotations

import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from tests.conftest import forced
from upflow_spark import memo
from upflow_spark.registry import QUERIES

SF = "/root/testdata/sf0.001"


def _rows(df) -> list:
    return sorted(map(tuple, df.collect()))


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _keep_even_ids(path: str, id_col: str) -> None:
    t = pq.read_table(path)
    pq.write_table(t.filter(pc.equal(pc.bit_wise_and(t[id_col], 1), 0)), path)


@pytest.fixture()
def sf_copy(tmp_path):
    dst = tmp_path / "sf"
    shutil.copytree(SF, dst)
    return str(dst)


@pytest.mark.parametrize(
    "key,table,id_col",
    [
        ("dedup_cluster_cc", "documents", "doc_id"),
        ("sink_bucketed_join", "lineitem", "l_orderkey"),
    ],
)
def test_fixture_rewritten_in_place_invalidates_memo(spark, sf_copy, key, table, id_col):
    before = _rows(QUERIES[key](spark, sf_copy))
    _keep_even_ids(f"{sf_copy}/{table}.parquet", id_col)
    after = _rows(QUERIES[key](spark, sf_copy))
    memo.clear()
    fresh = _rows(QUERIES[key](spark, sf_copy))
    assert fresh != before, "the rewrite must change the result (vacuous test)"
    assert after == fresh


@pytest.mark.parametrize("key", ["dedup_staged", "scan_nested_struct_prune"])
def test_uri_sf_dir_runs_uncached_and_matches_plain_path(spark, key):
    uri = "file://" + SF
    assert memo.fixture_id(uri, "orders") is None
    got = _rows(QUERIES[key](spark, uri))
    assert got == _rows(QUERIES[key](spark, SF))
    assert all(k[1] != uri for k, _ in memo._STORE.values())


def test_evicted_checkpoint_frees_its_blocks(spark, sf_copy):
    """A new fixture identity evicts the old survivor checkpoint, and the
    eviction unpersists it: one live survivor table, not two."""
    from upflow_spark.pipeline.minhash_sql import _exact_survivors

    memo.clear()
    base = _persistent_rdds(spark)
    _exact_survivors(spark, SF)
    assert _persistent_rdds(spark) == base + 1
    _exact_survivors(spark, sf_copy)
    assert _persistent_rdds(spark) == base + 1
    memo.clear()
    assert _persistent_rdds(spark) == base


def test_packed_corpus_null_terms_identical_across_vocab_ceiling(spark):
    """A NULL terms array and a NULL element map to the same term ids
    under the bounded-vocab kernel and the distributed join path."""
    from upflow_spark.pipeline import dedup as D

    docs = spark.createDataFrame(
        [(1, ["a", "b"]), (2, None), (3, ["b", None, "c"]), (4, [])],
        "doc_id long, terms array<string>",
    )

    def terms_by_doc() -> dict:
        docs_ids, vocab_ids, _ = D._packed_corpus(spark, docs)
        term = {r["tid"]: r["t"] for r in vocab_ids.collect()}
        return {
            r["doc_id"]: sorted(term[i] for i in r["term_ids"])
            for r in docs_ids.collect()
        }

    want = terms_by_doc()
    with forced("VOCAB_BROADCAST_MAX_TERMS"):
        got = terms_by_doc()
    assert want == {1: ["a", "b"], 2: [], 3: ["b", "c"], 4: []}
    assert got == want
