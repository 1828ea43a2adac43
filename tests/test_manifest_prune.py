"""Relational manifest pruning (r10): the prune path must (a) reach the
partitioned scan as a dynamic-partition-pruning runtime filter derived
from the manifest RELATION, and (b) never call DataFrame.collect — the
prune must scale with manifest size, not driver memory (the vocabulary
patch-collect guard, applied to sources/manifest.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import DataFrame

from upflow_spark.sources.manifest import (
    _manifest_pruned_read,
    _orders_manifest_layout,
    _zorder_layout,
    _zorder_pruned_read,
)


@pytest.fixture(scope="module")
def orders_layout(spark, sf_dir):
    return _orders_manifest_layout(spark, sf_dir)


@pytest.fixture(scope="module")
def zorder_layout(spark, sf_dir):
    return _zorder_layout(spark, sf_dir)


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_manifest_prune_is_dpp(spark, orders_layout):
    base, man_path, hi = orders_layout
    plan = _physical(_manifest_pruned_read(spark, base, man_path, hi))
    assert "dynamicpruningexpression" in plan, (
        "manifest selection must reach the orders scan as a runtime "
        "PartitionFilter (dynamic partition pruning), got:\n" + plan
    )


def test_zorder_prune_is_dpp(spark, zorder_layout):
    base, man_path, hip, his = zorder_layout
    plan = _physical(_zorder_pruned_read(spark, base, man_path, hip, his))
    assert "dynamicpruningexpression" in plan


def test_prune_path_never_collects(spark, orders_layout, zorder_layout, monkeypatch):
    """Build AND execute both pruned reads with DataFrame.collect patched
    to raise — the prune path holds no driver-side id list anywhere."""

    def _no_collect(self):
        raise AssertionError("prune path called DataFrame.collect()")

    monkeypatch.setattr(DataFrame, "collect", _no_collect)
    base, man_path, hi = orders_layout
    got = _manifest_pruned_read(spark, base, man_path, hi).toPandas()
    assert int(got["n_rows"][0]) > 0
    assert int(got["n_buckets_scanned"][0]) < int(got["n_buckets_total"][0])
    zbase, zman, hip, his = zorder_layout
    gz = _zorder_pruned_read(spark, zbase, zman, hip, his).toPandas()
    assert int(gz["n_rows"][0]) > 0
    assert int(gz["n_files_scanned"][0]) < int(gz["n_files_total"][0])


def test_compaction_plan_is_one_scan_one_exchange(spark, sf_dir):
    """The bin-pack rewrite must be scan → round-robin exchange → write:
    no aggregate, no sort, no second scan. Stats + file counts are pinned
    by the DuckDB oracle; this pins the job shape."""
    import re

    from upflow_spark import memo
    from upflow_spark.registry import QUERIES

    got = QUERIES["sink_compaction_binpack"](spark, sf_dir).toPandas()
    assert int(got["n_rows_before"][0]) == int(got["n_rows_after"][0])
    assert int(got["n_files_after"][0]) < int(got["n_files_before"][0])
    frag_dir = os.path.join(memo._ROOT[1], "sink_compaction_binpack", "fragmented")
    job = spark.read.parquet(frag_dir).repartition(3)
    plan = job._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Scan parquet", plan)) == 1
    assert len(re.findall(r"Exchange RoundRobinPartitioning", plan)) == 1
    assert "Sort" not in plan and "Aggregate" not in plan
