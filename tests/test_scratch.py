"""Scratch directories have one owner, ``memo.scratch``: one root per
application under the temp dir, one live dir per name, the root removed at
exit. The leak check starts a fresh Python process with a private TMPDIR,
so it sees every dir the ops leave behind."""

from __future__ import annotations

import json
import os
import pathlib
import re
import subprocess
import sys

from tests.conftest import SF_DIR
from upflow_spark import memo

REPO = pathlib.Path(__file__).resolve().parent.parent
SF = os.path.join(os.path.dirname(SF_DIR), "sf0.001")

# every key that writes scratch -> the scratch names it requests
PORTED = {
    "sink_parquet_roundtrip": ["sink_parquet_roundtrip"],
    "sink_partitioned": ["sink_partitioned"],
    "join_dpp": ["join_dpp"],
    "scan_schema_evolution": ["scan_schema_evolution"],
    "sink_compaction": ["sink_compaction"],
    "sink_overwrite_dynamic_partition": ["sink_overwrite_dynamic_partition"],
    "catalog_analyze_stats": ["catalog_analyze_stats"],
    "sink_bucketed_join": ["bucketed_tables"],
    "source_csv_roundtrip": ["source_csv_roundtrip"],
    "source_json_roundtrip": ["source_json_roundtrip"],
    "source_xml_roundtrip": ["source_xml_roundtrip"],
    "source_text_lines": ["source_text_lines"],
    "source_binaryfile": ["source_binaryfile"],
    "source_json_corrupt_records": ["source_json_corrupt_records"],
    "source_orc_roundtrip": ["source_orc_roundtrip"],
    "sql_ddl_insert": ["sql_ddl_insert"],
    "scan_nested_struct_prune": ["nested_layout"],
    "scan_bloom_index_prune": ["scan_bloom_index_prune"],
    "scan_manifest_pruned": ["manifest_layout"],
    "scan_zorder_cluster": ["zorder_layout"],
    "sink_compaction_binpack": ["sink_compaction_binpack"],
    "scan_snapshot_asof": ["snapshot_layout"],
    "scan_delete_vectors_mor": ["snapshot_layout", "mor_deletes"],
    "sink_rewrite_purge_deletes": ["sink_rewrite_purge_deletes"],
    "scan_partition_evolution": ["partition_evolution_layout"],
    "scan_time_travel_rollback": ["rollback_manifest"],
    "scan_snapshot_multi_table": ["multisnap_layout"],
    "scan_snapshot_expire": ["scan_snapshot_expire"],
    "scan_snapshot_branch_merge": ["scan_snapshot_branch_merge"],
    "scan_agg_pushdown_stats": ["scan_agg_pushdown_stats"],
    "stream_tumbling": ["run_to_completion"],
    "stream_foreachbatch_sink": ["stream_foreachbatch_sink"],
    "stream_python_datasource": ["stream_python_datasource"],
    "stream_dedup_incremental": ["stream_dedup_incremental"],
    "stream_emb_index_ingest": ["stream_emb_index_ingest"],
    "stream_pq_index_append": ["stream_pq_index_append"],
    "stream_snapshot_cdc_apply": ["stream_snapshot_cdc_apply"],
    "stream_restart_exactly_once": ["stream_restart_exactly_once"],
    "stream_tokenizer_oov_monitor": ["stream_tokenizer_oov_monitor"],
}

# Runs every key of argv[2] twice in one session over argv[1], listing the
# application root's dir tree and hashing each key's rows after each round;
# then starts a second application, runs the first key in it and reports
# whether the first application's root is still there.
SCRIPT = r"""
import hashlib, json, os, sys, tempfile
from upflow_spark.registry import QUERIES
from upflow_spark.session import get_spark

sf, keys = sys.argv[1], sys.argv[2].split(",")
spark = get_spark("upflow-scratch-test")
root = os.path.join(tempfile.gettempdir(), "upflow_" + spark.sparkContext.applicationId)

def tree(top):
    return sorted(os.path.relpath(d, top) for d, _, _ in os.walk(top))

trees, rows = [], []
for _ in range(2):
    rows.append({k: hashlib.sha256(repr(sorted(map(str, QUERIES[k](spark, sf).collect())))
                                   .encode()).hexdigest() for k in keys})
    trees.append(tree(root))
names = sorted(os.listdir(root)) if os.path.isdir(root) else []
spark.stop()
spark = get_spark("upflow-scratch-test-2")
QUERIES[keys[0]](spark, sf).collect()
root2 = os.path.join(tempfile.gettempdir(), "upflow_" + spark.sparkContext.applicationId)
print(json.dumps({"root": root, "names": names, "trees": trees,
                  "changed": [k for k in keys if rows[0][k] != rows[1][k]],
                  "first_root_after_switch": os.path.exists(root), "root2": root2}))
spark.stop()
"""


def test_only_memo_makes_temp_paths():
    """Every scratch dir comes from ``memo.scratch`` (or a fixture replica
    from ``memo.fixture_dir``): a module that makes its own temp path is a
    dir nothing deletes."""
    pat = re.compile(r"\b(mkdtemp|mkstemp|gettempdir)\b")
    makers = sorted(
        (str(p.relative_to(REPO)), m)
        for p in (REPO / "upflow_spark").rglob("*.py")
        if p != REPO / "upflow_spark" / "memo.py"
        for m in pat.findall(p.read_text())
    )
    assert not makers, makers


def test_scratch_root_is_removed_only_by_its_process(tmp_path):
    """A forked child inherits the atexit hook; run with another pid, the
    hook must leave the root alone."""
    root = tmp_path / "root"
    root.mkdir()
    memo._drop_root(str(root), os.getpid() + 1)
    assert root.is_dir()
    memo._drop_root(str(root), os.getpid())
    assert not root.exists()


def test_ported_keys_leave_one_dir_per_name(tmp_path):
    """Each ported key twice in one session: the second round returns the
    same rows (a replaced dir must not serve stale files or a stale cached
    read), the application root holds one dir per scratch name and does
    not grow on the second round, no
    other dir is left in the temp dir but the fixture replicas, and the
    root is gone once the process has exited (3-4 min at sf0.001 on 4 vCPUs)."""
    env = dict(os.environ, TMPDIR=str(tmp_path), UPFLOW_DRIVER_MEM="2g")
    env["PYTHONPATH"] = os.pathsep.join(p for p in (str(REPO), env.get("PYTHONPATH")) if p)
    p = subprocess.run(
        [sys.executable, "-c", SCRIPT, SF, ",".join(PORTED)],
        env=env, cwd=str(tmp_path), capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    got = json.loads(p.stdout.strip().splitlines()[-1])
    assert got["names"] == sorted({n for names in PORTED.values() for n in names})
    assert got["trees"][0] == got["trees"][1]
    assert got["changed"] == []
    assert not got["first_root_after_switch"]
    assert not os.path.exists(got["root"]) and not os.path.exists(got["root2"])
    # what may stay: fixture replicas, named by the fixture's identity
    replica = re.compile(re.escape("_" + os.path.basename(SF)) + r"(_\d+_\d+)+$")
    left = sorted(
        n for n in os.listdir(tmp_path) if n.startswith("upflow_") and not replica.search(n)
    )
    assert not left, left
