"""Forced-every-fallback sweep: every key registered in a module that
reaches a size ceiling runs against its DuckDB oracle with EVERY ceiling of
upflow_spark.ceilings forced onto its distributed path at once. The
default-ceiling run of the same keys is tests/test_oracle.py.

The sweep takes ~5 min on 4 vCPUs, so it runs only when selected:

    python -m pytest tests/test_fallbacks.py -m forced_sweep -q
"""

from __future__ import annotations

import ast
import os
import sys

import pytest

from tests.conftest import SF_DIR, forced
from tests.harness import duckdb_connect, run_key
from upflow_spark import ceilings
from upflow_spark.registry import QUERIES, load_all_modules

SF = os.path.join(os.path.dirname(SF_DIR), "sf0.001")

# modules whose keys reach a ceiling, directly or through another module
CEILING_MODULES = {
    "ann_ivf",
    "billing",
    "bpe",
    "cluster",
    "curation",
    "dedup",
    "graph",
    "minhash_sql",
    "retrieval",
    "similarity",
    "streams",
    "unigram",
}
KEYS = sorted(
    k for k, fn in QUERIES.items() if fn.__module__.rsplit(".", 1)[1] in CEILING_MODULES
)


@pytest.fixture(scope="module")
def con_forced():
    c = duckdb_connect(SF)
    with forced():
        yield c
    c.close()


def test_sweep_covers_every_ceiling_module():
    assert {QUERIES[k].__module__.rsplit(".", 1)[1] for k in KEYS} == CEILING_MODULES


def test_one_function_reads_the_broadcast_byte_ceiling():
    """Every packed pair-kernel operand goes through one gate, so both
    sides of BROADCAST_MAX_BYTES run the same kernel math: exactly one
    function in upflow_spark/ reads the ceiling (by attribute or getattr)."""
    root = os.path.dirname(os.path.abspath(ceilings.__file__))
    readers = set()
    for dirpath, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".py") or f == "ceilings.py":
                continue
            path = os.path.join(dirpath, f)
            tree = ast.parse(open(path).read())
            parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Attribute) and node.attr == "BROADCAST_MAX_BYTES"
                ) or (isinstance(node, ast.Constant) and node.value == "BROADCAST_MAX_BYTES"):
                    fn = node
                    while fn in parent and not isinstance(fn, ast.FunctionDef):
                        fn = parent[fn]
                    name = fn.name if isinstance(fn, ast.FunctionDef) else "<module>"
                    readers.add((os.path.relpath(path, root), name))
    assert readers == {("pipeline/packed.py", "pack")}, readers


# No key diverges today. A divergence found later is fixed, or listed
# here as a strict xfail with its reason — never skipped.
@pytest.mark.forced_sweep
@pytest.mark.parametrize("key", KEYS)
def test_forced_fallback_matches_oracle(spark, con_forced, key):
    run_key(spark, con_forced, key, SF)


def test_only_ceilings_binds_a_ceiling_name():
    """A module-level copy of a ceiling (``from ... import X``) would make
    forcing that ceiling a silent no-op in its module."""
    load_all_modules()
    names = {n for n in vars(ceilings) if n.isupper()}
    assert len(names) == 7
    binders = sorted(
        (m, n)
        for m, mod in list(sys.modules.items())
        if m.startswith("upflow_spark") and m != "upflow_spark.ceilings"
        for n in names
        if hasattr(mod, n)
    )
    assert not binders, binders
