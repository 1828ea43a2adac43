from __future__ import annotations

import os
import sys
from collections.abc import Iterator
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("UPFLOW_TEST_SF_DIR", "/root/testdata/sf0.01")
SWEEP = "forced_sweep"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        f"{SWEEP}: the forced-every-fallback oracle sweep (~5 min); it runs"
        f" only when selected, with -m {SWEEP}",
    )


def pytest_collection_modifyitems(config, items):
    if SWEEP in config.getoption("markexpr"):
        return
    sweep = [i for i in items if SWEEP in i.keywords]
    if sweep:
        config.hook.pytest_deselected(items=sweep)
        items[:] = [i for i in items if SWEEP not in i.keywords]


@contextmanager
def forced(*names: str) -> Iterator[None]:
    """Force the named ceilings of upflow_spark.ceilings (every one when
    none is named) onto their distributed paths by setting each to 0:
    nothing fits under a ceiling of 0, and everything is past a floor of 0.
    The session memo is cleared before and after, so no artifact built on
    one side of a ceiling serves the other; the values are restored."""
    from upflow_spark import ceilings, memo

    names = names or tuple(n for n in vars(ceilings) if n.isupper())
    saved = {n: getattr(ceilings, n) for n in names}
    memo.clear()
    try:
        for n in names:
            setattr(ceilings, n, 0)
        yield
    finally:
        for n, v in saved.items():
            setattr(ceilings, n, v)
        memo.clear()


@pytest.fixture(scope="session")
def spark():
    from upflow_spark.session import get_spark

    s = get_spark("upflow-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def con(sf_dir):
    from tests.harness import duckdb_connect

    c = duckdb_connect(sf_dir)
    yield c
    c.close()
