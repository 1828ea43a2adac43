"""The session memo: one store for every artifact derived from a fixture.

Several ops build the same expensive artifact from one fixture table: a
resolved scan, a checkpointed edge list, a trained tokenizer, a packed
matrix, an on-disk layout. Production pipelines persist such an artifact
once and run every consumer against it; :func:`memo` is that persistence
within a session.

An entry's key is (applicationId, sf_dir, fixture identity). The identity
is the (mtime_ns, size) of each source table file (:func:`fixture_id`), so
a fixture rewritten in place invalidates every artifact built from it. The
store keeps ONE live entry per name: a new key for a name evicts the old
entry, and any entry of another application is evicted too. Eviction
releases every DataFrame and Broadcast in the evicted value, so a
long-lived driver sweeping many fixtures holds one generation of each
artifact, not one per fixture.

A fixture whose identity cannot be read (a ``file://`` URI, a
directory-style parquet) builds uncached; its on-disk artifacts go to a
fresh directory removed at exit (:func:`fixture_dir`).

Scratch directories follow the same rule (:func:`scratch`): one live
directory per name under one root per application, replaced when the name
is requested again and removed with the root.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable
from typing import TypeVar

from py4j.protocol import Py4JError
from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

# name -> ((applicationId, sf_dir, fixture identity), value)
_STORE: dict[str, tuple[tuple, object]] = {}

# (applicationId, scratch root, pid of the process that made the root)
_ROOT: tuple[str, str, int] | None = None


def path_of(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def fixture_id(sf_dir: str, table: str | tuple[str, ...]) -> tuple | None:
    """(mtime_ns, size) of each named table's file, or None when any of
    them cannot be stat'ed (URI paths, directory-style parquet)."""
    tables = (table,) if isinstance(table, str) else table
    try:
        stats = [os.stat(path_of(sf_dir, t)) for t in tables]
    except OSError:
        return None
    return tuple((st.st_mtime_ns, st.st_size) for st in stats)


def fixture_dir(sf_dir: str, table: str | tuple[str, ...], prefix: str) -> str:
    """Scratch directory for an on-disk artifact derived from a fixture:
    ``<tmp>/<prefix>_<sf basename>_<identity>``, so a rewritten fixture
    gets a new directory and a rebuilt one finds its old artifact. The
    directory is not created. When the identity is unknown, a fresh
    (created) directory, removed at exit."""
    ident = fixture_id(sf_dir, table)
    if ident is None:
        path = tempfile.mkdtemp(prefix=prefix + "_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        return path
    tag = "_".join(f"{mtime}_{size}" for mtime, size in ident)
    base = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(tempfile.gettempdir(), f"{prefix}_{base}_{tag}")


def scratch(spark: SparkSession, name: str) -> str:
    """An existing, empty directory ``<tmp>/upflow_<applicationId>/<name>``.

    Each name has one live directory: requesting a name again deletes the
    previous directory first. A DataFrame an op returns over its directory
    therefore reads it only until the same name is requested again; a call
    inside a memo builder runs only on a miss, so the directory is replaced
    exactly when its memo entry is rebuilt. The root is removed at exit by
    the process that made it, and when another application of the same
    process asks for scratch (the memo's eviction rule)."""
    global _ROOT
    app = spark.sparkContext.applicationId
    if _ROOT is None or _ROOT[0] != app:
        if _ROOT is not None:
            _drop_root(*_ROOT[1:])
        _ROOT = (app, os.path.join(tempfile.gettempdir(), f"upflow_{app}"), os.getpid())
        atexit.register(_drop_root, *_ROOT[1:])
    path = os.path.join(_ROOT[1], name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _drop_root(root: str, pid: int) -> None:
    """Remove a scratch root, but only in the process that made it: a
    forked child inherits the parent's atexit hooks."""
    if os.getpid() == pid:
        shutil.rmtree(root, ignore_errors=True)


def memo(
    spark: SparkSession,
    sf_dir: str,
    table: str | tuple[str, ...],
    name: str,
    build: Callable[[], T],
) -> T:
    """``build()``'s value, built once per (application, sf_dir, identity
    of ``table``) and shared under ``name`` until that key changes."""
    ident = fixture_id(sf_dir, table)
    if ident is None:
        return build()
    app = spark.sparkContext.applicationId
    key = (app, sf_dir, ident)
    entry = _STORE.get(name)
    if entry is not None and entry[0] == key:
        return entry[1]  # type: ignore[return-value]
    for stale in [n for n, (k, _) in _STORE.items() if n == name or k[0] != app]:
        _release(_STORE.pop(stale)[1])
    value = build()
    _STORE[name] = (key, value)
    return value


def clear() -> None:
    """Evict every entry (tests that flip a ceiling force a rebuild)."""
    while _STORE:
        _release(_STORE.popitem()[1][1])


def _release(value: object) -> None:
    """Free the cached blocks of every DataFrame and Broadcast in value."""
    if isinstance(value, (tuple, list)):
        for v in value:
            _release(v)
        return
    try:
        if isinstance(value, Broadcast):
            value.unpersist()
        elif isinstance(value, DataFrame):
            if value.is_cached:
                value.unpersist()
            # a localCheckpoint's blocks belong to the RDD under its
            # LogicalRDD leaf; DataFrame.unpersist() leaves them in place
            plan = value._jdf.queryExecution().analyzed()
            if plan.getClass().getSimpleName() == "LogicalRDD":
                plan.rdd().unpersist(False)
    except Py4JError:
        pass  # another application's handle: its context is stopped
