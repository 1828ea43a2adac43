"""SparkSession factory + defensive per-session config.

The driver may hand us a SparkSession it built itself, so every loader calls
:func:`ensure_conf` to apply the runtime-settable SQL configs this engine
depends on (verified runtime-settable on PySpark 4.1.2):

- ``spark.sql.legacy.parquet.nanosAsLong=true`` — ``events.parquet`` stores
  ``ts`` as parquet ``INT64 TIMESTAMP(NANOS)``, which Spark 4.x otherwise
  rejects with ``[PARQUET_TYPE_ILLEGAL]``. With the flag, ``ts`` arrives as
  LongType nanoseconds and is normalized in :mod:`upflow_spark.io`.
- ``spark.sql.session.timeZone=UTC`` — keeps tz-aware expressions (window(),
  date_trunc on instant timestamps) aligned with DuckDB's naive timestamps.

Scale note (100 TB): AQE is left ON (default in 4.x) for skew-join splitting
and post-shuffle coalescing; shuffle partitions are sized via env so the same
code runs on a laptop's local[*] and 1000-executor clusters unchanged. Work
whose every shuffle is bounded by a small relation sizes its own shuffles
with :func:`small_shuffles`.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
}


def ensure_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs; safe to call repeatedly."""
    for k, v in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            # non-settable on this session build; reads will surface the issue
            pass
    return spark


@contextmanager
def small_shuffles(spark: SparkSession, n: int = 8) -> Iterator[None]:
    """Run the block with `n` shuffle partitions, then restore the session's.

    For work whose every shuffle is bounded by a small relation: a CC or
    graph fixpoint over a near-dup pair graph, a stream wave of a few
    hundred rows, a Heaps-bounded tokenizer state. Its rounds would
    otherwise pay the session's corpus-scale partition count in per-task
    overhead, once per round. Production jobs size such shuffles per query,
    not per session, the same way. A streaming query reads the count once
    at start and pins it into its checkpoint as the state-store partition
    count.
    """
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def _default_driver_mem() -> str:
    """Half of physical memory, capped at 24g."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(ram_mb // 2, 24 << 10)}m"


def get_spark(app_name: str = "upflow-spark") -> SparkSession:
    """Local session factory for tests/bench (the driver brings its own)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle = os.environ.get("UPFLOW_SHUFFLE_PARTITIONS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle)
        # 24g on a 128 GiB host (r14): an 8g heap left ~4g of storage
        # memory, and the 10x scale probe's checkpointed edge relations
        # (486 MiB/partition) thrashed in and out of the cache — evicted
        # localCheckpoint blocks recompute their whole lineage, turning
        # iterative keys' sf1 probes into recompute storms. Half of RAM
        # keeps a smaller host from overcommitting. On a real cluster
        # this is per-executor storage sizing, not driver heap.
        .config(
            "spark.driver.memory",
            os.environ.get("UPFLOW_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return ensure_conf(builder.getOrCreate())
