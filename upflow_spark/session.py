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

The local factory :func:`get_spark` also sets the driver JVM's flags: one C2
compiler thread and a class-data archive (see :func:`_class_archive`). Both
change only how fast the JVM starts and compiles, never what a query returns.

Scale note (100 TB): AQE is left ON (default in 4.x) for skew-join splitting
and post-shuffle coalescing; shuffle partitions are sized via env so the same
code runs on a laptop's local[*] and 1000-executor clusters unchanged. Work
whose every shuffle is bounded by a small relation sizes its own shuffles
with :func:`small_shuffles`.
"""

from __future__ import annotations

import atexit
import fcntl
import hashlib
import os
import shutil
import subprocess
from collections.abc import Iterator
from contextlib import contextmanager, suppress
from typing import IO

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
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


# One C2 compiler thread, not the two a 4-core JVM starts: at local scale
# about half of a pass's CPU went to C2 threads compiling code that a short
# job never runs long enough to repay. Every method still reaches C2 at the
# default thresholds, only later in a busy start. C1-only and raised C2
# thresholds cut more CPU, but made the iterative sf0.1 keys slower. JVM
# log warnings (a class-data archive the JVM declines, say) go to stderr,
# so a tool that prints one result line on stdout keeps its contract.
JVM_OPTIONS = "-XX:CICompilerCount=2 -Xlog:disable -Xlog:all=warning:stderr"

# Per-user, outside any checkout: every checkout on a box shares one archive.
CDS_DIR = os.path.join(os.path.expanduser("~"), ".cache", "upflow-spark", "cds")
# Bounds each step of the dump at exit: the first session's exit takes ~40 s.
CDS_EXIT_TIMEOUT_S = 60


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
    archive = _class_archive()
    # the default options, not the extra ones: --driver-java-options fills
    # spark.driver.extraJavaOptions, and the JVM gets both
    options = f"{JVM_OPTIONS} {archive[1]}" if archive else JVM_OPTIONS
    builder = builder.config("spark.driver.defaultJavaOptions", options)
    if archive is None:
        return ensure_conf(builder.getOrCreate())
    conf_dir, _, dump = archive
    before = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir  # read once, as the JVM starts
    try:
        spark = builder.getOrCreate()
    finally:
        if before is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = before
    if dump is not None:
        jvm = spark.sparkContext._jvm
        java = os.path.join(jvm.System.getProperty("java.home"), "bin", "java")
        class_path = jvm.System.getProperty("java.class.path")
        proc = SparkContext._gateway.proc
        atexit.register(_promote_at_exit, *dump, proc, java, class_path, os.getpid())
    return ensure_conf(spark)


def _empty_conf_dir() -> str | None:
    """An empty dir to stand in for Spark's conf dir, or None.

    JDK 17 dumps no archive while a non-empty dir is on the classpath, and
    the conf dir is on the driver's. The stand-in changes no setting only
    when no conf dir is set and the default one holds nothing but templates.
    """
    if "SPARK_CONF_DIR" in os.environ:
        return None
    conf = os.path.join(_find_spark_home(), "conf")
    if not all(f.endswith(".template") for f in os.listdir(conf)):
        return None
    empty = os.path.join(CDS_DIR, "conf")
    os.makedirs(empty, exist_ok=True)
    return empty


def _digest(conf_dir: str) -> str:
    """Names the JDK and the driver classpath an archive was dumped for."""
    java = os.environ.get("JAVA_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("java")))
    )
    h = hashlib.sha256(os.path.realpath(java).encode())
    with open(os.path.join(java, "release"), "rb") as f:
        h.update(f.read())
    jars = os.path.join(_find_spark_home(), "jars")
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    for var in ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        h.update(f"{var}={os.environ.get(var, '')}\0".encode())
    h.update(conf_dir.encode())
    return h.hexdigest()[:16]


def _class_archive() -> tuple[str, str, tuple[str, IO[str]] | None] | None:
    """``(conf dir, JVM flag, dump)`` for the driver JVM that :func:`get_spark`
    is about to start, or None to start it without a class-data archive.

    The flag names the archive of this JDK and classpath. If there is none
    yet, it has this session's JVM list the classes it loads instead, and
    ``dump`` is ``(base path, held lock)`` for :func:`_promote_at_exit`,
    which dumps them once the JVM has exited. The attempt counts as failed
    (``base.failed``) until the archive is promoted, so a box that cannot
    dump, or a process killed before its exit, does not try again (``rm
    -rf`` :data:`CDS_DIR` to reset). Every failure means None.
    """
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None  # the JVM is up already and its flags are fixed
    try:
        conf_dir = _empty_conf_dir()
        if conf_dir is None:
            return None
        base = os.path.join(CDS_DIR, _digest(conf_dir))
        if os.path.exists(base + ".jsa"):
            return conf_dir, f"-XX:SharedArchiveFile={base}.jsa", None
        if os.path.exists(base + ".failed"):
            return None
        lock = open(base + ".lock", "w")
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            lock.close()
            return None  # another session's JVM is dumping
        if os.path.exists(base + ".jsa") or os.path.exists(base + ".failed"):
            lock.close()
            return None  # that session is done
        open(base + ".failed", "w").close()
        return conf_dir, f"-XX:DumpLoadedClassList={base}.classlist", (base, lock)
    except Exception:
        return None


def _promote_at_exit(
    base: str, lock: IO[str], proc: subprocess.Popen, java: str, class_path: str, pid: int
) -> None:
    """Let the driver JVM exit, dump the classes it loaded into an archive,
    and promote the archive only if a JVM on the same classpath starts on
    it: a truncated archive crashes the JVM at start. A forked child of
    process ``pid`` inherits this hook, and leaves the dump to its parent."""
    if os.getpid() != pid:
        return
    tmp = base + ".jsa.tmp"
    archive = [f"-XX:SharedArchiveFile={tmp}", "-cp", class_path]
    dump = [java, "-Xshare:dump", f"-XX:SharedClassListFile={base}.classlist", *archive]
    check = [java, "-Xshare:on", *archive, "-version"]
    try:
        proc.stdin.close()  # the JVM exits at EOF on its stdin
        if proc.wait(timeout=CDS_EXIT_TIMEOUT_S) == 0 and all(
            subprocess.run(cmd, capture_output=True, timeout=CDS_EXIT_TIMEOUT_S).returncode == 0
            for cmd in (dump, check)
        ):
            os.replace(tmp, base + ".jsa")
            os.remove(base + ".failed")
    except Exception:
        pass
    finally:
        for leftover in (tmp, base + ".classlist"):
            with suppress(OSError):
                os.remove(leftover)
        lock.close()
