"""The driver JVM flags that ``get_spark`` sets, and its class-data archive.

Each case starts a fresh Python process: the flags reach only a JVM that
the session starts, and a process starts one JVM. The archive cache points
at a per-test dir through ``session.CDS_DIR``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Prepares the cache dir named by argv[1] (argv[2] says how), starts a
# session, runs a job and prints what the JVM was started with.
SCRIPT = r"""
import json, os, subprocess, sys
from upflow_spark import session

session.CDS_DIR = sys.argv[1]
base = os.path.join(session.CDS_DIR, session._digest(session._empty_conf_dir()))
if sys.argv[2] == "failed":
    open(base + ".failed", "w").close()
elif sys.argv[2] == "truncated_tmp":
    with open(base + ".jsa.tmp", "wb") as f:
        f.write(b"\0" * 4096)
elif sys.argv[2] == "foreign":
    # a sound archive dumped for another classpath: the JVM declines it
    subprocess.run([sys.argv[3], f"-XX:ArchiveClassesAtExit={base}.jsa", "-Xlog:disable",
                    "-cp", sys.argv[4], "org.apache.spark.launcher.Main"], capture_output=True)
spark = session.get_spark("upflow-session-test")
jvm = spark.sparkContext._jvm
print(json.dumps({
    "options": session.JVM_OPTIONS.split(),
    "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "vm_info": jvm.System.getProperty("java.vm.info"),
    "rows": spark.range(5).count(),
    "conf_dir_env": os.environ.get("SPARK_CONF_DIR"),
}))
spark.stop()
"""


def _run(tmp_path, mode: str, submit_args: str = "pyspark-shell") -> tuple[dict, str, str]:
    cache = str(tmp_path / "cds")
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    if not os.path.exists(java):
        java = shutil.which("java")
    from pyspark.find_spark_home import _find_spark_home

    launcher = glob.glob(os.path.join(_find_spark_home(), "jars", "spark-launcher*.jar"))[0]
    env = dict(os.environ, PYSPARK_SUBMIT_ARGS=submit_args, TMPDIR=str(tmp_path))
    env.pop("SPARK_CONF_DIR", None)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
    p = subprocess.run(
        [sys.executable, "-c", SCRIPT, cache, mode, java, launcher],
        env=env,
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout, p.stderr


def _flag(args: list[str], name: str) -> str | None:
    """The value of JVM flag ``-XX:<name>=`` in ``args``, or None."""
    return next((a.split("=", 1)[1] for a in args if a.startswith(f"-XX:{name}=")), None)


def test_jvm_flags_reach_driver_beside_submit_args_and_logs_stay_off_stdout(tmp_path):
    """--driver-java-options and the session's own flags both reach the
    JVM; a declined archive's warning goes to stderr, not stdout."""
    submit_args = "--driver-java-options '-Dupflow.probe=1' pyspark-shell"
    out, stdout, stderr = _run(tmp_path, "foreign", submit_args)
    assert out["rows"] == 5
    assert "-Dupflow.probe=1" in out["args"]
    assert "-XX:CICompilerCount=2" in out["args"]
    assert set(out["options"]) <= set(out["args"])
    assert _flag(out["args"], "SharedArchiveFile")
    assert "Unable to use shared archive" in stderr
    assert "[warning]" not in stdout
    # the stand-in conf dir is set only while the JVM starts
    assert out["conf_dir_env"] is None


def test_failed_marker_starts_without_archive(tmp_path):
    out, _, _ = _run(tmp_path, "failed")
    assert out["rows"] == 5
    assert set(out["options"]) <= set(out["args"])
    assert _flag(out["args"], "SharedArchiveFile") is None
    assert _flag(out["args"], "DumpLoadedClassList") is None
    assert not glob.glob(str(tmp_path / "cds" / "*.jsa"))


def test_first_session_dumps_at_exit_and_next_starts_on_archive(tmp_path):
    """A temp file a killed dump left behind is never handed to the JVM:
    the first session lists the classes it loads, they are dumped once its
    JVM has exited, the dump is validated and promoted, and the next
    session starts on it."""
    first, _, _ = _run(tmp_path, "truncated_tmp")
    assert first["rows"] == 5
    assert _flag(first["args"], "SharedArchiveFile") is None
    assert _flag(first["args"], "DumpLoadedClassList").endswith(".classlist")
    cds = tmp_path / "cds"
    assert sorted(p.suffix for p in cds.iterdir()) == ["", ".jsa", ".lock"]  # "": conf/
    second, _, _ = _run(tmp_path, "as_is")
    archive = _flag(second["args"], "SharedArchiveFile")
    assert glob.glob(str(cds / "*.jsa")) == [archive]
    assert os.path.getsize(archive) > 1 << 20
    assert "sharing" in second["vm_info"]
    assert _flag(second["args"], "DumpLoadedClassList") is None


def test_invalid_dump_is_removed_and_marked_failed(tmp_path):
    """A dump no JVM starts on is deleted, never promoted, and its digest
    stays marked failed; nothing raises. The stand-in ``java`` dumps a
    truncated archive and runs the real one for the check."""
    from upflow_spark import session

    real = shutil.which("java") or os.path.join(os.environ["JAVA_HOME"], "bin", "java")
    java = tmp_path / "java"
    java.write_text(
        "#!/bin/sh\n"
        '[ "$1" = -Xshare:dump ] || exec "%s" "$@"\n'
        'for a; do case "$a" in -XX:SharedArchiveFile=*) head -c 4096 /dev/zero > "${a#*=}";; esac; done\n'
        % real
    )
    java.chmod(0o755)
    base = str(tmp_path / "digest")
    open(base + ".classlist", "w").close()
    open(base + ".failed", "w").close()
    lock = open(base + ".lock", "w")
    jvm = subprocess.Popen(["cat"], stdin=subprocess.PIPE, stdout=subprocess.DEVNULL)
    session._promote_at_exit(base, lock, jvm, str(java), str(tmp_path), os.getpid())
    assert jvm.returncode == 0
    assert lock.closed
    assert sorted(os.listdir(tmp_path)) == ["digest.failed", "digest.lock", "java"]
