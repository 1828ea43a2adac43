"""Standalone per-key timing with bench.py's session protocol, for A/B
comparisons between two versions of the code.

Usage: python tools/time_keys.py key1 key2 ...   [env SPARK_GRAFT_SF_DIR/CPUS]

Each key is timed in COLD_RUNS fresh processes, one after another. A
process warms the JIT on three fixed keys, times the key's first (cold)
run, then the best of 2 warm runs. Prints one line per key: the median and
interquartile range (IQR) of the cold and the warm times across the
processes. A single cold sample moved by up to 25% between back-to-back
runs of the same code on a 4-vCPU VM, so a difference between two versions
that lies inside the IQR is unresolved. Same session configuration as
bench.py (UPFLOW_SHUFFLE_PARTITIONS default 8).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COLD_RUNS = 5

# One process: argv[1] is the key, argv[2] the sf dir; prints its times.
CHILD = r"""
import json, sys, time
from upflow_spark import QUERIES
from upflow_spark.session import get_spark

key, sf_dir = sys.argv[1], sys.argv[2]
spark = get_spark("upflow-time-keys")
for warm_key in ("agg_groupby", "join_multiway", "win_row_number_topk"):
    try:
        QUERIES[warm_key](spark, sf_dir).collect()
    except Exception:
        pass
fn = QUERIES[key]
t0 = time.perf_counter()
fn(spark, sf_dir).collect()
cold = time.perf_counter() - t0
warm = float("inf")
for _ in range(2):
    t0 = time.perf_counter()
    fn(spark, sf_dir).collect()
    warm = min(warm, time.perf_counter() - t0)
print(json.dumps({"cold": cold, "warm": warm}), flush=True)
spark.stop()
"""


def median_iqr(xs: list[float]) -> tuple[float, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q2, q3 - q1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    keys = sys.argv[1:]
    if not keys:
        print("usage: time_keys.py key1 [key2 ...]")
        sys.exit(2)
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    env.setdefault("UPFLOW_SHUFFLE_PARTITIONS", "8")
    env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
    for key in keys:
        runs = []
        for _ in range(COLD_RUNS):
            out = subprocess.run(
                [sys.executable, "-c", CHILD, key, sf_dir],
                env=env, capture_output=True, text=True, check=True,
            ).stdout
            runs.append(json.loads(out.strip().splitlines()[-1]))
        cold, cold_iqr = median_iqr([r["cold"] for r in runs])
        warm, warm_iqr = median_iqr([r["warm"] for r in runs])
        print(
            f"{key} cold={cold:.3f} (IQR {cold_iqr:.3f}) warm={warm:.3f} (IQR {warm_iqr:.3f})"
            f" n={COLD_RUNS}",
            flush=True,
        )


if __name__ == "__main__":
    main()
