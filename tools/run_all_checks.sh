#!/usr/bin/env bash
# One-command verification runbook (r12 VERDICT item 8): everything
# needed to re-verify the repo, in the order the verify skill prescribes.
# Measured on a 4-vCPU, 15 GiB VM: pytest ~24 min, forced sweep ~6 min,
# perfbench smoke ~2 min; the driver sim took ~11 min at sf0.01 (this
# runbook runs it at sf0.001). The other steps are untimed. The first
# session on a box also dumps the JVM class-data archive at its exit
# (~40 s, once).
#
#   bash tools/run_all_checks.sh            # full run
#   UPFLOW_ROUND=13 bash tools/run_all_checks.sh
#
# Notes:
# - pytest runs CHUNKED (the full suite single-run is ~25 min; chunks give
#   progress and keep each invocation under typical exec caps).
# - the driver sim runs at sf0.001 (fast, full-registry); bump
#   SPARK_GRAFT_SF_DIR for a deeper sweep (see .claude/skills/verify for
#   the sf0.1 fast/slow-pass protocol).
# - partials are cleared first: resumed sweeps silently mix code versions.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "=== 0/7 fixture drift check (roundcheck) ==="
python tools/roundcheck.py

SIM_SF=/root/testdata/sf0.001

echo "=== 1/7 clear stale sweep partials ==="
rm -f "$(SPARK_GRAFT_SF_DIR=$SIM_SF python tools/driver_sim.py --partial)" \
  "$(python tools/bench_all.py --partial)"

echo "=== 2/7 pytest (chunked) ==="
python -m pytest tests/test_oracle.py -x -q
python -m pytest tests/test_plans.py -x -q
python -m pytest tests/test_ops.py -x -q
python -m pytest tests/ -x -q --ignore=tests/test_oracle.py \
  --ignore=tests/test_plans.py --ignore=tests/test_ops.py
python -m pytest tests/test_fallbacks.py -m forced_sweep -x -q

echo "=== 3/7 driver sim (vanilla session, full registry, sf0.001) ==="
SPARK_GRAFT_SF_DIR=$SIM_SF python tools/driver_sim.py

echo "=== 4/7 leak sweep ==="
python tools/leakcheck.py

echo "=== 5/7 broadcast-discipline audit ==="
python tools/broadcast_audit.py

echo "=== 6/7 bench smoke (one JSON line) ==="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python bench.py

echo "=== 7/7 perfbench smoke (every workload, traced and untraced) ==="
python3 perfbench/run.py --smoke

echo "ALL CHECKS PASSED"
