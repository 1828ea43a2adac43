#!/usr/bin/env bash
# One-command verification runbook (r12 VERDICT item 8): everything the
# judge/builder needs to re-verify the repo, in the order the verify
# skill prescribes. ~35-40 min end-to-end on the 32-core box.
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

echo "=== 0/6 fixture drift check (roundcheck) ==="
python tools/roundcheck.py

echo "=== 1/6 clear stale sweep partials ==="
rm -f /tmp/upflow_driver_sim_partial.jsonl /tmp/upflow_bench_detail_partial.jsonl

echo "=== 2/6 pytest (chunked) ==="
python -m pytest tests/test_oracle.py -x -q
python -m pytest tests/test_plans.py -x -q
python -m pytest tests/test_ops.py -x -q
python -m pytest tests/ -x -q --ignore=tests/test_oracle.py \
  --ignore=tests/test_plans.py --ignore=tests/test_ops.py
python -m pytest tests/test_fallbacks.py -m forced_sweep -x -q

echo "=== 3/6 driver sim (vanilla session, full registry, sf0.001) ==="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 python tools/driver_sim.py

echo "=== 4/6 leak sweep ==="
python tools/leakcheck.py

echo "=== 5/6 broadcast-discipline audit ==="
python tools/broadcast_audit.py

echo "=== 6/6 bench smoke (one JSON line) ==="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python bench.py

echo "ALL CHECKS PASSED"
