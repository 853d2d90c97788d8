#!/usr/bin/env bash
# Release gate: the fast (tier-1) suite, the slow tier and the oracle-window
# simulation (scripts/driver_sim.py), in that order. Every step always
# runs; each prints one PASS/FAIL line with its exit code and log file. The
# gate exits non-zero if any step fails or does not run (no tests
# collected, timeout, missing interpreter — any non-zero exit). Nothing is
# deselected or forgiven. The tier-1 log ends with its 25 slowest tests,
# since the suite's wall time is the budget most at risk.
#
# Usage: scripts/gate.sh            (from anywhere; logs go to $GATE_LOG_DIR
#                                    or a fresh temp dir, printed at the end)
set -u

cd "$(dirname "$0")/.." || exit 2
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"
logs="${GATE_LOG_DIR:-$(mktemp -d -t gate.XXXXXX)}"
mkdir -p "$logs"
failed=0

step() {
    local name="$1"
    shift
    local log="$logs/$name.log"
    local start=$SECONDS
    "$@" >"$log" 2>&1
    local rc=$?
    local verdict=PASS
    if [ "$rc" -ne 0 ]; then
        verdict=FAIL
        failed=1
    fi
    printf '%-8s %s rc=%d %ds %s\n' "$name" "$verdict" "$rc" \
        "$((SECONDS - start))" "$log"
}

step tier1 timeout -k 10 2670 python -m pytest tests/ -q \
    --continue-on-collection-errors -p no:cacheprovider --durations=25
step slow timeout -k 10 2670 python -m pytest tests/ -q -m slow \
    --continue-on-collection-errors -p no:cacheprovider
step oracle timeout -k 10 2670 python scripts/driver_sim.py

if [ "$failed" -ne 0 ]; then
    echo "gate FAIL (logs: $logs)"
    exit 1
fi
echo "gate PASS (logs: $logs)"
