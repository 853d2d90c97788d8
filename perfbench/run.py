"""Benchmark entry point.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Runs each workload in its own fresh Python + Spark process (``child.py``)
with a fresh work directory under ``perfbench/.work`` that is removed
afterwards, then confirms that no process the run started (the JVM
included) is still alive before returning.  Prints the child's record line
and, last, one JSON result line.  Exits non-zero, printing no result, when
the run fails or the program under test cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("lakehouse_lifecycle", "tpch_analytics", "llm_curation", "ann_search")
CHILD_TIMEOUT_S = 170


def group_members(pgid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                out.append(int(d))
    return out


def _wait_empty(pgid: int, grace_s: float) -> bool:
    deadline = time.monotonic() + grace_s
    while group_members(pgid):
        if time.monotonic() >= deadline:
            return False
        time.sleep(0.05)
    return True


def reap_group(pgid: int) -> list[int]:
    """Wait briefly for the child's process group (the JVM exits once its
    Python parent is gone), then stop whatever is left and wait until it is
    gone. Returns the pids that had to be stopped."""
    if _wait_empty(pgid, 5.0):
        return []
    left = group_members(pgid)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            break
        if _wait_empty(pgid, 10.0):
            break
    return left


def run_one(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict] | None:
    work = os.path.join(HERE, ".work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = [sys.executable, os.path.join(HERE, "child.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--work", work]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        reap_group(proc.pid)
        proc.communicate()
        out = ""
        print(f"perfbench: {workload} exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
    leftover = reap_group(proc.pid)
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:  # another run's work dir is still there
        pass
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        print(f"perfbench: {workload} failed (exit {proc.returncode})", file=sys.stderr)
        return None
    record, result = json.loads(lines[-2])["record"], json.loads(lines[-1])
    record["isolation"] = {"fresh_process": True, "work_dir_removed": not os.path.exists(work),
                           "processes_left_after_exit": leftover}
    return record, result


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = {}
    for w in names:
        got = run_one(w, args.seed, args.seconds, args.trace)
        if got is None:
            return 1
        record, results[w] = got
        print(json.dumps({"record": record}), flush=True)
    if len(names) == 1:
        print(json.dumps(results[names[0]]), flush=True)
        return 0
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
