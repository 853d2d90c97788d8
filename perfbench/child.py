"""One workload run inside one fresh Spark process; started by ``run.py``.

Phases: Spark session start; ``SETUP_PASSES`` input builds into fresh
directories (the median counts toward ``setup_s``); the workload's
warm-up; then a fixed number of cycles, ``--seconds`` over the workload's
nominal cycle time (at least one), each doing the same fixed work.
With ``--trace 1`` twice as many cycles run, untraced and traced in turn, so the tracing
overhead is measured in the same process.  Prints a record line with
provenance, every end-to-end metric and the per-layer breakdown, then the
result line whose metrics are the ones ``BENCHMARK.json`` declares.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.harness import OP_KINDS, Recorder, error_rate, latency_pair, summarize_spans  # noqa: E402

SETUP_PASSES = 3
DRIVER_MEMORY = "2g"

#: every end-to-end metric the record line carries: name -> unit
E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "commit_p50_s": "s",
    "commit_tail_s": "s",
    "maintenance_s": "s",
    "error_rate": "fraction",
    "peak_rss_mb": "MB",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "recall_at_10": "fraction",
}


def workloads() -> dict:
    from perfbench.ann import Ann
    from perfbench.curation import Curation
    from perfbench.lakehouse import Lakehouse
    from perfbench.tpch import Tpch

    return {w.name: w for w in (Lakehouse, Tpch, Curation, Ann)}


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def process_age_s() -> float:
    """Seconds since this process started (kernel clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def peak_rss_mb() -> float:
    """``VmHWM`` of the JVM child plus this process's ``ru_maxrss``."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if status.get("Name", "").strip() == "java":
            kb += int(status["VmHWM"].split()[0])
    return kb / 1024


def calibrate_s() -> float:
    """Fixed engine-independent scan+shuffle probe: NumPy sort and grouped
    sum over 1M seeded keys; median of three."""
    import numpy as np

    keys = np.random.default_rng(0).integers(0, 1 << 20, 1_000_000)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        order = np.argsort(keys, kind="stable")
        np.bincount(keys[order] & 1023, weights=keys[order].astype(float))
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def provenance(spark, seed: int) -> dict:
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "delta_lake_optimizations_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    digest.update(fh.read())
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "nproc": len(os.sched_getaffinity(0)),
        "spark.driver.memory": spark.conf.get("spark.driver.memory"),
        "seed": seed,
        "git_commit": commit,
        "source_sha256": digest.hexdigest(),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "calibration_s": calibrate_s(),
        "inputs": "fresh",
        "load_model": "closed loop, 1 client, local[SPARK_GRAFT_CPUS] task threads",
    }


def configure_env(work: str) -> None:
    """Keep every file Spark writes inside ``work``; size the session."""
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEMORY)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Xms{os.environ["SPARK_GRAFT_DRIVER_MEM"]} -Djava.io.tmpdir={local} -Dderby.system.home={local}" '
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def run(args) -> int:
    configure_env(args.work)
    from delta_lake_optimizations_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_start_s = process_age_s()
    try:
        return measure(spark, args, session_start_s)
    finally:
        spark.stop()


def measure(spark, args, session_start_s: float) -> int:
    spec = declared()
    rec = Recorder(spark)
    wl = workloads()[args.workload](spark, rec, args.work, args.seed)

    input_s = []
    for k in range(SETUP_PASSES):
        t0 = time.perf_counter()
        wl.build_inputs(os.path.join(args.work, f"inputs{k}"))
        input_s.append(time.perf_counter() - t0)
        if k:
            shutil.rmtree(os.path.join(args.work, f"inputs{k - 1}"), ignore_errors=True)
    t0 = time.perf_counter()
    rec.checking = False
    wl.prepare()
    rec.checking = True
    prepare_s = time.perf_counter() - t0
    setup_s = session_start_s + statistics.median(input_s) + prepare_s

    samples = {False: {k: [] for k in OP_KINDS}, True: {k: [] for k in OP_KINDS}}
    walls: dict[bool, list[float]] = {False: [], True: []}
    maint: list[float] = []
    spans: list[dict] = []
    wl.counters.clear()
    # fixed work: the cycle count follows from --seconds and the workload's
    # nominal cycle time, never from how fast the cycles actually run
    n_cycles = max(1, round(args.seconds / wl.cycle_s)) * (2 if args.trace else 1)
    t_start = time.perf_counter()
    for i in range(n_cycles):
        tracing = bool(args.trace) and i % 2 == 1
        rec.tracing, rec.samples = tracing, samples[tracing]
        n_maint, aside0, t0 = len(rec.samples["maintenance"]), rec.check_s, time.perf_counter()
        try:
            wl.cycle(i)
        except Exception as exc:  # a failed cycle is counted and ends the timed phase
            if not getattr(exc, "perfbench_counted", False):
                rec.attempted += 1
                rec.failed_ops += 1
            rec.failures.append(f"cycle {i}: {exc!r}"[:400])
            break
        finally:
            rec.tracing = False
        walls[tracing].append(time.perf_counter() - t0 - (rec.check_s - aside0))
        if not tracing:
            maint.append(sum(rec.samples["maintenance"][n_maint:]))
        else:
            spans.extend(rec.take_spans())
    timed_s = time.perf_counter() - t_start
    try:
        extra = wl.after()
    except Exception as exc:  # an after-run check that cannot run is a failed check
        rec.attempted += 1
        rec.failed_checks += 1
        rec.failures.append(f"after: {exc!r}"[:400])
        extra = {}
    rss = peak_rss_mb()

    untraced = samples[False]
    q, c = latency_pair(untraced["query"]), latency_pair(untraced["commit"])
    counters = {k: statistics.median(v) for k, v in wl.counters.items() if v}
    e2e = {
        "setup_s": setup_s,
        "wall_s": statistics.median(walls[False]) if walls[False] else None,
        "query_p50_s": q["p50"],
        "query_tail_s": q["tail"],
        "commit_p50_s": c["p50"],
        "commit_tail_s": c["tail"],
        "maintenance_s": statistics.median(maint) if any(maint) else None,
        "error_rate": error_rate(rec.attempted, rec.failed_ops, rec.failed_checks),
        "peak_rss_mb": rss,
        "write_amp": counters.get("write_amp"),
        "space_amp": counters.get("space_amp"),
        "recall_at_10": extra.get("recall_at_10"),
    }
    layers = layer_metrics(spans, walls, counters, session_start_s) if args.trace else {}
    record = {
        "workload": args.workload,
        "trace": args.trace,
        "provenance": provenance(spark, args.seed),
        "setup": {"session_start_s": session_start_s, "input_build_s": input_s, "warm_up_s": prepare_s},
        "timed_s": timed_s,
        "cycles": {"untraced": len(walls[False]), "traced": len(walls[True])},
        "cycle_walls_s": {"untraced": walls[False], "traced": walls[True]},
        "samples": {"query": q, "commit": c, "maintenance": len(untraced["maintenance"])},
        "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]} if v is not None else "n/a" for k, v in e2e.items()},
        "layers": layers,
        "failures": rec.failures,
    }
    print(json.dumps({"record": record}, default=str), flush=True)

    if args.trace:
        chosen = {m["name"]: (layers.get(m["name"]), m["unit"]) for m in spec["per_layer"]}
    else:
        chosen = {m["name"]: (e2e.get(m["name"]), m["unit"]) for m in spec["end_to_end"]}
    missing = [k for k, (v, _) in chosen.items() if v is None]
    if missing:
        print(f"perfbench: {args.workload} produced no value for {missing}", file=sys.stderr)
        return 1
    failed = rec.failed_ops + rec.failed_checks
    print(json.dumps({
        "correct": failed == 0,
        "attempted": rec.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }), flush=True)
    return 0


def layer_metrics(spans, walls, counters, session_start_s: float) -> dict:
    """Per-layer figures of a traced run, per traced cycle."""
    n = max(1, len(walls[True]))
    by_name = summarize_spans(spans, n)
    out: dict[str, float] = {"session.start_s": session_start_s}
    program = execs = 0.0
    for name, row in sorted(by_name.items()):
        if name.startswith("op."):
            continue
        out[f"{name}_s"] = row["self_s"]
        out[f"{name}.calls"] = row["calls"]
        if row["tasks"]:
            out[f"{name}.tasks"] = row["tasks"]
        if name.endswith(".exec"):
            execs += row["self_s"]
        else:
            program += row["self_s"]
    out.update(counters)
    untraced = statistics.median(walls[False]) if walls[False] else None
    traced = statistics.median(walls[True]) if walls[True] else None
    out["program.self_s"] = program
    out["exec.self_s"] = execs
    for k in ("jobs", "stages", "tasks"):
        out[f"spark.{k}"] = sum(r[k] for r in by_name.values())
    if untraced is not None and traced is not None:
        out["trace.overhead_s"] = traced - untraced
        out["trace.unaccounted_s"] = untraced - program - execs
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True)
    args = p.parse_args(argv)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
