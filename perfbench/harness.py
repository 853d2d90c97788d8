"""Timing, tracing, output checks and metric assembly shared by every workload.

A workload reports three kinds of timed operations (``query``, ``commit``,
``maintenance``) through :meth:`Recorder.op`.  In a traced cycle every call
the benchmark makes into one of the program's public functions, and every
Spark action on a DataFrame the program returned (span names ending in
``.exec``), becomes a span (:meth:`Recorder.span`); each span runs
under its own Spark job group, so the jobs, stages and tasks it caused are
read back afterwards from ``statusTracker()`` without adding a Spark job.
Untraced cycles record only the operation samples.
"""

from __future__ import annotations

import math
import statistics
import time
from contextlib import contextmanager
from datetime import date, datetime
from typing import Any, Callable

#: a tail percentile needs at least this many samples above it
TAIL_BEYOND = 10

OP_KINDS = ("query", "commit", "maintenance")


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float] | None:
    """The highest percentile with at least ``beyond`` samples above it, as
    ``(percentile, value)``; ``None`` when there are too few samples."""
    xs = sorted(samples)
    idx = len(xs) - 1 - beyond
    if idx < 0:
        return None
    return 100.0 * (idx + 1) / len(xs), xs[idx]


def self_times(spans: list[dict[str, Any]]) -> dict[int, float]:
    """Span id -> its duration minus the part of it that child spans cover
    (children may overlap each other; the covered part is their union)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, reach), min(b, s["end"])
            if b > a:
                covered += b - a
                reach = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def error_rate(attempted: int, failed_ops: int, failed_checks: int) -> float:
    """Failed operations plus failed output checks over operations attempted
    (an output check counts as an attempted operation)."""
    if attempted <= 0:
        raise ValueError("no operation attempted")
    return (failed_ops + failed_checks) / attempted


class Recorder:
    """Operation samples, output checks and (when ``tracing``) spans."""

    def __init__(self, spark: Any):
        self.sc = spark.sparkContext
        self.tracing = False
        self.checking = True
        self.samples: dict[str, list[float]] = {k: [] for k in OP_KINDS}
        self.attempted = 0
        self.failed_ops = 0
        self.failed_checks = 0
        self.failures: list[str] = []
        self.check_s = 0.0
        self.spans: list[dict[str, Any]] = []
        self._stack: list[dict[str, Any]] = []

    # -- operations and checks -------------------------------------------

    def op(self, kind: str, name: str, fn: Callable[..., Any], *args: Any, **kwargs: Any) -> Any:
        """Run one user-visible operation and add its wall time to the
        ``kind`` samples. A failed operation is counted, adds no sample
        (it meets no latency limit) and re-raises."""
        if kind not in self.samples:
            raise ValueError(f"unknown operation kind {kind!r}")
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = self.span(f"op.{name}", fn, *args, **kwargs)
        except Exception as exc:
            self.failed_ops += 1
            self.failures.append(f"op {name}: {exc!r}"[:400])
            exc.perfbench_counted = True
            raise
        self.samples[kind].append(time.perf_counter() - t0)
        return out

    def check(self, name: str, fn: Callable[[], Any], expected: Any = True) -> bool:
        """Output check, outside every span: ``fn()`` must equal ``expected``.
        Its time is kept apart so cycle walls can exclude it. Skipped (and
        not counted) while ``checking`` is off, as during warm-up."""
        if not self.checking:
            return True
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            got = fn()
            ok = got == expected
            detail = "" if ok else f"got {got!r:.200} expected {expected!r:.200}"
        except Exception as exc:  # a check that cannot run is a failed check
            ok, detail = False, repr(exc)
        self.check_s += time.perf_counter() - t0
        if not ok:
            self.failed_checks += 1
            self.failures.append(f"check {name}: {detail}"[:400])
        return ok

    # -- spans -----------------------------------------------------------

    def span(self, name: str, fn: Callable[..., Any], *args: Any, **kwargs: Any) -> Any:
        if not self.tracing:
            return fn(*args, **kwargs)
        with self._span(name):
            return fn(*args, **kwargs)

    @contextmanager
    def _span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            "group": f"perfbench-{len(self.spans)}",
        }
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty("spark.jobGroup.id", s["group"])
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", parent["group"] if parent else None)

    def take_spans(self) -> list[dict[str, Any]]:
        """Hand over the spans recorded so far, with each span's own Spark
        jobs, stages and completed tasks filled in from the status tracker."""
        spans, self.spans = self.spans, []
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + 5.0
        for s in spans:
            s["jobs"] = s["stages"] = s["tasks"] = 0
            for jid in tracker.getJobIdsForGroup(s["group"]):
                info = tracker.getJobInfo(jid)
                # the status store is fed asynchronously: wait for job end
                while info is not None and info.status == "RUNNING" and time.monotonic() < deadline:
                    time.sleep(0.02)
                    info = tracker.getJobInfo(jid)
                s["jobs"] += 1
                for sid in info.stageIds if info is not None else ():
                    st = tracker.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks > 0:
                        s["stages"] += 1
                        s["tasks"] += st.numCompletedTasks
        return spans


def summarize_spans(spans: list[dict[str, Any]], n_cycles: int) -> dict[str, dict[str, float]]:
    """Per span name, per traced cycle: calls, seconds, self seconds, jobs,
    stages and tasks."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        row = out.setdefault(s["name"], dict.fromkeys(("calls", "s", "self_s", "jobs", "stages", "tasks"), 0.0))
        row["calls"] += 1
        row["s"] += s["end"] - s["start"]
        row["self_s"] += selfs[s["id"]]
        for k in ("jobs", "stages", "tasks"):
            row[k] += s[k]
    for row in out.values():
        for k in row:
            row[k] /= n_cycles
    return out


def median(xs: list[float]) -> float | None:
    return statistics.median(xs) if xs else None


def latency_pair(samples: list[float]) -> dict[str, Any]:
    """Median and tail of one operation kind, with the sample count."""
    t = tail(samples)
    return {
        "p50": median(samples),
        "tail": t[1] if t else None,
        "tail_pct": round(t[0], 1) if t else None,
        "n": len(samples),
    }


def canon(v):
    """Order-insensitive value form shared by the Spark and DuckDB sides."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return "0.0" if v == 0.0 else repr(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return repr(v)


def canon_rows(columns: list[str], rows) -> list[tuple]:
    """Rows as canonical tuples with columns in name order, sorted."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(canon(r[i]) for i in idx) for r in rows)
