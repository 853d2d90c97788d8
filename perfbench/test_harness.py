"""Tests of the benchmark's own helpers; no Spark needed.

    python3 -m pytest perfbench/test_harness.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import child, run
from perfbench.harness import error_rate, self_times, summarize_spans, tail

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_tail_needs_ten_samples_beyond():
    assert tail([float(x) for x in range(10)]) is None
    pct, value = tail([float(x) for x in range(1, 21)])
    assert value == 10.0 and pct == 50.0
    assert sum(1 for x in range(1, 21) if x > value) == 10
    pct, value = tail([float(x) for x in range(1, 101)])
    assert value == 90.0 and pct == 90.0


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 0.5, 11.0]
    assert tail(xs) == tail(sorted(xs)) == (100.0 * 2 / 12, 1.0)


def _span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end,
            "jobs": 0, "stages": 0, "tasks": 0}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),   # overlaps span 1: covered part is [1, 5]
        _span(3, 0, 8.0, 12.0),  # runs past its parent: only [8, 10] counts
        _span(4, 1, 1.5, 2.5),   # grandchild: counts against span 1 only
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_summarize_spans_averages_per_cycle():
    spans = [_span(0, None, 0.0, 4.0, "op.a"), _span(1, 0, 1.0, 2.0, "m.f"), _span(2, None, 5.0, 6.0, "m.f")]
    spans[1]["tasks"] = 4
    rows = summarize_spans(spans, n_cycles=2)
    assert rows["m.f"]["calls"] == 1.0
    assert rows["m.f"]["self_s"] == pytest.approx(1.0)
    assert rows["m.f"]["tasks"] == 2.0
    assert rows["op.a"]["self_s"] == pytest.approx(1.5)


def test_error_rate_counts_failed_ops_and_checks():
    assert error_rate(10, 0, 0) == 0.0
    assert error_rate(10, 1, 2) == pytest.approx(0.3)
    with pytest.raises(ValueError):
        error_rate(0, 0, 0)


def test_end_to_end_names_and_units_match_benchmark_json():
    for m in spec()["end_to_end"]:
        assert child.E2E_UNITS[m["name"]] == m["unit"]


def test_traced_run_emits_every_declared_per_layer_metric():
    spans = [_span(0, None, 0.0, 3.0, "op.q"), _span(1, 0, 0.5, 1.0, "mod.f"), _span(2, 0, 1.0, 2.5, "mod.f.exec")]
    spans[2].update(jobs=1, stages=2, tasks=8)
    layers = child.layer_metrics(spans, {False: [2.9], True: [3.0]}, {}, 6.5)
    names = [m["name"] for m in spec()["per_layer"]]
    assert set(names) <= set(layers)
    assert layers["spark.tasks"] == 8 and layers["program.self_s"] == pytest.approx(0.5)
    assert layers["trace.unaccounted_s"] == pytest.approx(2.9 - 0.5 - 1.5)


def test_benchmark_json_follows_its_contract():
    s = spec()
    assert set(s) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    seen = set()
    for w in s["workloads"]:
        assert set(w) == {"name", "why"} and name.match(w["name"]) and len(w["why"]) <= 200
    for m in s["end_to_end"] + s["per_layer"]:
        assert name.match(m["name"]) and unit.match(m["unit"]) and m["name"] not in seen
        seen.add(m["name"])
    for m in s["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    assert {w["name"] for w in s["workloads"]} <= set(run.WORKLOADS) == set(child.workloads())
    setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in s["end_to_end"])
