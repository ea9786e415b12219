"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The parser and span tests are instant. ``test_selftest`` runs one traced
pass of every workload at sf0.001 (about a minute each) and checks that
every per-layer metric is emitted with its unit, that spans nest and
that no self time is negative.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

import pytest

from perfbench import spans
from perfbench.sparkstats import parse_metric

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
LAYER_MAP = json.loads((HERE / "layer_map.json").read_text())["metrics"]

# metric strings as Spark 4.1 formats them, captured from executionMetrics()
CAPTURED = [
    ("1,733", 1733.0),
    ("30,112", 30112.0),
    ("0 ms", 0.0),
    ("8 ms", 0.008),
    ("1.0 s", 1.0),
    ("7.5 MiB", 7.5 * 2 ** 20),
    ("123.1 KiB", 123.1 * 1024),
    ("1280.0 KiB", 1280.0 * 1024),
    ("total (min, med, max (stageId: taskId))\n518 ms (256 ms, 262 ms, 262 ms (stage 3.0: task 4))", 0.518),
    ("total (min, med, max (stageId: taskId))\n5.7 s (2.3 s, 2.3 s, 2.3 s (stage 5.0: task 6))", 5.7),
    ("total (min, med, max (stageId: taskId))\n960.2 KiB (468.9 KiB, 491.3 KiB, 491.3 KiB "
     "(stage 5.0: task 6))", 960.2 * 1024),
    ("total (min, med, max (stageId: taskId))\n15.9 s (7.9 s, 8.0 s, 8.0 s (stage 5.0: task 6))", 15.9),
    ("(min, med, max (stageId: taskId)):\n(1.4, 1.4, 1.4 (stage 89.0: task 131))", 1.4),
]


@pytest.mark.parametrize("text,value", CAPTURED)
def test_parse_metric_captured_strings(text, value):
    assert parse_metric(text) == pytest.approx(value)


@pytest.mark.parametrize("text", ["", "n/a", "3.2 parsecs", "total (min, med, max)"])
def test_parse_metric_rejects_unknown_shapes(text):
    with pytest.raises(ValueError):
        parse_metric(text)


def test_self_time_subtracts_the_child_span():
    tr = spans.Tracer()
    with tr.span("outer", 0):
        time.sleep(0.02)
        with tr.span("inner", 0):
            time.sleep(0.05)
    outer, inner = tr.self_times()
    assert tr.check_nesting() == []
    assert inner == pytest.approx(tr.spans[1].duration)
    assert outer == pytest.approx(tr.spans[0].duration - tr.spans[1].duration)
    assert 0.01 < outer < inner


def test_check_nesting_reports_a_child_outside_its_parent():
    tr = spans.Tracer()
    tr.spans = [spans.Span("p", 0.0, 1.0), spans.Span("c", 0.5, 2.0, parent=0, pass_id=1)]
    problems = tr.check_nesting()
    assert any("not inside" in p for p in problems)
    assert any("different passes" in p for p in problems)


def test_benchmark_json_lists_the_emitted_metrics():
    from perfbench import run

    bj = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in bj["end_to_end"]] == list(run.E2E)
    assert [(m["name"], m["unit"]) for m in bj["per_layer"]] == [(m["name"], m["unit"]) for m in LAYER_MAP]
    assert {w["name"] for w in bj["workloads"]} <= set(run.WORKLOADS)
    setup = next(m for m in bj["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bj["end_to_end"])


@pytest.mark.parametrize("workload", ["point-sample", "raster-vector", "chunked-commit"])
def test_selftest(workload):
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "0", "--trace", "1", "--scale", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    for m in LAYER_MAP:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] >= 0, m["name"]
    assert not [ln for ln in lines if ln.startswith("# SPAN")]
    trace = json.loads(Path(next(ln for ln in lines if ln.startswith("# spans written to"))
                            .split("written to ", 1)[1]).read_text())
    assert trace and all(s["self_s"] >= 0 for s in trace)
    for s in trace:
        if s["parent"] is not None:
            p = trace[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"] and p["pass_id"] == s["pass_id"]
    # the module spans cover the traced pass
    assert result["metrics"]["trace.coverage"]["value"] >= 0.9
