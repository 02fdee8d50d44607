"""Every metric BENCHMARK.json names is emitted, with its unit, by a real
(small) run of each workload in each mode."""

from __future__ import annotations

import json
import re
import time

import pytest

from perfbench import gen, run
from perfbench.workloads import WORKLOADS, Context

SPEC = json.loads(run.SPEC.read_text())


@pytest.fixture
def small(monkeypatch):
    monkeypatch.setattr(gen, "BULK_FILES", 24)
    monkeypatch.setattr(gen, "BULK_PAD_BYTES", (500, 1_000))
    monkeypatch.setattr(gen, "SERVE_FILES", 30)


def _run(spark, tmp_path, workload, trace):
    ctx = Context(spark, str(tmp_path / workload), time.perf_counter())
    result = WORKLOADS[workload](ctx, seed=3, seconds=0.01, trace=trace)
    line = run.report(result, trace, peak_rss_mb=1.0)
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {n: m["unit"] for n, m in line["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    assert all(isinstance(m["value"], float) for m in line["metrics"].values())
    return result, line


def test_spec_shape():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= next(
        m for m in SPEC["end_to_end"] if m["name"] == "setup_s"
    ).items()


def test_end_to_end_metrics_emitted(spark, small, tmp_path):
    for workload in WORKLOADS:
        _, line = _run(spark, tmp_path, workload, trace=False)
        assert all(m["value"] > 0 for m in line["metrics"].values())


def test_per_layer_metrics_emitted_and_each_measured_somewhere(spark, small, tmp_path):
    measured: set[str] = set()
    for workload in WORKLOADS:
        result, _ = _run(spark, tmp_path, workload, trace=True)
        assert result.spans and all(s["dur_ms"] >= 0 for s in result.spans)
        measured |= result.observed
    # a per-layer metric no workload observes (a wrapper that never fires,
    # a layer whose jobs are never seen) would always read its default 0
    assert {m["name"] for m in SPEC["per_layer"]} <= measured
