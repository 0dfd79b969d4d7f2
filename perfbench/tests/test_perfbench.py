"""Tests of the benchmark itself: the output schema it promises in
BENCHMARK.json, its parsing and span arithmetic, and a smoke run of every
workload on tiny inputs.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))
sys.path.insert(0, ROOT)

from perfbench import layers  # noqa: E402
from perfbench.tracing import (is_interpreted, parse_metric_value,  # noqa: E402
                               self_seconds)

REPORTED = {
    "cdc_catchup_tail": ["setup_s", "failed_frac", "peak_rss_mb",
                         "replay_events_per_s", "stream_events_per_s",
                         "microbatch_p50_s", "microbatch_tail_s",
                         "point_read_p50_s", "point_read_tail_s",
                         "changes_read_p50_s", "compact_s",
                         "compacted_read_p50_s"],
    "analytics_suite": ["setup_s", "failed_frac", "peak_rss_mb",
                        "query_total_s", "query_geomean_s",
                        "near_dup_docs_per_s"],
}


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_keeps_the_contract():
    b = _benchmark_json()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert b["paths"] == ["perfbench"]
    assert set(REPORTED) == set(layers.WORKLOADS)
    assert all(set(w) == {"name", "why"} for w in b["workloads"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(set(names)) == len(names)


def test_protocol_names_only_printed_metrics():
    with open(os.path.join(ROOT, "perfbench", "protocol.json")) as f:
        p = json.load(f)
    assert set(p["workloads"]) == set(layers.WORKLOADS)
    per_layer = {n for n, _, _ in layers.PER_LAYER}
    e2e = {n for n, _, _ in layers.END_TO_END}
    for entry in p["layer_map"]:
        for m in entry["metrics"]:
            assert m in per_layer or m.startswith("registry.<leaf>"), m
        for metric, workload in entry.get("moves", []):
            assert (metric in e2e or metric.startswith("whichever")
                    or metric.endswith("(report)")), metric
            assert workload in layers.WORKLOADS or workload == "every workload"
    assert isinstance(p["held_out_seed"], int)


def test_parse_metric_value_units():
    assert parse_metric_value("1,234") == 1234
    assert parse_metric_value("4.0 KiB") == 4096
    assert parse_metric_value(
        "total (min, med, max (stageId: taskId))\n1.5 s (1 ms, 2 ms, 3 ms "
        "(stage 2.0: task 4))") == 1.5
    assert parse_metric_value("42 ms") == pytest.approx(0.042)
    assert parse_metric_value("avg (min, med, max)\n(1, 1, 1 (stage 3.0))") \
        is None


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps 1
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # runs past 0
    ]
    assert self_seconds(spans) == {0: 5.0, 1: 3.0, 2: 2.0, 3: 3.0}


def test_interpreted_nodes_exclude_codegen_and_structure():
    node = {"cluster": False, "codegen": False, "metrics": {}}
    assert is_interpreted({**node, "name": "SortAggregate"})
    assert not is_interpreted({**node, "name": "SortAggregate",
                               "codegen": True})
    assert is_interpreted({**node, "name": "ArrowEvalPython", "codegen": True})
    assert not is_interpreted({**node, "name": "Exchange"})
    assert not is_interpreted({**node, "name": "Scan parquet "})


def test_percentile_tail_needs_ten_samples_beyond():
    assert layers.percentile_tail(list(range(10))) is None
    tail = layers.percentile_tail([float(i) for i in range(40)])
    assert tail == {"value": 29.0, "percentile": 75, "samples": 40}


def _run(workload: str, trace: int) -> list[dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    return [json.loads(line) for line in out.stdout.splitlines()
            if line.startswith("{")]


@pytest.mark.parametrize("workload", layers.WORKLOADS)
def test_smoke_traced_run_prints_every_metric(workload):
    *_, report, result = _run(workload, trace=1)
    report = report["perfbench_report"]
    for name in REPORTED[workload]:
        assert "unit" in report[name], name
    assert report["failed_frac"]["value"] == 0
    assert set(report["host_calibration"]) >= {"cpu_spin_miter_per_s",
                                               "mem_copy_gb_per_s"}
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    got = {n: m["unit"] for n, m in result["metrics"].items()}
    assert got == {n: u for n, u, _ in layers.PER_LAYER}
    m = {n: v["value"] for n, v in result["metrics"].items()}
    # every span's self time partitions the traced region
    assert m["trace.coverage"] == pytest.approx(1.0, abs=0.05)
    if workload == "cdc_catchup_tail":
        assert m["cdc.replay.batches"] > 0
        assert m["cdc.stream.microbatches"] > 0
        assert m["functions.textfns.python_rows"] > 0
        assert 0 < m["cdc.stream.apply_share"] < 1
    else:
        assert m["cdc.apply.calls"] == 0
        assert m["functions.textfns.python_rows"] == 0
        assert m["registry.scan_rows"] > 0


def test_smoke_untraced_run_prints_end_to_end_metrics():
    *_, result = _run("analytics_suite", trace=0)
    assert result["correct"]
    assert {n: m["unit"] for n, m in result["metrics"].items()} \
        == {n: u for n, u, _ in layers.END_TO_END}
    assert all(m["value"] > 0 for m in result["metrics"].values())
