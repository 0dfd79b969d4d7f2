"""Metric names and the per-layer metrics derived from a traced region.

The workload and metric names, units and directions come from
``BENCHMARK.json`` at the repository root, the one place they are defined.

Every workload prints every metric. A layer that a workload does not run
reads zero there, so durations are reported as shares of the traced
region's wall time (``*_share``, unit ``ratio``) rather than as seconds:
multiply by ``trace.timed_wall_s`` for seconds. Task-summed operator times
(scan time, aggregation build, Python worker time) are shares of the
region's core capacity (``*_core_share`` = task seconds ÷ (wall × cores)).
"""

from __future__ import annotations

import json
import math
import os

from perfbench.tracing import (PYTHON_EVAL, is_interpreted, is_scan, node_sum,
                               self_seconds)

LEAVES = [
    "tpch_q1", "order_revenue", "frequency", "group_stats", "latest_per_key",
    "lww_state", "event_windows", "topk_per_group", "readmission_pipeline",
    "scaled_features", "exact_dedup", "minhash_near_dups",
    "simhash_near_dups", "cosine_topk", "token_count", "quality_score",
]

BENCHMARK_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "BENCHMARK.json")

with open(BENCHMARK_JSON) as _f:
    _SPEC = json.load(_f)

WORKLOADS = [w["name"] for w in _SPEC["workloads"]]
# (name, unit, better)
END_TO_END = [(m["name"], m["unit"], m["better"]) for m in _SPEC["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"], m["better"]) for m in _SPEC["per_layer"]]


def _under(name: str, prefix: str) -> bool:
    return name == prefix or name.startswith(prefix + ".")


def percentile_tail(samples: list[float]) -> dict | None:
    """The highest percentile (in steps of 5) with at least ten samples
    beyond it, with the sample count; ``None`` below 11 samples."""
    xs = sorted(samples)
    n = len(xs)
    best = None
    for p in range(50, 100, 5):
        if n - math.ceil(n * p / 100) >= 10:
            best = p
    if best is None:
        return None
    idx = min(n - 1, math.ceil(n * best / 100) - 1)
    return {"value": xs[idx], "percentile": best, "samples": n}


def compute(spans: list[dict], executions: list[dict], stages: dict[int, dict],
            wall: float, cores: int, extra: dict) -> dict[str, float]:
    """Per-layer metrics of one traced region (see module docstring)."""
    selfs = self_seconds(spans)

    def named(prefix):
        return [s for s in spans if _under(s["name"], prefix)]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def own(ss):
        return sum(selfs[s["id"]] for s in ss)

    def execs(prefix):
        return [e for e in executions
                if e["layer"] is not None and _under(e["layer"], prefix)]

    def job_wall(es):
        return sum(e["end"] - e["start"] for e in es)

    def attr_sum(ss, key):
        return sum(s["attrs"].get(key) or 0 for s in ss)

    def share(x):
        return x / wall if wall > 0 else 0.0

    def core(x):
        return x / (wall * cores) if wall > 0 else 0.0

    def hash_agg(n):
        return n["name"].startswith("HashAggregate")

    def py_eval(n):
        return n["name"].startswith(PYTHON_EVAL)

    by_id = {s["id"]: s for s in spans}

    def has_ancestor(s, prefix):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            if _under(s["name"], prefix):
                return True
        return False

    apply_spans = named("cdc.apply")
    stream_apply = [s for s in apply_spans if has_ancestor(s, "cdc.stream")]
    events_in = attr_sum(apply_spans, "events_in")
    winners = attr_sum(apply_spans, "winners")
    merge_ex = execs("lake.merge")
    stage_spans = named("lake.table.stage")
    stage_ex = execs("lake.table.stage")
    bytes_written = attr_sum(stage_spans, "bytes")
    read_ex = execs("lake.table.read_keys")
    changes_ex = execs("lake.table.changes")
    compact_spans = named("lake.table.compact")
    stream_spans = named("cdc.stream")
    reg_ex = execs("registry")
    stage_ids = {sid for e in executions for sid in e["stages"]}
    st = [stages[s] for s in stage_ids if s in stages]

    def first_agg_rows(e):
        for n in e["nodes"]:
            if hash_agg(n):
                return n["metrics"].get("number of output rows", 0.0)
        return 0.0

    m = {
        "trace.timed_wall_s": wall,
        "trace.overhead_s": extra.get("overhead_s", 0.0),
        "trace.coverage": share(sum(selfs.values())),
        "cdc.replay.self_share": share(own(named("cdc.replay"))),
        "cdc.replay.batches": extra.get("replay_batches", 0),
        "cdc.replay.layout_retries": extra.get("layout_retries", 0),
        "cdc.apply.calls": len(apply_spans),
        "cdc.apply.wall_share": share(dur(apply_spans)),
        "cdc.apply.self_share": share(own(apply_spans)),
        "cdc.apply.events_in": events_in,
        "cdc.apply.winners": winners,
        "cdc.apply.winner_ratio": winners / events_in if events_in else 0.0,
        "cdc.apply.locator_batches": sum(
            1 for s in apply_spans if s["attrs"].get("dedup_mode") == "locator"),
        "lake.merge.locator_share": share(own(named("lake.merge"))),
        "lake.merge.locator_job_share": share(job_wall(merge_ex)),
        "lake.merge.locator_scan_core_share": core(
            node_sum(merge_ex, "scan time", is_scan)),
        "lake.merge.locator_scan_rows": node_sum(
            merge_ex, "number of output rows", is_scan),
        "lake.merge.locator_agg_build_core_share": core(
            node_sum(merge_ex, "time in aggregation build", hash_agg)),
        "lake.merge.locator_shuffle_bytes": node_sum(
            merge_ex, "shuffle bytes written"),
        "lake.merge.locator_result_rows": sum(first_agg_rows(e)
                                              for e in merge_ex),
        "lake.table.stage_share": share(dur(stage_spans)),
        "lake.table.write_job_share": share(job_wall(stage_ex)),
        "lake.table.write_scan_core_share": core(
            node_sum(stage_ex, "scan time", is_scan)),
        "lake.table.write_shuffle_bytes": node_sum(
            stage_ex, "shuffle bytes written"),
        "lake.table.commit_share": share(dur(named("lake.table.commit"))),
        "lake.table.files_written": attr_sum(stage_spans, "files"),
        "lake.table.bytes_written": bytes_written,
        "lake.table.bytes_per_event": (bytes_written / events_in
                                       if events_in else 0.0),
        "lake.table.delta_files_per_bucket_max": extra.get(
            "delta_files_per_bucket_max", 0),
        "lake.table.read_keys_share": share(dur(named("lake.table.read_keys"))),
        "lake.table.read_keys_job_share": share(job_wall(read_ex)),
        "lake.table.read_keys_files_read": node_sum(
            read_ex, "number of files read", is_scan),
        "lake.table.read_keys_rows_scanned": node_sum(
            read_ex, "number of output rows", is_scan),
        "lake.table.changes_share": share(dur(named("lake.table.changes"))),
        "lake.table.changes_files_read": node_sum(
            changes_ex, "number of files read", is_scan),
        "lake.table.compact_share": share(dur(compact_spans)),
        "lake.table.compact_bytes_rewritten": attr_sum(compact_spans, "bytes"),
        "lake.table.compact_files_out": attr_sum(compact_spans, "files"),
        "cdc.stream.microbatches": extra.get("microbatches", 0),
        "cdc.stream.trigger_gap_share": share(
            dur(stream_spans) - dur(stream_apply)),
        "cdc.stream.apply_share": (dur(stream_apply) / dur(stream_spans)
                                   if stream_spans else 0.0),
        "functions.textfns.python_rows": node_sum(
            executions, "number of output rows", py_eval),
        "functions.textfns.python_bytes_sent": node_sum(
            executions, "data sent to Python workers", py_eval),
        "functions.textfns.python_run_core_share": core(node_sum(
            executions, "time to run Python workers", py_eval)),
        "functions.textfns.python_boot_core_share": core(
            node_sum(executions, "time to start Python workers", py_eval)
            + node_sum(executions, "time to initialize Python workers",
                       py_eval)),
        "cdc.metrics.append_share": share(dur(named("cdc.metrics.append"))),
        "cdc.metrics.flush_share": share(dur(named("cdc.metrics.flush"))),
    }
    for leaf in LEAVES:
        m[f"registry.{leaf}_share"] = share(dur(named(f"registry.{leaf}")))
    m.update({
        "registry.interpreted_nodes": sum(
            1 for e in reg_ex for n in e["nodes"] if is_interpreted(n)),
        "registry.shuffle_bytes": node_sum(reg_ex, "shuffle bytes written"),
        "registry.scan_rows": node_sum(reg_ex, "number of output rows",
                                       is_scan),
        "spark.sql_executions_per_op": (len(executions) / extra["ops"]
                                        if extra.get("ops") else 0.0),
        "spark.core_busy_frac": core(sum(s["run_s"] for s in st)),
        "spark.gc_core_share": core(sum(s["gc_s"] for s in st)),
        "spark.spill_bytes": sum(s["spill_bytes"] for s in st),
        "spark.failed_tasks": sum(s["failed_tasks"] for s in st),
    })
    return m
