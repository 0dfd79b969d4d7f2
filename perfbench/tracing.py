"""Layer-attributed tracing for the traced benchmark run.

Spans are recorded from the benchmark's own files: the benchmark opens a span
around each call it makes into a layer, and :class:`Tracer.patch` wraps the
layer entry points that the engine calls internally (``apply_batch``, the
locator job, ``LakeTable`` stage/commit/compact, the sidecar writers) so
they open spans too. No engine source is modified; the patches are removed
when the traced region ends.

A span has a name, a start, an end, a parent and the run id shared by all
spans of one workload repetition. Spans are kept in memory and written out
once, at exit. A span's self time is its duration minus the part of it that
its child spans cover.

Spark work is attributed from the SQL status store, which is populated with
the UI off: each SQL execution goes to the innermost span open at its
submission time, and its plan-graph metrics (scan time, rows, shuffle bytes,
aggregation build time, Python-eval counters, codegen membership) and the
task metrics of its stages are summed per layer.
"""

from __future__ import annotations

import functools
import json
import re
import threading
import time
from contextlib import contextmanager

# ------------------------------------------------------------------ spans


class Tracer:
    """In-memory span recorder. Thread-safe: streaming ``foreachBatch``
    callbacks run on a Py4J callback thread, whose spans parent to the
    innermost span of the thread that opened the current run's root."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.run_id: str | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: int | None = None
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        sp = {"id": None, "name": name, "start": time.time(), "end": None,
              "parent": parent, "run": self.run_id, "attrs": dict(attrs)}
        with self._lock:
            sp["id"] = len(self.spans)
            self.spans.append(sp)
        stack.append(sp["id"])
        is_root = self._root is None
        if is_root:
            self._root = sp["id"]
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            stack.pop()
            if is_root:
                self._root = None

    def patch(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a wrapper that runs it inside a span
        named ``name``; ``on_result(span, args, result)`` may add attributes."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name) as sp:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, args, out)
                return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **(extra or {})}, f)


def install_engine_patches(tracer: Tracer) -> None:
    """Wrap the layer entry points the engine calls internally."""
    import os

    from mimic_iv_etl_spark.cdc import apply as cdc_apply
    from mimic_iv_etl_spark.cdc import metrics as cdc_metrics
    from mimic_iv_etl_spark.cdc import replay as cdc_replay
    from mimic_iv_etl_spark.cdc import stream as cdc_stream
    from mimic_iv_etl_spark.lake.table import LakeTable

    def apply_stats(sp, args, stats):
        sp["attrs"].update({k: stats.get(k) for k in
                            ("events_in", "winners", "dedup_mode", "skipped")})

    def staged(sp, args, out):
        table, entries = args[0], out[0]
        sp["attrs"]["files"] = len(entries)
        sp["attrs"]["bytes"] = sum(
            os.path.getsize(os.path.join(table.path, e["path"])) for e in entries)

    def compacted(sp, args, out):
        entries = getattr(out, "last_new_entries", None) or []
        sp["attrs"]["files"] = len(entries)
        sp["attrs"]["bytes"] = sum(
            os.path.getsize(os.path.join(out.path, e["path"])) for e in entries)

    for mod in (cdc_replay, cdc_stream):
        tracer.patch(mod, "apply_batch", "cdc.apply", apply_stats)
    # the locator/agg LWW job of lake.merge runs inside the apply module's
    # locator kernel (lww_winner_locators itself only builds a plan)
    tracer.patch(cdc_apply, "_locator_winners", "lake.merge")
    tracer.patch(LakeTable, "stage_delta", "lake.table.stage", staged)
    tracer.patch(LakeTable, "commit_delta", "lake.table.commit")
    tracer.patch(LakeTable, "compact", "lake.table.compact", compacted)
    tracer.patch(cdc_apply, "append_metrics", "cdc.metrics.append")
    tracer.patch(cdc_apply, "append_lineage", "cdc.metrics.append")
    tracer.patch(cdc_replay, "flush_sidecars", "cdc.metrics.flush")
    tracer.patch(cdc_metrics, "flush_sidecars", "cdc.metrics.flush")


def self_seconds(spans: list[dict]) -> dict[int, float]:
    """Per-span duration minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# ------------------------------------------------------- status-store harvest

_UNITS = {"": 1.0, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2,
          "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4, "ns": 1e-9, "us": 1e-6,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_METRIC_RE = re.compile(r"SQLPlanMetric\((.*?),(-?\d+),([A-Za-z]+)\)")
_MAP_SPLIT = re.compile(r"(?:^|, )(-?\d+) -> ")
_TOTAL_RE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric_value(text: str) -> float | None:
    """Numeric total of a formatted SQL metric: ``'1,234'``, ``'4.0 KiB'``
    or ``'total (min, med, max ...)\\n1.8 s (...)'``. Times come back in
    seconds, sizes in bytes; ``None`` for metrics without a total (averages
    print only their spread)."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _TOTAL_RE.match(text.strip())
    if m is None:
        return None
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _parse_scala_map(text: str) -> dict[int, str]:
    body = text[text.index("(") + 1:-1] if "(" in text else ""
    parts = _MAP_SPLIT.split(body)
    return {int(parts[i]): parts[i + 1] for i in range(1, len(parts) - 1, 2)}


def _parse_int_set(text: str) -> list[int]:
    return [int(x) for x in re.findall(r"-?\d+", text)]


def wait_listener_bus(spark) -> None:
    """Let the asynchronous listener bus deliver every pending event so the
    status stores hold the final metrics of finished executions."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def harvest_executions(spark, t_lo: float, t_hi: float) -> list[dict]:
    """SQL executions submitted in ``[t_lo, t_hi]`` (epoch seconds), each
    with its plan nodes, parsed metric totals and stage ids."""
    wait_listener_bus(spark)
    ss = spark._jsparkSession.sharedState().statusStore()
    execs = ss.executionsList()
    out = []
    for i in range(execs.size()):
        e = execs.apply(i)
        sub = e.submissionTime() / 1000.0
        if not t_lo <= sub <= t_hi:
            continue
        comp = e.completionTime()
        end = comp.get().getTime() / 1000.0 if comp.isDefined() else sub
        eid = e.executionId()
        values = _parse_scala_map(ss.executionMetrics(eid).toString())
        nodes_j = ss.planGraph(eid).allNodes()
        nodes: list[dict] = []
        for j in range(nodes_j.size()):
            n = nodes_j.apply(j)
            cluster = n.getClass().getSimpleName() == "SparkPlanGraphCluster"
            if cluster:
                # allNodes lists a codegen cluster's members right before it
                for member in nodes[len(nodes) - n.nodes().size():]:
                    member["codegen"] = True
            metrics = {}
            for mname, acc, _kind in _METRIC_RE.findall(n.metrics().toString()):
                value = (parse_metric_value(values[int(acc)])
                         if int(acc) in values else None)
                if value is not None:
                    metrics[mname] = value
            nodes.append({"name": n.name(), "cluster": cluster,
                          "codegen": False, "metrics": metrics})
        out.append({"id": eid, "start": sub, "end": end, "nodes": nodes,
                    "stages": _parse_int_set(e.stages().toString())})
    return out


def harvest_stages(spark) -> dict[int, dict]:
    """Task-metric totals per stage id from the core status store."""
    wait_listener_bus(spark)
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(jvm.java.util.ArrayList(), False, False,
                             sc._gateway.new_array(jvm.double, 0),
                             jvm.java.util.ArrayList())
    out = {}
    for i in range(stages.size()):
        s = stages.apply(i)
        out[s.stageId()] = {
            "run_s": s.executorRunTime() / 1000.0,
            "gc_s": s.jvmGcTime() / 1000.0,
            "spill_bytes": s.diskBytesSpilled(),
            "failed_tasks": s.numFailedTasks(),
        }
    return out


def attribute(spans: list[dict], executions: list[dict]) -> None:
    """Set each execution's ``span`` (id) and ``layer`` (span name) to the
    innermost span open at its submission; ``None`` outside every span."""
    by_id = {s["id"]: s for s in spans}

    def depth(s):
        d = 0
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            d += 1
        return d

    depths = {s["id"]: depth(s) for s in spans}
    for ex in executions:
        best = None
        for s in spans:
            if s["start"] <= ex["start"] <= s["end"] and (
                    best is None or depths[s["id"]] > depths[best["id"]]):
                best = s
        ex["span"] = best["id"] if best is not None else None
        ex["layer"] = best["name"] if best is not None else None


# -------------------------------------------------------- plan-node helpers

PYTHON_EVAL = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
               "MapInPandas", "MapInArrow")
# plan nodes that carry no per-row operator work of their own: exchanges,
# adaptive wrappers, scans (columnar, decoded by ColumnarToRow inside
# codegen) and the write command shell
_STRUCTURAL = ("AdaptiveSparkPlan", "Exchange", "ShuffleQueryStage",
               "BroadcastQueryStage", "AQEShuffleRead", "BroadcastExchange",
               "ReusedExchange", "WriteFiles", "Execute ", "Scan ",
               "LocalTableScan", "Subquery", "ResultQueryStage",
               "TableCacheQueryStage", "InMemoryTableScan", "OverwriteByExpression",
               "AppendData", "CommandResult", "BatchScan")


def is_scan(node: dict) -> bool:
    return node["name"].startswith(("Scan ", "BatchScan", "FileScan"))


def is_interpreted(node: dict) -> bool:
    """A row-processing node outside whole-stage codegen, or a Python-eval
    node (rows leave the JVM)."""
    name = node["name"]
    if name.startswith(PYTHON_EVAL):
        return True
    if node["cluster"] or node["codegen"]:
        return False
    return not name.startswith(_STRUCTURAL)


def node_sum(executions: list[dict], metric: str, pred=lambda n: True) -> float:
    return sum(n["metrics"].get(metric, 0.0)
               for ex in executions for n in ex["nodes"] if pred(n))
