"""The benchmark's two workloads.

Each workload generates its inputs from the seed (the load generator runs
before the Spark session starts and is not timed), warms up (counted in
set-up), runs its timed region for at least ``--seconds`` and a fixed number
of repetitions, and then, untimed, checks every output against an
independent oracle. In a traced run the timed region is followed by a traced
region doing the same operations with spans on; the per-layer metrics come
from that region only.

- ``cdc_catchup_tail``: the CDC engine's two ingest paths and its reads.
  Catch-up: a backlog in the ``bench.py`` log shape (8 source partitions,
  conversations = events / 20, a 20% hot conversation, 5% late events, no
  payload, one file per core) replayed through ``replay_log`` in 3 offset
  windows, several times into fresh tables; throughput-bound, no Python
  UDF, no streaming trigger, no table reads. Tail: an encoded log (JSON
  payloads, schema evolution at 50%) streamed one file per micro-batch
  through ``stream_log(decode_payload=True, normalize=True)``; then the
  table serves point lookups (``read_keys``), an incremental ``changes``
  read, one ``compact`` and the same lookups again.
- ``analytics_suite``: the 16 ``bench.py`` registry leaves into the noop
  sink over seeded star-schema tables. Touches no CDC code.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from perfbench import layers

# Sizes per scale. The full sizes keep a run, set-up and gate included, near
# a minute on a 4-core host, so the tens of runs a comparison needs stay
# affordable.
SCALES = {
    "full": {
        "backlog_events": 200_000, "catchup_warmups": 2, "catchup_reps": 3,
        "tail_events": 96_000, "tail_files": 3, "warm_tail_events": 6_000,
        "lookups": 8, "sf": 0.01,
    },
    "smoke": {
        "backlog_events": 20_000, "catchup_warmups": 0, "catchup_reps": 1,
        "tail_events": 8_000, "tail_files": 2, "warm_tail_events": 0,
        "lookups": 2, "sf": 0.002,
    },
}

# SimHash candidates come from 10 bands of 6 bits, so the leaf finds every
# pair within Hamming distance 9 and may miss a qualifying pair beyond it.
# The registry measured that no such pair exists in its own testdata; on the
# generated corpora (500 documents) one pair in about 150 lies beyond it
# (one missed pair in six seeds). The gate therefore checks this leaf's
# output for precision (every emitted pair, with its score, is an oracle
# pair) and for recall of at least SIMHASH_RECALL_FLOOR, which fails a leaf
# that loses more than a couple of the ~25 planted near-duplicates. Every
# other leaf, MinHash included, must equal its oracle.
SIMHASH_RECALL_FLOOR = 0.9
NEAR_DUP_LEAVES = ("minhash_near_dups", "simhash_near_dups")


def _schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampNTZType(), False),
    ])


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def reset_peak_rss() -> None:
    """Reset this process's VmHWM (``clear_refs`` code 5) so the load
    generator's memory does not count as the engine's."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


class Run:
    """State of one benchmark run: session, clock, operation counts."""

    def __init__(self, spark, *, cores: int, seed: int, seconds: float,
                 scale: str, work: str, t_start: float, tracer=None):
        self.spark = spark
        self.cores = cores
        self.seed = seed
        self.seconds = seconds
        self.sizes = SCALES[scale]
        self.work = work
        self.t_start = t_start
        self.tracer = tracer
        self.tracing = False
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.setup_s = None
        self.peak_rss_mb = None
        self.report: dict = {}
        self.e2e: dict = {}
        self.per_layer: dict | None = None
        self.trace_dump: dict = {}

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def end_setup(self) -> None:
        self.setup_s = time.monotonic() - self.t_start

    def end_timed(self) -> None:
        jvm = self.spark.sparkContext._gateway.proc.pid
        self.peak_rss_mb = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm)

    def op(self, what: str, fn, *args, **kwargs):
        """One operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as e:  # the run goes on; the failure is reported
            self.fail(f"{what}: {type(e).__name__}: {e}"[:300])
            return None

    def fail(self, why: str) -> None:
        self.failed += 1
        self.failures.append(why)

    def repeat(self, fn, min_reps: int) -> list:
        """Call ``fn(i)`` until ``seconds`` have passed and at least
        ``min_reps`` calls were made."""
        out = []
        t_end = time.monotonic() + self.seconds
        while len(out) < min_reps or time.monotonic() < t_end:
            out.append(fn(len(out)))
        return out

    def span(self, name: str, **attrs):
        from contextlib import nullcontext

        return (self.tracer.span(name, **attrs) if self.tracing
                else nullcontext())

    def traced(self, fn, untraced_unit_s: list[float]) -> None:
        """Run ``fn()`` once with spans on and derive the per-layer metrics.
        ``fn`` returns ``(unit_wall_s, ops, extra)``: the wall time of the
        same unit of work the untraced region timed, the operations run and
        workload gauges for :func:`layers.compute`."""
        from perfbench import tracing

        tracer = self.tracer
        tracing.install_engine_patches(tracer)
        self.tracing = True
        tracer.run_id = f"{self.seed}-traced"
        t_lo = time.time()
        try:
            unit_s, ops, extra = fn()
        finally:
            self.tracing = False
            tracer.unpatch_all()
        t_hi = time.time()
        executions = tracing.harvest_executions(self.spark, t_lo, t_hi)
        tracing.attribute(tracer.spans, executions)
        stages = tracing.harvest_stages(self.spark)
        extra["ops"] = ops
        extra["overhead_s"] = unit_s - _median(untraced_unit_s)
        self.per_layer = layers.compute(tracer.spans, executions, stages,
                                        t_hi - t_lo, self.cores, extra)
        self.trace_dump = {"executions": [
            {k: v for k, v in e.items() if k != "nodes"} for e in executions]}


def _table_frame(spark, path):
    from mimic_iv_etl_spark.lake.table import LakeTable

    return LakeTable(spark, path).read().toPandas()


# ---------------------------------------------------------- cdc_catchup_tail

def cdc_loadgen(sizes: dict, seed: int, cores: int, out: str) -> dict:
    import pyarrow.parquet as pq

    from mimic_iv_etl_spark.cdc.changelog import ChangeLogSpec, generate_change_log

    def gen(name, n, **kw):
        path = os.path.join(out, name)
        generate_change_log(path, ChangeLogSpec(
            n_events=n, n_convs=max(1_000, n // 20), n_partitions=8, **kw))
        return path

    backlog = gen("backlog", sizes["backlog_events"], seed=seed,
                  payload=False, files_per_tranche=cores)
    tail = gen("tail", sizes["tail_events"], seed=seed + 1, payload=True,
               evolve_at=0.5, files_per_tranche=sizes["tail_files"])
    warm_tail = sizes["warm_tail_events"] and gen(
        "warm_tail", sizes["warm_tail_events"], seed=seed + 2, payload=True,
        evolve_at=0.5, files_per_tranche=1)
    convs = set()
    for root, _, files in os.walk(tail):
        for f in files:
            if f.endswith(".parquet"):
                convs.update(pq.read_table(os.path.join(root, f),
                                           columns=["conv_id"])
                             .column(0).to_pylist())
    rng = np.random.default_rng(seed)
    hot = "conv-000000"  # the generator's hot conversation
    pool = sorted(convs - {hot})
    picks = rng.choice(len(pool), size=min(len(pool), sizes["lookups"] - 1),
                       replace=False)
    return {"backlog": backlog, "tail": tail, "warm_tail": warm_tail,
            "keys": [hot] + [pool[int(i)] for i in picks],
            "windows_seed": int(rng.integers(0, 2**31))}


def _replay(run: Run, log: str, tag: str) -> dict:
    from mimic_iv_etl_spark.cdc.replay import replay_log

    table = run.path(f"replay-{tag}")
    t0 = time.monotonic()
    with run.span("cdc.replay"):
        stats = replay_log(run.spark, log, table, schema=_schema(),
                           batch_offsets=max(1_000,
                                             run.sizes["backlog_events"] // 8),
                           n_buckets=run.cores)
    return {"table": table, "wall": time.monotonic() - t0, "stats": stats}


def _stream(run: Run, log: str, tag: str, on_batch=None):
    """Stream an encoded log, one file per micro-batch, into a fresh table."""
    from mimic_iv_etl_spark.cdc.stream import stream_log

    return stream_log(run.spark, log, run.path(f"tail-{tag}"),
                      run.path(f"ckpt-{tag}"), schema=_schema(),
                      n_buckets=run.cores, max_files_per_trigger=1,
                      decode_payload=True, normalize=True, on_batch=on_batch)


def _tail_cycle(run: Run, log: str, tag: str, keys: list[str],
                rng: np.random.Generator) -> dict:
    """Stream the encoded log into a fresh table, then serve reads from it."""
    done: list[float] = []
    out = {"table_path": run.path(f"tail-{tag}"), "lookups": [],
           "compacted": [], "changes_s": [], "compact_s": None}
    t0 = time.monotonic()
    with run.span("cdc.stream"):
        table = run.op("stream_log", _stream, run, log, tag,
                       lambda epoch, stats: done.append(time.monotonic()))
    out.update({"stream_s": time.monotonic() - t0,
                "microbatch_s": [b - a for a, b in zip(done, done[1:])],
                "microbatches": len(done)})
    if table is None:
        out["cycle_s"] = time.monotonic() - t0
        return out
    out["delta_max"] = max(table.delta_file_counts().values(), default=0)

    def lookup(key):
        with run.span("lake.table.read_keys"):
            t = time.monotonic()
            rows = table.read_keys([key]).toPandas()
            return key, time.monotonic() - t, rows

    def changes(a, b):
        with run.span("lake.table.changes"):
            t = time.monotonic()
            table.changes(a, b).write.format("noop").mode("overwrite").save()
            return time.monotonic() - t

    out["lookups"] = [r for r in (run.op("read_keys", lookup, k)
                                  for k in keys) if r]
    v = table.version
    a = int(rng.integers(0, v))
    s = run.op("changes", changes, a, int(rng.integers(a + 1, v + 1)))
    if s is not None:
        out["changes_s"].append(s)
    t = time.monotonic()
    if run.op("compact", table.compact) is not None:
        out["compact_s"] = time.monotonic() - t
    out["compacted"] = [r for r in (run.op("read_keys", lookup, k)
                                    for k in keys) if r]
    out["cycle_s"] = time.monotonic() - t0
    return out


def cdc_catchup_tail(run: Run, inputs: dict) -> None:
    from mimic_iv_etl_spark.cdc.oracle import duckdb_final_state
    from perfbench.oracles import mismatch, normalized_final_state

    rng = np.random.default_rng(inputs["windows_seed"])
    keys = inputs["keys"]

    def warm_reads(table):
        table.read_keys(keys[:1]).toPandas()
        table.compact().read_keys(keys[:1]).toPandas()

    # warm-up, in this order: a two-micro-batch encoded stream (it starts the
    # streaming machinery and the Python workers), the read path on the table
    # it wrote (the hot conversation is in every log), then the replays, so
    # that the timed replays follow replays: the first replay after other
    # work measured 15-50% slower than its neighbours, and replay walls kept
    # falling over the first four or five replays of a session
    if inputs["warm_tail"]:
        table = run.op("stream_log", _stream, run, inputs["warm_tail"], "warm")
        if table is not None:
            run.op("read_keys", warm_reads, table)
    for i in range(run.sizes["catchup_warmups"]):
        run.op("replay_log", _replay, run, inputs["backlog"], f"w{i}")
    for name in [f"replay-w{i}" for i in range(run.sizes["catchup_warmups"])
                 ] + ["tail-warm", "ckpt-warm"]:
        shutil.rmtree(run.path(name), ignore_errors=True)
    run.end_setup()

    reps: list[dict] = []
    cycles: list[dict] = []

    def unit(i):
        # the replays run back to back, after the warm-up replays
        reps.extend(r for r in (
            run.op("replay_log", _replay, run, inputs["backlog"], f"r{i}-{j}")
            for j in range(run.sizes["catchup_reps"])) if r)
        cycles.append(_tail_cycle(run, inputs["tail"], f"c{i}", keys, rng))
        return _median([r["wall"] for r in reps]) + cycles[-1]["cycle_s"]

    units = run.repeat(unit, min_reps=1)
    timed_reps, timed_cycles = list(reps), list(cycles)
    if run.tracer is not None:
        def traced_unit():
            r = run.op("replay_log", _replay, run, inputs["backlog"], "t")
            c = _tail_cycle(run, inputs["tail"], "t", keys, rng)
            reps.extend([r] if r else [])
            cycles.append(c)
            batches = r["stats"]["batches"] if r else 0
            # micro-batches, lookups before and after compaction, the
            # changes() read and the compaction
            ops = batches + c["microbatches"] + 2 * len(keys) + 2
            return ((r["wall"] if r else 0.0) + c["cycle_s"], ops, {
                "replay_batches": batches,
                "layout_retries": r["stats"]["layout_retries"] if r else 0,
                "microbatches": c["microbatches"],
                "delta_files_per_bucket_max": c.get("delta_max", 0)})
        run.traced(traced_unit, units)
    run.end_timed()

    backlog_want = duckdb_final_state(inputs["backlog"])
    n_backlog = run.sizes["backlog_events"]
    for r in reps:
        if r["stats"]["events_applied"] != n_backlog:
            why = f"applied {r['stats']['events_applied']} of {n_backlog}"
        else:
            why = mismatch(_table_frame(run.spark, r["table"]), backlog_want)
        if why:
            run.fail(f"replay {os.path.basename(r['table'])}: {why}")

    tail_want = normalized_final_state(inputs["tail"])
    by_key = {k: g for k, g in tail_want.groupby("conv_id")}
    for c in cycles:
        if not os.path.exists(c["table_path"]):
            continue
        why = mismatch(_table_frame(run.spark, c["table_path"]), tail_want)
        if why:
            run.fail(f"stream {os.path.basename(c['table_path'])}: {why}")
        for key, _, rows in c["lookups"] + c["compacted"]:
            why = mismatch(rows, by_key.get(key, tail_want.iloc[0:0]))
            if why:
                run.fail(f"read_keys({key}): {why}")

    eps = [r["stats"]["events_applied"] / r["wall"] for r in timed_reps]
    mb = [x for c in timed_cycles for x in c["microbatch_s"]]
    pr = [x[1] for c in timed_cycles for x in c["lookups"]]
    cr = [x[1] for c in timed_cycles for x in c["compacted"]]
    ch = [x for c in timed_cycles for x in c["changes_s"]]
    cs = [c["compact_s"] for c in timed_cycles if c["compact_s"] is not None]
    n_tail = run.sizes["tail_events"]
    streamed = [n_tail / c["stream_s"] for c in timed_cycles
                if os.path.exists(c["table_path"])]
    run.report.update({
        "replay_events_per_s": {"value": _median(eps), "unit": "events/s",
                                "samples": len(eps)},
        "stream_events_per_s": {"value": _median(streamed),
                                "unit": "events/s", "samples": len(streamed)},
        "microbatch_p50_s": {"value": _median(mb), "unit": "s",
                             "samples": len(mb)},
        "microbatch_s": mb,
        "microbatch_tail_s": {"tail": layers.percentile_tail(mb), "unit": "s"},
        "point_read_p50_s": {"value": _median(pr), "unit": "s",
                             "samples": len(pr)},
        "point_read_tail_s": {"tail": layers.percentile_tail(pr), "unit": "s"},
        "changes_read_p50_s": {"value": _median(ch), "unit": "s",
                               "samples": len(ch)},
        "compact_s": {"value": _median(cs), "unit": "s", "samples": len(cs)},
        "compacted_read_p50_s": {"value": _median(cr), "unit": "s",
                                 "samples": len(cr)},
        "replay_wall_s": [r["wall"] for r in timed_reps],
    })
    run.e2e = {"throughput_per_s": _median(eps), "op_latency_s": _median(pr),
               "secondary_throughput_per_s": _median(streamed)}


# ----------------------------------------------------------- analytics_suite

def analytics_loadgen(sizes: dict, seed: int, out: str) -> dict:
    from perfbench.datagen import write_tables

    tables = os.path.join(out, "tables")
    rows = write_tables(tables, sizes["sf"], seed)
    return {"tables": tables, "documents": rows["documents"]}


def analytics_suite(run: Run, inputs: dict) -> None:
    from mimic_iv_etl_spark import registry
    from perfbench.oracles import mismatch, not_in, registry_oracle

    tables = inputs["tables"]

    def collect(name):
        return registry.REGISTRY[name].fn(run.spark, tables).toPandas()

    def leaf(name):
        with run.span(f"registry.{name}"):
            t = time.monotonic()
            registry.REGISTRY[name].fn(run.spark, tables) \
                .write.format("noop").mode("overwrite").save()
            return time.monotonic() - t

    def one_pass():
        t = time.monotonic()
        p = {name: run.op(name, leaf, name) for name in layers.LEAVES}
        return p, time.monotonic() - t

    # set-up: one collecting pass, the leaves side by side, is the JIT
    # warm-up and yields the outputs the gate checks; the timed passes run
    # the same plans one at a time into the noop sink
    with ThreadPoolExecutor(run.cores) as ex:
        futures = {name: ex.submit(run.op, name, collect, name)
                   for name in layers.LEAVES}
        outputs = {name: f.result() for name, f in futures.items()}
    run.end_setup()

    passes = run.repeat(lambda i: one_pass(), min_reps=1)
    if run.tracer is not None:
        def traced_pass():
            p, wall = one_pass()
            return wall, len(p), {}
        run.traced(traced_pass, [w for _, w in passes])
    run.end_timed()

    # DuckDB runs each all-pairs oracle on about one core: run them side by side
    checked = [name for name, got in outputs.items() if got is not None]
    with ThreadPoolExecutor(run.cores) as ex:
        wants = dict(zip(checked, ex.map(
            lambda name: registry_oracle(tables, registry.REGISTRY[name].oracle),
            checked)))
    recall = {}
    for name in checked:
        got, want = outputs[name], wants[name]
        if name == "simhash_near_dups":
            extra = not_in(got, want)
            recall[name] = ((len(got) - extra) / len(want) if len(want)
                            else 1.0)
            why = (f"{extra} emitted rows not in the oracle" if extra
                   else f"recall {recall[name]:.3f} of {len(want)} oracle "
                        f"pairs is below {SIMHASH_RECALL_FLOOR}"
                   if recall[name] < SIMHASH_RECALL_FLOOR else None)
        else:
            why = mismatch(got, want)
        if why:
            run.fail(f"{name}: {why}")

    med = {name: _median([p[name] for p, _ in passes if p[name] is not None])
           for name in layers.LEAVES}
    total = sum(med.values())
    geomean = math.exp(sum(math.log(v) for v in med.values()) / len(med))
    run.report.update({
        "query_total_s": {"value": total, "unit": "s"},
        "query_geomean_s": {"value": geomean, "unit": "s"},
        "passes": len(passes),
        "leaf_median_s": med,
        "gate_recall": recall,
    })
    near_dup = inputs["documents"] / sum(med[n] for n in NEAR_DUP_LEAVES)
    run.report["near_dup_docs_per_s"] = {"value": near_dup, "unit": "1/s"}
    run.e2e = {"throughput_per_s": len(med) / total, "op_latency_s": geomean,
               "secondary_throughput_per_s": near_dup}
