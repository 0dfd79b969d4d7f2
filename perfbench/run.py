"""Benchmark entry point for the CDC engine and its analytics registry.

Run from the repository root::

    python3 perfbench/run.py --workload cdc_catchup_tail --seed 1 --seconds 8 --trace 0

Workloads: ``cdc_catchup_tail`` and ``analytics_suite`` (see
``perfbench/workloads.py``), or ``all`` to run each in turn in its own
process. ``--scale smoke`` shrinks every input so a run takes seconds.

Each run prints a report line (``{"perfbench_report": ...}``: the
workload's named metrics with units, set-up and host calibration) and, as
its last line, the result object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced repetition with ``--trace 1``. The traced run also
writes its spans and attributed SQL executions to
``.perfbench_work/traces/``. All scratch data lives under
``.perfbench_work/`` in the working directory and is removed at exit.
Every process a run starts (the JVM, Spark's Python workers, the
calibration probes) is stopped and waited for before it exits, also when
SIGTERM, SIGHUP or SIGINT ends it early.

``bench.py`` stays frozen beside this benchmark; see
``perfbench/protocol.json`` for the seed protocol and the layer map.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["cdc_catchup_tail", "analytics_suite", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "smoke"], default="full")
    return ap.parse_args(argv)


def _run_all(args) -> int:
    """Run every workload in its own process, relaying their output."""
    from perfbench.layers import WORKLOADS

    rc = 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", args.scale]
        rc = max(rc, subprocess.run(cmd, check=False).returncode)
    return rc


def _adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts, so
    that processes whose parent exits first (Spark's Python worker daemon
    when the JVM ends) are re-parented here and can be stopped and reaped
    by :func:`_stop_descendants`; and turn a termination signal into an
    orderly exit through ``main``'s cleanup."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass

    def stop(signum, _frame):
        for sig in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT):
            signal.signal(sig, signal.SIG_IGN)  # let the cleanup finish
        raise SystemExit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT):
        signal.signal(sig, stop)


def _children() -> list[int]:
    me, out = os.getpid(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            out.append(int(entry))
    return out


def _reap(deadline: float) -> None:
    """Reap exited children until none is left or ``deadline`` passes."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            if time.monotonic() >= deadline:
                return
            time.sleep(0.05)


def _stop_descendants(grace_s: float = 10.0) -> None:
    """Stop every process this run started, and its descendants, and wait
    until each has ended: SIGTERM, then SIGKILL after ``grace_s``."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline:
            kids = _children()
            if not kids:
                _reap(time.monotonic())
                return
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            # orphans of the signalled processes are re-parented here and
            # show up in the next round
            _reap(time.monotonic() + 0.5)
    _reap(time.monotonic() + grace_s)


def _stop_spark(spark) -> None:
    gateway = spark.sparkContext._gateway
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        # the JVM exits when its standard input closes
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def _environment(work: str, cores: int) -> None:
    """Keep every file the engine, Spark, the JVM and DuckDB write inside
    the run's work directory, and size the session for this host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    # a fixed-size heap: the adaptive heap's growth made peak RSS vary by
    # a sixth between identical runs
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        "-XX:+UseParallelGC -Xms4g -XX:-UsePerfData "
        f"-Djava.io.tmpdir={tmp}")


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "mimic_iv_etl_spark")):
        print("perfbench: run from the repository root "
              "(mimic_iv_etl_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    if args.workload == "all":
        return _run_all(args)

    _adopt_orphans()
    from perfbench import hostcal, layers, workloads

    cores = sorted(os.sched_getaffinity(0))
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    _environment(work, len(cores))
    spark = None
    try:
        calibration = hostcal.calibrate(cores)
        sizes = workloads.SCALES[args.scale]
        t_gen = time.monotonic()
        if args.workload == "cdc_catchup_tail":
            inputs = workloads.cdc_loadgen(sizes, args.seed, len(cores), work)
        else:
            inputs = workloads.analytics_loadgen(sizes, args.seed, work)
        loadgen_s = time.monotonic() - t_gen
        workloads.reset_peak_rss()

        t_start = time.monotonic()
        from mimic_iv_etl_spark.session import get_spark_session

        spark = get_spark_session(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{len(cores)}]", shuffle_partitions=len(cores),
            extra_conf={"spark.ui.showConsoleProgress": "false",
                        "spark.sql.warehouse.dir":
                            os.path.join(work, "warehouse")})
        tracer = None
        if args.trace:
            from perfbench.tracing import Tracer

            tracer = Tracer()
        run = workloads.Run(spark, cores=len(cores), seed=args.seed,
                            seconds=args.seconds, scale=args.scale, work=work,
                            t_start=t_start, tracer=tracer)
        getattr(workloads, args.workload)(run, inputs)

        if tracer is not None:
            traces = os.path.join(root, ".perfbench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.write(os.path.join(
                traces, f"{args.workload}-seed{args.seed}-{os.getpid()}.json"),
                run.trace_dump)
        e2e = {"setup_s": run.setup_s, "peak_rss_mb": run.peak_rss_mb,
               **run.e2e}
        report = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "scale": args.scale,
            "setup_s": {"value": run.setup_s, "unit": "s"},
            "failed_frac": {"value": run.failed / max(1, run.attempted),
                            "unit": "ratio"},
            "peak_rss_mb": {"value": run.peak_rss_mb, "unit": "MB"},
            **run.report,
            "loadgen_s": loadgen_s,
            "host_calibration": calibration,
            "failures": run.failures[:20],
        }
        print(json.dumps({"perfbench_report": report}, default=str))
        if args.trace:
            metrics = {name: {"value": run.per_layer[name], "unit": unit}
                       for name, unit, _ in layers.PER_LAYER}
        else:
            metrics = {name: {"value": e2e[name], "unit": unit}
                       for name, unit, _ in layers.END_TO_END}
        print(json.dumps({"correct": run.failed == 0,
                          "attempted": run.attempted, "failed": run.failed,
                          "metrics": metrics}), flush=True)
        return 0
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            _stop_descendants()
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
