"""Host calibration probes recorded beside every run.

The host is shared, and its deliverable CPU and memory bandwidth drift by
tens of percent between epochs. Two short probes, one worker process pinned
to each of the workload's cores, make a slow epoch visible next to the
numbers:

- a CPU spin probe: pure-interpreter loop iterations per second, summed;
- a streaming-copy probe: bytes per second copying a 64 MiB buffer, summed.

The workers are plain child processes (``python3 hostcal.py <probe>
<core>``), each waited for before :func:`calibrate` returns; nothing they
start outlives them.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

PROBE_SECONDS = 0.3
_COPY_BYTES = 64 << 20


def _spin(core: int) -> float:
    os.sched_setaffinity(0, {core})
    n = 0
    t_end = time.perf_counter() + PROBE_SECONDS
    while time.perf_counter() < t_end:
        for _ in range(10_000):
            n += 1
    return n / PROBE_SECONDS


def _copy(core: int) -> float:
    import numpy as np

    os.sched_setaffinity(0, {core})
    src = np.ones(_COPY_BYTES // 8)
    dst = np.empty_like(src)
    np.copyto(dst, src)  # fault the pages in before timing
    n = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < PROBE_SECONDS:
        np.copyto(dst, src)
        n += 1
    return n * _COPY_BYTES / (time.perf_counter() - t0)


_PROBES = {"spin": _spin, "copy": _copy}


def _probe_all(kind: str, cores: list[int]) -> list[float]:
    """Run probe ``kind`` on every core at once, one child process each."""
    procs = []
    try:
        for core in cores:
            procs.append(subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), kind, str(core)],
                stdout=subprocess.PIPE, text=True))
        outs = [p.communicate(timeout=60)[0] for p in procs]
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    if any(p.returncode for p in procs):
        raise RuntimeError(f"host calibration probe {kind} failed")
    return [float(o) for o in outs]


def calibrate(cores: list[int]) -> dict:
    """Run both probes on ``cores`` (one worker process per core)."""
    spin = _probe_all("spin", cores)
    copy = _probe_all("copy", cores)
    return {
        "cores": len(cores),
        "cpu_spin_miter_per_s": round(sum(spin) / 1e6, 3),
        "mem_copy_gb_per_s": round(sum(copy) / 1e9, 3),
        "probe_seconds": PROBE_SECONDS,
    }


if __name__ == "__main__":
    print(_PROBES[sys.argv[1]](int(sys.argv[2])))
