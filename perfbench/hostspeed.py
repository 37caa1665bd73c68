"""Host speed, sampled on every CPU for the whole run.

On a host whose CPUs are hyperthreads shared with other tenants, each
CPU runs at one of two speeds, about 1.4x apart, depending on whether
its sibling thread is busy, and the mix of fast and slow CPUs drifts
from second to second and over minutes. Every timing of a run moves
with that mix, so the benchmark samples it while it measures: one
process pinned to each CPU, at the lowest priority, times a short fixed
Python loop every ``PERIOD_S`` in its own CPU time
(``time.thread_time``, which leaves out the time it waits for the CPU,
so the engine's own load does not enter the reading). The samples of a
timed interval give the host's speed over that interval.

The probe processes are forked before the engine starts any thread and
run until ``stop``.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import statistics
import time

# Iterations of the probe loop: about 5 ms of CPU on a fast CPU.
LOOP_N = 75_000
PERIOD_S = 0.25
# A mean probe reading of exactly this many seconds is the reference
# speed the end-to-end timings are scaled to:
#   t_reported = t_measured * REF_S / mean reading over the interval.
REF_S = 0.005


def _loop(n: int) -> int:
    s = 0
    for i in range(n):
        s += i * i
    return s


def _probe_main(conn, cpu: int) -> None:
    os.sched_setaffinity(0, {cpu})
    os.nice(19)
    samples = []
    while not conn.poll(PERIOD_S):
        t0, c0 = time.perf_counter(), time.thread_time()
        _loop(LOOP_N)
        c1, t1 = time.thread_time(), time.perf_counter()
        samples.append(((t0 + t1) / 2, c1 - c0))
    conn.recv()
    conn.send(samples)


class HostProbe:
    """One pinned probe process per CPU of the current affinity set.

    Sample times are on the ``time.perf_counter`` clock, which is
    system-wide on Linux, so they compare with the worker's timestamps.
    """

    def __init__(self) -> None:
        ctx = mp.get_context("fork")
        self._procs = []
        for cpu in sorted(os.sched_getaffinity(0)):
            parent, child = ctx.Pipe()
            p = ctx.Process(target=_probe_main, args=(child, cpu), daemon=True)
            p.start()
            self._procs.append((p, parent))
        self.samples: list[tuple[float, float]] = []

    def stop(self) -> list[tuple[float, float]]:
        """End sampling; return every CPU's (time, loop CPU seconds) samples."""
        for p, conn in self._procs:
            try:
                conn.send(None)
                self.samples.extend(conn.recv())
            except (OSError, EOFError):
                pass
            p.join(timeout=5)
            if p.is_alive():
                p.kill()
                p.join()
        self._procs = []
        self.samples.sort()
        return self.samples


def reading(samples: list[tuple[float, float]], start: float, end: float) -> float | None:
    """Mean loop time of the samples taken in [start, end], or None."""
    inside = [dt for t, dt in samples if start <= t <= end]
    return statistics.fmean(inside) if inside else None


def scale(samples: list[tuple[float, float]], start: float, end: float) -> float:
    """``REF_S`` over the mean reading in [start, end]: the factor that
    turns a time measured over that interval into one at the reference
    speed. An interval shorter than a sampling period takes the mean of
    the whole run."""
    r = reading(samples, start, end)
    if r is None:
        r = reading(samples, float("-inf"), float("inf"))
    if r is None:
        raise RuntimeError("the host speed probe took no samples")
    return REF_S / r


def scale_pass(p: dict, samples: list[tuple[float, float]]) -> dict:
    """A pass record with its wall time and step latencies at the
    reference speed."""
    f = scale(samples, p["start"], p["end"])
    return p | {
        "wall": p["wall"] * f,
        "steps": [s | {"latency": s["latency"] * f} for s in p["steps"]],
    }
