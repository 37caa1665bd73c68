"""End-to-end metrics from a run's pass records.

A pass record is ``{"kind": "cold" | "warmup" | "warm", "traced": bool, "wall": s,
"steps": [{"key": str, "latency": s, "ok": bool}]}``. Failed steps are
counted but never timed: their latency is left out of the step
statistics and a pass that holds one is left out of the pass
statistics. Warm-up passes are attempted and checked, never timed. A
metric with no clean sample to time has the value ``None``.
"""

from __future__ import annotations

import math
import statistics

# name -> (unit, description); the order is the print order. The first
# three are the gated end-to-end metrics of BENCHMARK.json. The step
# statistics pool steps whose latencies differ threefold, so a shift in
# host speed moves them across the edge between two steps' latencies;
# they are printed, not gated.
REPORTED = {
    "setup_s": ("s", "process start to session up, registry imported, one job done"),
    "first_pass_s": ("s", "wall time of the cold pass"),
    "pass_s": ("s", "median wall time of the warm passes"),
    "step_p50_s": ("s", "median per-step latency over the warm passes"),
    "step_tail_s": ("s", "highest percentile with >=10 warm step samples beyond it"),
}
END_TO_END = ("setup_s", "first_pass_s", "pass_s")


def tail_percentile(n: int) -> int:
    """Highest whole percentile of ``n`` samples with >=10 samples above
    its nearest-rank value; 50 when there are too few samples for any."""
    for p in range(99, 0, -1):
        if n - math.ceil(p * n / 100) >= 10:
            return p
    return 50


def nearest_rank(values: list[float], p: int) -> float:
    """Nearest-rank ``p``-th percentile of ``values``."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(p * len(ordered) / 100) - 1)]


def _clean(passes: list[dict]) -> list[dict]:
    return [p for p in passes if all(s["ok"] for s in p["steps"])]


def summarise(
    setup_s: float, passes: list[dict]
) -> tuple[dict[str, float | None], dict[str, str]]:
    """Return (metric -> value, metric -> how many samples and which percentile).

    Only untraced passes are timed; traced passes in the same run serve
    the per-layer numbers and the tracing overhead.
    """
    timed = [p for p in passes if not p["traced"]]
    cold = [p for p in timed if p["kind"] == "cold"]
    warm = [p for p in timed if p["kind"] == "warm"]
    steps = [s["latency"] for p in warm for s in p["steps"] if s["ok"]]
    cold, warm = _clean(cold), _clean(warm)
    tail_p = tail_percentile(len(steps))
    values = {
        "setup_s": setup_s,
        "first_pass_s": cold[0]["wall"] if cold else None,
        "pass_s": statistics.median(p["wall"] for p in warm) if warm else None,
        "step_p50_s": statistics.median(steps) if steps else None,
        "step_tail_s": nearest_rank(steps, tail_p) if steps else None,
    }
    samples = {
        "setup_s": "n=1",
        "first_pass_s": f"n={len(cold)}",
        "pass_s": f"n={len(warm)}",
        "step_p50_s": f"n={len(steps)}",
        "step_tail_s": f"p{tail_p} n={len(steps)}",
    }
    return values, samples


def step_counts(passes: list[dict]) -> tuple[int, int]:
    """(attempted, raised) over every pass of the run."""
    attempted = sum(len(p["steps"]) for p in passes)
    raised = sum(1 for p in passes for s in p["steps"] if not s["ok"])
    return attempted, raised
