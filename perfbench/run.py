"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload gwas_pipeline --seed 42 \
        --seconds 10 --trace 0

Run from the repository root. One run checks the workload's reference
tables in ``perfbench/data/`` against their checksums, starts a fresh
worker process (``worker.py``) that sets up the Spark session and takes
one cold pass, untimed warm-up passes and timed warm passes (in an order
``--seed`` permutes) over the workload's steps, samples the resident memory
of the worker's process tree, checks every step's output against its
DuckDB oracle, and prints a readable report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same workload with spans and Spark counters around every call into the
engine, reports the per-layer metrics and writes the full trace to
``.perfbench/traces/``. Everything else the run writes lives under
``.perfbench/run-<pid>/`` and is removed when it ends. The command exits
non-zero when a step raises or returns a wrong result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import hostspeed
from hostspeed import HostProbe
from worker import descendants

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
DEFAULT_SEED = 42
# The worker must finish well inside the 180 s a run may take.
WORKER_TIMEOUT_S = 160
RSS_SAMPLE_S = 0.1

# Per-layer metrics every traced run reports, with units. Per-step
# numbers (step.<key>.build_s / exec_s) differ by workload and go to the
# trace file and the readable report.
PER_LAYER = {
    "session.start_s": "s",
    "session.job_floor_s": "s",
    "session.release_s": "s",
    "plans.build_s": "s",
    "plans.cold_build_s": "s",
    "plans.build_jobs": "count",
    "plans.memo_hit_ratio": "ratio",
    "exec.wall_s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.input_mb": "MB",
    "exec.gc_s": "s",
    "exec.failed_tasks": "count",
    "sources.output_mb": "MB",
    "sources.output_files": "count",
    "streaming.build_s": "s",
    "cli.config_s": "s",
    "cli.resolve_s": "s",
    "cpu.util": "ratio",
    "cpu.driver_py_s": "s",
    "cpu.jvm_s": "s",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
    "trace.self_pass_s": "s",
    "trace.self_step_s": "s",
    "process.peak_rss_mb": "MB",
    "host.probe_s": "s",
}


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssSampler(threading.Thread):
    """Samples the summed RSS of a process and its descendants, and
    remembers every descendant it saw."""

    def __init__(self, pid: int) -> None:
        super().__init__(daemon=True)
        self.pid = pid
        self.peak_mb = 0.0
        self.seen: set[int] = set()
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(RSS_SAMPLE_S):
            pids = [self.pid, *descendants(self.pid)]
            self.seen.update(pids[1:])
            self.peak_mb = max(self.peak_mb, sum(_rss_mb(p) for p in pids))

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap(pids: set[int], grace_s: float = 15.0) -> None:
    """Wait for processes the worker left behind (the JVM exits shortly
    after its Python driver); kill whatever outlives the grace period."""
    deadline = time.monotonic() + grace_s
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _kill_tree(proc: subprocess.Popen) -> None:
    for pid in [*descendants(proc.pid), proc.pid]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def worker_env(tmp: str) -> dict[str, str]:
    """The production profile ``bench.py`` uses, with every scratch path
    inside the run directory."""
    env = dict(os.environ)
    env.pop("GENTROPY_SPARK_APPROX_PERCENTILES", None)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    env.update(
        SPARK_GRAFT_CPUS=str(_nproc()),
        GENTROPY_SPARK_NATIVE_SUMS="1",
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        TMPDIR=os.path.join(tmp, "tmp"),
        PYTHONPATH=os.pathsep.join([ROOT, env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    return env


def verify_data(sf: float) -> str:
    """Directory of the reference tables at scale ``sf``, after checking
    every file in it against ``data/SHA256SUMS``."""
    sub = f"sf{sf}"
    with open(os.path.join(DATA, "SHA256SUMS")) as fh:
        sums = {name: digest for digest, name in (line.split() for line in fh)}
    want = {n: d for n, d in sums.items() if n.startswith(sub + "/")}
    have = {f"{sub}/{n}" for n in os.listdir(os.path.join(DATA, sub))}
    if set(want) != have:
        raise RuntimeError(f"data/{sub} holds {sorted(have)}, expected {sorted(want)}")
    for name, digest in want.items():
        with open(os.path.join(DATA, name), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != digest:
                raise RuntimeError(f"data/{name} does not match data/SHA256SUMS")
    return os.path.join(DATA, sub)


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def run_worker(job: dict, tmp: str) -> tuple[dict, float, float, float, list]:
    """Start the worker, wait for it; return (result, spawn wall time,
    spawn ``perf_counter`` time, peak RSS MB, host speed samples)."""
    job_path = os.path.join(tmp, "job.json")
    with open(job_path, "w") as fh:
        json.dump(job, fh)
    log_path = os.path.join(tmp, "worker.log")
    probe = HostProbe()  # forked before this process starts any thread
    try:
        with open(log_path, "w") as log:
            t_spawn, t_spawn_clock = time.time(), time.perf_counter()
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), job_path],
                cwd=tmp, env=worker_env(tmp), stdout=log, stderr=log,
            )
            sampler = RssSampler(proc.pid)
            sampler.start()
            try:
                code = proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                sampler.stop()
                if proc.poll() is None:
                    _kill_tree(proc)
                _reap(sampler.seen)
    finally:
        samples = probe.stop()
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise RuntimeError(
            f"worker {'timed out' if code is None else f'exited with {code}'}"
        )
    with open(job["result_path"]) as fh:
        return json.load(fh), t_spawn, t_spawn_clock, sampler.peak_mb, samples


def _terminate(*_) -> None:
    """Turn a termination request into SystemExit, so the cleanup in
    ``main`` stops the worker's process tree and removes the run
    directory; a repeated request must not cut that cleanup short."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(143)


def print_steps(passes: list[dict]) -> None:
    """Per-step cold latency and median warm latency of the untraced passes."""
    cold = {s["key"]: s["latency"] for p in passes if p["kind"] == "cold" for s in p["steps"]}
    for key, t_cold in cold.items():
        warm = [s["latency"] for p in passes if p["kind"] == "warm" and not p["traced"]
                for s in p["steps"] if s["key"] == key and s["ok"]]
        med = f"{statistics.median(warm):.3f}" if warm else "-"
        print(f"step {key} cold {t_cold:.3f} s, warm median {med} s")
    for kind in ("warmup", "warm"):
        walls = [f"{p['wall']:.3f}" for p in passes if p["kind"] == kind and not p["traced"]]
        print(f"{kind} pass walls (s, in run order): {' '.join(walls)}")
    for i, p in enumerate(passes):
        steps = " ".join(f"{s['key']} {s['latency']:.3f}" for s in p["steps"])
        print(f"pass {i} {p['kind']}{' traced' if p['traced'] else ''}: {steps}")


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)

    if not os.path.isfile(os.path.join(ROOT, "gentropy_spark", "__init__.py")):
        print(f"perfbench: no gentropy_spark package under {ROOT}", file=sys.stderr)
        return 2
    import check
    import duckdb
    from metrics import END_TO_END, REPORTED, step_counts, summarise

    w = WORKLOADS[args.workload]
    base = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        data_dir = verify_data(w.sf)
        job = {
            "workload": w.name,
            "seed": args.seed,
            "trace": args.trace,
            "seconds": args.seconds,
            "data_dir": data_dir,
            "tmp_dir": tmp,
            "result_path": os.path.join(tmp, "result.json"),
        }
        result, t_spawn, t_spawn_clock, peak_mb, speed = run_worker(job, tmp)
        probe_s = hostspeed.reading(speed, float("-inf"), float("inf"))
        if probe_s is None:
            raise RuntimeError("the host speed probe took no samples")

        con = check.oracle_connection(data_dir, os.path.join(tmp, "duckdb"))
        wrong = {}
        for key, r in sorted(result["results"].items()):
            try:
                reason = check.check_step(con, r["path"], r["oracle"])
            except duckdb.Error as e:
                reason = f"the check raised {e!r}"
            if reason:
                wrong[key] = reason
        con.close()
        runs, raised = step_counts(result["passes"])
        checks = len(result["results"])
        attempted, failed = runs + checks, raised + len(wrong)

        env = result["env"] | {"seed": args.seed, "git_commit": git_commit(),
                               "workload": w.name, "sf": w.sf,
                               "seconds": args.seconds}
        print("env " + json.dumps(env, sort_keys=True))
        print("setup_parts " + json.dumps(result["setup_parts"]))
        print(f"host.probe_s {probe_s:.6f} s (mean of {len(speed)} probe samples on "
              f"{_nproc()} CPUs; {hostspeed.REF_S} s is the reference speed)")
        print_steps(result["passes"])
        for key, reason in wrong.items():
            print(f"check FAILED {key}: {reason}")
        print(f"fail_ratio {failed / attempted:.4f} ratio "
              f"({failed} failed of {runs} step runs + {checks} checks)")

        if args.trace:
            layers = result["layers"] | {"process.peak_rss_mb": peak_mb,
                                         "host.probe_s": probe_s}
            metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
            for k in sorted(layers):
                if k.startswith("step."):
                    print(f"{k} {layers[k]:.4f} s")
            for k, m in metrics.items():
                print(f"{k} {m['value']:.4f} {m['unit']}")
            traces = os.path.join(base, "traces")
            os.makedirs(traces, exist_ok=True)
            trace_path = os.path.join(traces, f"{w.name}-seed{args.seed}.json")
            with open(trace_path, "w") as fh:
                json.dump({"env": env, "layers": layers, "passes": result["passes"],
                           "spans": result["spans"]}, fh)
            print(f"trace written to {os.path.relpath(trace_path, ROOT)}")
        else:
            setup_s = result["ready_wall"] - t_spawn
            raw, _ = summarise(setup_s, result["passes"])
            values, samples = summarise(
                setup_s * hostspeed.scale(speed, t_spawn_clock, result["ready_clock"]),
                [hostspeed.scale_pass(p, speed) for p in result["passes"]],
            )
            metrics = {k: {"value": values[k], "unit": REPORTED[k][0]} for k in END_TO_END}
            for k, (unit, _what) in REPORTED.items():
                v, r = ("-" if x is None else f"{x:.4f}" for x in (values[k], raw[k]))
                print(f"{k} {v} {unit} ({samples[k]}; {r} as measured)")
            # Peak RSS follows the JVM's adaptive heap sizing and spreads
            # too widely between runs to gate on; it is reported here and
            # as a per-layer metric.
            print(f"peak_rss_mb {peak_mb:.1f} MB (max of {RSS_SAMPLE_S} s /proc samples)")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)  # only when no other run or trace is in it
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
