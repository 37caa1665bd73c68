"""Benchmark worker: one fresh process runs one workload.

Started by ``run.py`` with the path of a JSON job file. It sets up the
session, takes one cold pass over the workload's steps, then untimed
warm-up passes and timed warm passes in seed-permuted order, and leaves
everything in a JSON result file. Every step's output is kept as parquet
for the output check: that of the first warm-up pass of a noop workload,
that of the last timed pass of a dag workload. It drives the engine only through its public calls:

- noop workloads: ``plans.full_registry()[key].fn(spark, data_dir)``,
  a ``noop``-sink write, ``session.release_caches()``;
- dag workloads: ``cli.run_dag(config)`` untraced; traced, the calls
  ``run_dag`` makes (``validate_config``, ``topo_order``,
  ``get_session``, ``resolve_step``, the step fn, a parquet write,
  ``release_caches``) in the same order, one span each.
"""

from __future__ import annotations

import io
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from collections.abc import Iterator
from contextlib import redirect_stdout

from spans import Tracer, children, self_times
from workloads import WORKLOADS, Workload

_CLK = os.sysconf("SC_CLK_TCK")
_MB = 1 << 20
# Trivial jobs timed for the per-job floor in the traced run.
_FLOOR_JOBS = 5
# Untimed warm passes between the cold pass and the timed ones. The
# JVM's JIT keeps compiling for several passes after the cold one: means
# of ten runs on a 4-core host had a step_dag pass at 5.5, 4.4, 4.1 and
# 3.8 s on its first four warm passes and 3.5 s after them. The run
# budget, 48 runs in 3420 s on a host that can be 1.5x slower than its
# fast state, pays for the steepest part of that curve only.
WARMUP_PASSES = 2
# Timed warm passes run for --seconds, and at least this many, so the
# median pass is taken over at least three.
MIN_TIMED_PASSES = 3
_EXEC_COUNTERS = (
    "jobs", "tasks", "shuffle_read_mb", "shuffle_write_mb", "input_mb", "gc_s",
    "failed_tasks",
)


def _ppid(pid: str) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return int(fh.read().rsplit(")", 1)[1].split()[1])
    except (OSError, ValueError, IndexError):
        return None


def descendants(pid: int) -> list[int]:
    """Every live descendant process of ``pid``."""
    parent = {int(p): _ppid(p) for p in os.listdir("/proc") if p.isdigit()}
    found, todo = [], [pid]
    while todo:
        cur = todo.pop()
        kids = [p for p, pp in parent.items() if pp == cur]
        found.extend(kids)
        todo.extend(kids)
    return found


def cpu_seconds(pid: int) -> float:
    """User + system CPU seconds of one process from /proc."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return (int(fields[11]) + int(fields[12])) / _CLK


class SparkCounters:
    """Cumulative task, shuffle, input, GC and job counters of the
    session, read from the status store after the listener bus drains."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()

    def __call__(self) -> dict[str, float]:
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        tot = dict.fromkeys(_EXEC_COUNTERS, 0.0)
        execs = store.executorList(True)
        for i in range(execs.size()):
            e = execs.apply(i)
            tot["tasks"] += e.totalTasks()
            tot["failed_tasks"] += e.failedTasks()
            tot["shuffle_read_mb"] += e.totalShuffleRead() / _MB
            tot["shuffle_write_mb"] += e.totalShuffleWrite() / _MB
            tot["input_mb"] += e.totalInputBytes() / _MB
            tot["gc_s"] += e.totalGCTime() / 1000.0
        # Job ids only rise, while the store keeps a bounded number of
        # jobs: count jobs by the newest id, never by the list's size.
        jobs = store.jobsList(None)
        tot["jobs"] = float(jobs.apply(0).jobId() + 1) if jobs.size() else 0.0
        return tot


def run_pass(order, resolve, sink, release, tracer: Tracer, kind: str,
             prepare=None) -> dict:
    """Run one pass of steps; a step that raises is recorded, not timed.

    ``prepare()`` (optional, timed inside the pass as its ``config``
    span) returns the step order; ``resolve(key)`` returns the step as a
    zero-argument builder, ``sink(key, df)`` materialises the result
    and ``release()`` frees tracked caches.
    """
    steps = []
    t_pass = time.perf_counter()
    with tracer.span("pass", key=kind):
        if prepare is not None:
            with tracer.span("config", key=kind):
                order = prepare()
        for key in order:
            t0 = time.perf_counter()
            ok = True
            try:
                with tracer.span("step", key=key):
                    with tracer.span("resolve", key=key):
                        build = resolve(key)
                    with tracer.span("build", key=key):
                        df = build()
                    with tracer.span("action", key=key):
                        sink(key, df)
                    with tracer.span("release", key=key):
                        release()
            except Exception:  # noqa: BLE001 - a failing step is a result
                traceback.print_exc()
                release()
                ok = False
            steps.append({"key": key, "latency": time.perf_counter() - t0, "ok": ok})
    t_end = time.perf_counter()
    return {
        "kind": kind,
        "traced": tracer.enabled,
        "start": t_pass,
        "end": t_end,
        "wall": t_end - t_pass,
        "steps": steps,
    }


class _LineClock(io.TextIOBase):
    """stdout stand-in that stamps each completed ``step ...`` line."""

    def __init__(self) -> None:
        self.stamps: list[float] = []
        self._buf = ""

    def write(self, s: str) -> int:
        now = time.perf_counter()
        self._buf += s
        while "\n" in self._buf:
            line, self._buf = self._buf.split("\n", 1)
            if line.startswith("step "):
                self.stamps.append(now)
        return len(s)


def run_dag_pass(cfg_path: str, order: list[str], kind: str) -> dict:
    """One untraced pass: a single ``cli.run_dag`` call.

    Step latency is the time between consecutive step-completion lines
    ``run_dag`` prints (the first includes config validation). A raised
    error fails the next step in ``order``; the steps after it are not
    attempted.
    """
    from gentropy_spark.cli import run_dag

    clock = _LineClock()
    t0 = time.perf_counter()
    ok = True
    try:
        with redirect_stdout(clock):
            run_dag(cfg_path)
    except Exception:  # noqa: BLE001 - a failing step is a result
        traceback.print_exc()
        ok = False
    wall = time.perf_counter() - t0
    steps, prev = [], t0
    for stamp, name in zip(clock.stamps, order):
        steps.append({"key": name, "latency": stamp - prev, "ok": True})
        prev = stamp
    if not ok:
        steps.append({"key": order[len(steps)], "latency": t0 + wall - prev, "ok": False})
    return {"kind": kind, "traced": False, "start": t0, "end": t0 + wall, "wall": wall,
            "steps": steps}


def dag_config(w: Workload, order: list[str], data_dir: str, out_dir: str) -> dict:
    """Pipeline config whose step names sort into ``order``.

    ``run_dag`` runs ready steps alphabetically, so a rank prefix on each
    step name sets the order; the workload's dependencies still hold.
    """
    names = {key: f"{i:02d}_{key}" for i, key in enumerate(order)}
    after = dict(w.after)
    return {
        "sf_dir": data_dir,
        "out_dir": out_dir,
        "steps": {
            names[key]: {"query": key}
            | ({"after": [names[a] for a in after[key]]} if key in after else {})
            for key in order
        },
    }


def step_key(name: str) -> str:
    """Registry key of a DAG step name (``07_text_quality``)."""
    return name.split("_", 1)[1]


def seeded_orders(w: Workload, seed: int) -> Iterator[list[str]]:
    """Step order of each warm pass: a seeded shuffle of the steps.

    DAG steps are independent except for the workload's dependencies,
    which ``run_dag``'s topological order still enforces.
    """
    rng = random.Random(seed)
    while True:
        order = list(w.steps)
        rng.shuffle(order)
        yield order


class Runner:
    """Holds the session and registry of one worker process."""

    def __init__(self, w: Workload, spark, registry, data_dir: str, tmp: str):
        self.w, self.spark, self.registry = w, spark, registry
        self.data_dir, self.tmp = data_dir, tmp
        self._last_df: dict[str, object] = {}
        self.memo_hits = 0
        self.memo_calls = 0

    def _track(self, key: str, df):
        """Count calls that returned the previous pass's DataFrame object."""
        self.memo_calls += 1
        self.memo_hits += self._last_df.get(key) is df
        self._last_df[key] = df
        return df

    def run(self, order: list[str], kind: str, tr: Tracer, n: int,
            check: bool = False) -> dict:
        """One pass; ``check`` makes a noop workload's pass write each
        result as parquet under ``check_dir`` for the output check."""
        from gentropy_spark.session import release_caches

        if self.w.sink == "noop":

            def resolve(key):
                fn = self.registry[key].fn
                return lambda: self._track(key, fn(self.spark, self.data_dir))

            def sink(key, df):
                if check:
                    df.write.parquet(os.path.join(self.check_dir, key))
                else:
                    df.write.format("noop").mode("overwrite").save()

            return run_pass(order, resolve, sink, release_caches, tr, kind)

        from gentropy_spark.cli import topo_order

        cfg = dag_config(self.w, order, self.data_dir, self.out_dir(n))
        cfg_path = os.path.join(self.tmp, f"dag{n}.json")
        with open(cfg_path, "w") as fh:
            json.dump(cfg, fh)
        first_span = len(tr.spans)
        if tr.enabled:
            rec = self._traced_dag(cfg_path, kind, tr)
        else:
            rec = run_dag_pass(cfg_path, topo_order(cfg["steps"]), kind)
        for s in rec["steps"]:
            s["key"] = step_key(s["key"])
        for s in tr.spans[first_span:]:
            if s["name"] not in ("pass", "config"):
                s["key"] = step_key(s["key"])
        return rec

    def _traced_dag(self, cfg_path: str, kind: str, tr: Tracer) -> dict:
        from gentropy_spark.cli import topo_order
        from gentropy_spark.config import resolve_step, validate_config
        from gentropy_spark.session import get_session, release_caches

        cfg: dict = {}

        def prepare():
            with open(cfg_path) as fh:
                cfg.update(json.load(fh))
            errors = validate_config(cfg)
            if errors:
                raise ValueError(f"invalid benchmark config: {errors}")
            order = topo_order(cfg["steps"])
            get_session(app_name="gentropy_spark.dag")
            return order

        def resolve(name):
            step = cfg["steps"][name]
            fn = resolve_step(step["query"], step.get("params", {}))
            return lambda: self._track(step_key(name), fn(self.spark, cfg["sf_dir"]))

        def sink(name, df):
            df.write.mode("overwrite").parquet(os.path.join(cfg["out_dir"], name))

        return run_pass(None, resolve, sink, release_caches, tr, kind, prepare)

    @property
    def check_dir(self) -> str:
        return os.path.join(self.tmp, "check")

    def out_dir(self, n: int) -> str:
        return os.path.join(self.tmp, f"out{n}")


def main(job_path: str) -> int:
    with open(job_path) as fh:
        job = json.load(fh)
    w = WORKLOADS[job["workload"]]
    traced = bool(job["trace"])
    data_dir, tmp = job["data_dir"], job["tmp_dir"]

    t_start = time.perf_counter()
    from gentropy_spark import session as session_mod
    from gentropy_spark.session import get_session

    conf = {"spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"}
    spark = get_session(app_name=f"perfbench.{w.name}", extra_conf=conf)
    t_session = time.perf_counter()
    from gentropy_spark.plans import full_registry

    registry = full_registry()
    spark.range(1).count()
    ready_wall = time.time()
    t_ready = time.perf_counter()

    tracer = Tracer(traced, SparkCounters(spark) if traced else None)
    untraced = Tracer(False)
    layers: dict[str, float] = {}
    if traced:
        layers["session.start_s"] = t_session - t_start
        floor = []
        for _ in range(_FLOOR_JOBS):
            t0 = time.perf_counter()
            spark.range(1).count()
            floor.append(time.perf_counter() - t0)
        layers["session.job_floor_s"] = statistics.median(floor)

    runner = Runner(w, spark, registry, data_dir, tmp)
    passes = []
    orders = seeded_orders(w, job["seed"])
    cpu0 = (cpu_seconds(os.getpid()), _child_cpu(), time.perf_counter())
    with tracer.span("run", key=w.name):
        passes.append(runner.run(list(w.steps), "cold", tracer, 0))
        for n in range(1, WARMUP_PASSES + 1):
            passes.append(runner.run(next(orders), "warmup", untraced, n, check=n == 1))
            shutil.rmtree(runner.out_dir(n - 1), ignore_errors=True)
        n = WARMUP_PASSES
        timed = 0
        t0 = time.perf_counter()
        while timed < MIN_TIMED_PASSES or time.perf_counter() - t0 < job["seconds"]:
            n += 1
            timed += 1
            # A traced run alternates untraced and traced timed passes,
            # so the tracing overhead is measured under the same
            # conditions.
            tr = tracer if traced and timed % 2 == 0 else untraced
            passes.append(runner.run(next(orders), "warm", tr, n))
            shutil.rmtree(runner.out_dir(n - 1), ignore_errors=True)
    cpu1 = (cpu_seconds(os.getpid()), _child_cpu(), time.perf_counter())
    last_out = runner.out_dir(n)

    if traced:
        layers.update(per_layer(tracer.spans, passes, runner, last_out))
        layers["cpu.driver_py_s"] = cpu1[0] - cpu0[0]
        layers["cpu.jvm_s"] = cpu1[1] - cpu0[1]
        layers["cpu.util"] = (layers["cpu.driver_py_s"] + layers["cpu.jvm_s"]) / (
            (cpu1[2] - cpu0[2]) * len(os.sched_getaffinity(0))
        )

    results = check_outputs(runner, last_out)
    with open(job["result_path"], "w") as fh:
        json.dump(
            {
                "ready_wall": ready_wall,
                "ready_clock": t_ready,
                "setup_parts": {
                    "session_s": t_session - t_start,
                    "registry_and_job_s": t_ready - t_session,
                },
                "passes": passes,
                "layers": layers,
                "spans": tracer.spans,
                "results": results,
                "env": describe_env(spark, session_mod),
            },
            fh,
        )
    spark.stop()
    return 0


def _child_cpu() -> float:
    """CPU seconds of the worker's child processes: the JVM and the
    Python workers it forks."""
    return sum(cpu_seconds(p) for p in descendants(os.getpid()))


def per_layer(spans, passes, runner: Runner, last_out: str) -> dict[str, float]:
    """Per-layer metrics: medians over the traced warm passes, the cold
    pass's build time, and the tracing overhead (median wall difference
    between each traced warm pass and the untraced one before it)."""
    st = self_times(spans)
    pass_spans = [s for s in spans if s["name"] == "pass"]
    cold = next(s for s in pass_spans if s["key"] == "cold")
    warm = [s for s in pass_spans if s["key"] == "warm"]

    def below(p, name, key=None):
        return [
            c
            for step in children(spans, p["id"])
            for c in children(spans, step["id"])
            if c["name"] == name and (key is None or c["key"] == key)
        ]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def counter(ss, k):
        return sum(s.get("counters", {}).get(k, 0.0) for s in ss)

    def per_pass(fn):
        return statistics.median(fn(p) for p in warm)

    warm_walls = [p["wall"] for p in passes if p["kind"] == "warm"]
    # Timed warm passes alternate untraced (odd) and traced (even); pairing
    # neighbours cancels the drift of a JVM still warming up.
    pairs = list(zip(warm_walls[0::2], warm_walls[1::2]))

    out = {
        "session.release_s": per_pass(lambda p: dur(below(p, "release"))),
        "plans.build_s": per_pass(lambda p: dur(below(p, "build"))),
        "plans.cold_build_s": dur(below(cold, "build")),
        "plans.build_jobs": per_pass(lambda p: counter(below(p, "build"), "jobs")),
        "plans.memo_hit_ratio": runner.memo_hits / max(1, runner.memo_calls),
        "exec.wall_s": per_pass(lambda p: dur(below(p, "action"))),
        "streaming.build_s": per_pass(
            lambda p: dur(s for s in below(p, "build") if s["key"].startswith("stream_"))
        ),
        "cli.config_s": per_pass(
            lambda p: dur(c for c in children(spans, p["id"]) if c["name"] == "config")
        ),
        "cli.resolve_s": per_pass(lambda p: dur(below(p, "resolve"))),
        "trace.pass_s": statistics.median(t for _u, t in pairs),
        "trace.overhead_s": statistics.median(t - u for u, t in pairs),
        "trace.self_pass_s": per_pass(lambda p: st[p["id"]]),
        "trace.self_step_s": per_pass(
            lambda p: sum(st[s["id"]] for s in children(spans, p["id"]) if s["name"] == "step")
        ),
    }
    for k in _EXEC_COUNTERS:
        out[f"exec.{k}"] = per_pass(lambda p, k=k: counter(below(p, "action"), k))
    mb, files = 0.0, 0
    if runner.w.sink == "dag":
        for root, _dirs, names in os.walk(last_out):
            for n in names:
                if n.endswith(".parquet"):
                    mb += os.path.getsize(os.path.join(root, n)) / _MB
                    files += 1
    out["sources.output_mb"] = mb
    out["sources.output_files"] = float(files)
    for key in runner.w.steps:
        out[f"step.{key}.build_s"] = per_pass(lambda p, k=key: dur(below(p, "build", k)))
        out[f"step.{key}.exec_s"] = per_pass(lambda p, k=key: dur(below(p, "action", k)))
    return out


def check_outputs(runner: Runner, last_out: str) -> dict:
    """Where the output check reads each step's result.

    DAG workloads check the parquet of their last timed pass; noop
    workloads that of their first warm-up pass, the one untimed pass
    that writes parquet. A step without output (it raised) gets the path
    None, which the check counts as failed. Returns key -> {"path", "oracle"}.
    """
    results: dict[str, dict] = {}
    if runner.w.sink == "dag":
        for name in os.listdir(last_out):
            results[step_key(name)] = {"path": os.path.join(last_out, name)}
    else:
        for key in runner.w.steps:
            path = os.path.join(runner.check_dir, key)
            if os.path.isdir(path):
                results[key] = {"path": path}
    for key in runner.w.steps:
        results.setdefault(key, {"path": None})["oracle"] = runner.registry[key].oracle
    return results


def describe_env(spark, session_mod) -> dict:
    """The settings and versions a result depends on."""
    import duckdb
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "driver_memory": session_mod._default_driver_mem(),
        "GENTROPY_SPARK_NATIVE_SUMS": os.environ.get("GENTROPY_SPARK_NATIVE_SUMS"),
        "GENTROPY_SPARK_APPROX_PERCENTILES": os.environ.get(
            "GENTROPY_SPARK_APPROX_PERCENTILES", "unset (exact)"
        ),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
