"""Tests of the benchmark's own contract (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import subprocess
import time

import pytest

import check
import hostspeed
from metrics import END_TO_END, REPORTED, step_counts, summarise, tail_percentile
from run import PER_LAYER, verify_data
from spans import Tracer, children, self_times
from worker import dag_config, run_dag_pass, run_pass, seeded_orders
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _fake_pass(keys, fail=(), sleep=0.0, tracer=None, kind="warm"):
    def resolve(key):
        def build():
            if key in fail:
                raise RuntimeError(f"step {key} made to fail")
            time.sleep(sleep)
            return key

        return build

    return run_pass(
        keys, resolve, lambda _k, _df: time.sleep(sleep), lambda: None,
        tracer or Tracer(False), kind,
    )


def test_metric_names_match_benchmark_json():
    bench = _bench()
    assert [m["name"] for m in bench["end_to_end"]] == list(END_TO_END)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {
        k: REPORTED[k][0] for k in END_TO_END
    }
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)

    passes = [_fake_pass(["a", "b"], kind="cold")] + [
        _fake_pass(["a", "b"]) for _ in range(3)
    ]
    values, samples = summarise(1.5, passes)
    assert list(values) == list(REPORTED) == list(samples)
    assert set(END_TO_END) <= set(REPORTED)


def test_failed_step_is_counted_and_not_timed():
    keys = ["a", "slow", "b"]
    passes = [_fake_pass(keys, sleep=0.001, kind="cold")]
    passes += [_fake_pass(keys, sleep=0.001) for _ in range(3)]
    # The failing step would otherwise be the slowest one.
    failing = _fake_pass(keys, fail={"slow"}, sleep=0.001)
    failing["steps"][1]["latency"] = 99.0
    failing["wall"] = 99.0
    passes.append(failing)

    attempted, raised = step_counts(passes)
    assert (attempted, raised) == (15, 1)
    values, samples = summarise(1.0, passes)
    assert values["pass_s"] < 1.0
    assert values["step_tail_s"] < 1.0
    assert samples["pass_s"] == "n=3"
    assert samples["step_p50_s"] == "n=11"


def test_dag_pass_counts_the_failing_step(monkeypatch):
    import gentropy_spark.cli as cli

    def fake_run_dag(_path):
        print("step 00_a (a) -> out/00_a")
        raise RuntimeError("step 01_b made to fail")

    monkeypatch.setattr(cli, "run_dag", fake_run_dag)
    rec = run_dag_pass("unused.json", ["00_a", "01_b", "02_c"], "warm")
    assert [(s["key"], s["ok"]) for s in rec["steps"]] == [
        ("00_a", True),
        ("01_b", False),
    ]


def test_traced_step_spans_account_for_pass_wall():
    tracer = Tracer(True)
    rec = _fake_pass(["a", "b", "c"], sleep=0.01, tracer=tracer)
    spans = tracer.spans
    st = self_times(spans)
    (pass_span,) = [s for s in spans if s["name"] == "pass"]
    steps = children(spans, pass_span["id"])
    assert [s["key"] for s in steps] == ["a", "b", "c"]
    step_total = sum(s["end"] - s["start"] for s in steps)
    # The pass's own time outside its step spans is the tracing cost.
    assert 0 <= st[pass_span["id"]] < 0.005
    assert abs(rec["wall"] - step_total) < 0.005
    for s in steps:
        names = [c["name"] for c in children(spans, s["id"])]
        assert names == ["resolve", "build", "action", "release"]
        assert st[s["id"]] < 0.002


def test_tail_percentile_keeps_ten_samples_beyond():
    for n in (11, 21, 30, 100, 1000):
        p = tail_percentile(n)
        assert n - -(-p * n // 100) >= 10
    assert tail_percentile(100) == 90


def test_seeded_orders_and_dag_config():
    from gentropy_spark.cli import topo_order

    w = WORKLOADS["step_dag"]
    a = list(itertools.islice(seeded_orders(w, 7), 4))
    assert a == list(itertools.islice(seeded_orders(w, 7), 4))
    assert a != list(itertools.islice(seeded_orders(w, 8), 4))
    for order in a:
        cfg = dag_config(w, order, "data", "out")
        names = [n.split("_", 1)[1] for n in topo_order(cfg["steps"])]
        assert sorted(names) == sorted(w.steps)
        for key, deps in w.after:
            assert all(names.index(d) < names.index(key) for d in deps)


def test_reference_tables_match_checksums():
    for w in WORKLOADS.values():
        data_dir = verify_data(w.sf)
        assert os.path.dirname(data_dir) == os.path.join(HERE, "data")


def test_no_clean_pass_gives_no_timing():
    passes = [_fake_pass(["a"], fail={"a"}, kind=k) for k in ("cold", "warm", "warm")]
    values, samples = summarise(1.0, passes)
    assert values["setup_s"] == 1.0
    assert all(values[k] is None for k in REPORTED if k != "setup_s")
    assert samples["pass_s"] == "n=0"


def test_rows_match_tolerance():
    base = [(1, "x", 0.1 + 0.2, [1.0, 2.0]), (2, None, float("nan"), [])]
    near = [(2, None, float("nan"), []), (1, "x", 0.3, [1.0, 2.0 + 1e-9])]
    assert check.rows_match(base, near)
    assert not check.rows_match(base, [(1, "x", 0.31, [1.0, 2.0]), base[1]])
    assert not check.rows_match(base, base[:1])


def test_check_step_against_oracle(tmp_path):
    import duckdb

    out = tmp_path / "out"
    out.mkdir()
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT 1 AS k, 2.5 AS v) TO '{out}/part-0.parquet' (FORMAT PARQUET)"
    )
    assert check.check_step(con, str(out), "SELECT 2.5000000001 AS v, 1 AS k") is None
    assert check.check_step(con, str(out), "SELECT 1 AS k, 3.0 AS v") is not None
    assert check.check_step(con, str(out), None) is None
    nulls = tmp_path / "nulls"
    nulls.mkdir()
    con.execute(
        "COPY (SELECT * FROM (VALUES (1, NULL, 2.5), (2, 'x', NULL)) t(k, s, v)) "
        f"TO '{nulls}/part-0.parquet' (FORMAT PARQUET)"
    )
    same = "SELECT * FROM (VALUES ('x', NULL, 2), (NULL, 2.5, 1)) t(s, v, k)"
    assert check.check_step(con, str(nulls), same) is None
    other = "SELECT * FROM (VALUES ('y', NULL, 2), (NULL, 2.5, 1)) t(s, v, k)"
    assert check.check_step(con, str(nulls), other) is not None
    assert check.check_step(con, None, None) is not None


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_fails_without_the_program(tmp_path, workload):
    """In a directory holding only the benchmark, the command exits
    non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    bench = _bench()
    proc = subprocess.run(
        [*bench["command"], "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
        env={**os.environ, "PYTHONPATH": ""},
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_host_probe_samples_every_cpu_and_stops():
    probe = hostspeed.HostProbe()
    procs = [p for p, _conn in probe._procs]
    time.sleep(3 * hostspeed.PERIOD_S)
    samples = probe.stop()
    assert len(samples) >= len(procs) == len(os.sched_getaffinity(0))
    assert all(0 < dt < 1 for _t, dt in samples)
    assert not any(p.is_alive() for p in procs)
    assert probe.stop() == samples


def test_timings_scale_to_the_reference_speed():
    ref = hostspeed.REF_S
    # Twice the reference loop time in the pass's interval, the
    # reference time elsewhere.
    samples = [(t, ref) for t in (0.5, 1.5, 12.0)] + [(5.0, 2 * ref), (6.0, 2 * ref)]
    p = {"start": 4.0, "end": 8.0, "wall": 4.0,
         "steps": [{"key": "a", "latency": 3.0, "ok": True}]}
    scaled = hostspeed.scale_pass(p, samples)
    assert scaled["wall"] == pytest.approx(2.0)
    assert scaled["steps"][0]["latency"] == pytest.approx(1.5)
    assert p["wall"] == 4.0  # the measured record is left as it was
    assert hostspeed.scale(samples, 0.0, 2.0) == pytest.approx(1.0)
    # An interval without samples falls back to the whole run's mean.
    assert hostspeed.scale(samples, 2.0, 3.0) == pytest.approx(ref / (7 * ref / 5))
    with pytest.raises(RuntimeError):
        hostspeed.scale([], 0.0, 1.0)
