"""The bench sweep must cover the whole registry: every `queries()` entry
gets a row in BENCH_DETAIL.json, so a perf regression in any operator is
visible. Round 8's silent cap (78 unbenched queries) must not regrow."""

import importlib.util
import os
from types import SimpleNamespace


def _load_bench():
    path = os.path.join(os.path.dirname(__file__), "..", "bench.py")
    spec = importlib.util.spec_from_file_location("bench", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _stub_pass(monkeypatch, bench, failing=()):
    """Replace perfbench's pass and probes: every query takes 2 s to build,
    2 s to write and 2 s to collect; a name in `failing` raises."""

    def one_pass(spark, reg, names, sf_dir, tracer, trace, group):
        assert trace and names[0] in reg
        if names[0] in failing:
            return {"failed": 1, "errors": [f"{names[0]}: ValueError: boom"]}
        return {"failed": 0, **{k: {names[0]: 2.0} for k in ("build", "exec", "collect")}}

    class Plans:
        def __init__(self, spark):
            pass

        def take(self):
            return dict.fromkeys(bench.probe.PLAN_METRICS, 0.0)

    monkeypatch.setattr(bench.batch, "one_pass", one_pass)
    monkeypatch.setattr(bench.probe, "PlanMetrics", Plans)
    monkeypatch.setattr(bench.probe, "job_counts", lambda sc, group: (1, 2, 3))


def test_sweep_rows_equal_the_registry(monkeypatch):
    """`sweep` walks the registry itself, so it covers every query by
    construction; a stubbed pass shows each row's fields."""
    from sparkstreaming_spark.suite import all_queries

    bench = _load_bench()
    registry = all_queries()
    _stub_pass(monkeypatch, bench)
    rows = bench.sweep(SimpleNamespace(sparkContext=None), registry, "sf")
    assert list(rows) == list(registry)
    row = rows[next(iter(registry))]
    assert row["pass_s"] == 4.0 and row["runs"] == [4.0] * bench.RUNS_BASE
    assert (row["build_s"], row["exec_s"], row["collect_s"]) == (2.0, 2.0, 2.0)
    assert (row["spark.jobs"], row["spark.stages"], row["spark.tasks"]) == (1, 2, 3)
    assert set(bench.probe.PLAN_METRICS) <= set(row)


def test_sweep_records_a_failing_query_and_goes_on(monkeypatch):
    """A query that raises gets an `error` row, not a time, and the queries
    after it are still timed."""
    bench = _load_bench()
    registry = dict.fromkeys(["q_ok", "q_bad", "q_after"])
    _stub_pass(monkeypatch, bench, failing={"q_bad"})
    rows = bench.sweep(SimpleNamespace(sparkContext=None), registry, "sf")
    assert rows["q_bad"] == {"error": "q_bad: ValueError: boom"}
    assert rows["q_ok"]["pass_s"] == rows["q_after"]["pass_s"] == 4.0


def test_adaptive_run_protocol_constants():
    """BASELINE.md's noise model rests on this protocol: sub-second rows
    (the noise-dominated ones) must be stamped from a deeper median."""
    bench = _load_bench()
    assert bench.RUNS_BASE >= 3
    assert bench.RUNS_SUBSEC >= 5
    assert bench.SUBSEC_THRESHOLD == 1.0


def test_measure_query_tops_up_subsecond_rows():
    bench = _load_bench()
    calls = []

    def fast():
        calls.append(1)
        return 0.2

    assert bench.measure_query(fast) == 0.2
    assert len(calls) == bench.RUNS_SUBSEC

    calls.clear()

    def slow():
        calls.append(1)
        return 5.0

    assert bench.measure_query(slow) == 5.0
    assert len(calls) == bench.RUNS_BASE


def test_measure_query_median_semantics():
    bench = _load_bench()
    seq = iter([3.0, 9.0, 6.0])  # median 6.0, no top-up
    assert bench.measure_query(lambda: next(seq)) == 6.0
    seq5 = iter([0.1, 0.9, 0.5, 0.3, 0.7])  # subsec -> median of 5
    assert bench.measure_query(lambda: next(seq5)) == 0.5


def test_measure_query_records_raw_runs():
    """runs_out receives every raw run so BENCH_DETAIL can expose
    within-row spread (load spike vs uniform shift)."""
    bench = _load_bench()
    vals = iter([2.0, 3.0, 4.0])
    out = []
    assert bench.measure_query(lambda: next(vals), out) == 3.0
    assert out == [2.0, 3.0, 4.0]
