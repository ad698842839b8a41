#!/usr/bin/env python
"""Per-query sweep over the whole registry.

    python bench.py

Runs every `all_queries()` entry at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Each run of a query is
one `perfbench.batch.one_pass`, the benchmark's own pass: plan build (with
any eager jobs inside the query's `fn`), a noop write that materialises
every row, then `toPandas` across the Arrow boundary; result caches are
cleared after it. A query's figure is the median pass time (build + noop
write) under the adaptive protocol below.

Each query's row in BENCH_DETAIL.json holds the median `build_s`,
`exec_s` and `collect_s`, the status tracker's jobs/stages/tasks and the
SQL metrics of the executed plans (`perfbench.probe.PLAN_METRICS`: scan
rows and time, shuffle and spill bytes, Arrow bytes and Python time), and
every raw run. The header records the Spark CPU count and the host's
steal time over the sweep. One JSON summary line is printed; the exit
status is 1 if any query failed.

A scale sweep is this script with SPARK_GRAFT_SF_DIR pointed at
tools/gen_sf1.py output.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from perfbench import batch, probe  # noqa: E402
from sparkstreaming_spark.session import get_spark  # noqa: E402
from sparkstreaming_spark.suite import all_queries  # noqa: E402

# --- timing protocol (asserted by tests/test_bench_coverage.py) ------------
# Sub-second rows swing 2-5x between sessions on this shared container
# (BASELINE.md "bench noise model"), which made per-row 2x adjudication
# noisy: a 0.6s row is ~60% fixed scheduling/JIT jitter. Protocol: every
# row gets RUNS_BASE warm runs; if the median lands under SUBSEC_THRESHOLD
# seconds the row gets topped up to RUNS_SUBSEC runs and re-medianed, so
# the stamped number for exactly the noise-dominated rows is a median of 5.
RUNS_BASE = 3
RUNS_SUBSEC = 5
SUBSEC_THRESHOLD = 1.0


def measure_query(run_once, runs_out: list | None = None) -> float:
    """Median wall time per the adaptive protocol: median of RUNS_BASE
    runs, topped up to RUNS_SUBSEC when the first median is sub-second.

    `runs_out`, if given, receives every raw run time — BENCH_DETAIL
    records them so drift adjudication can see WITHIN-row spread (a
    shared-host load spike shows as a 3x run spread, a real code
    regression as a uniformly shifted triple)."""
    runs = []
    for _ in range(RUNS_BASE):
        runs.append(run_once())
    med = sorted(runs)[len(runs) // 2]
    if med < SUBSEC_THRESHOLD:
        while len(runs) < RUNS_SUBSEC:
            runs.append(run_once())
        med = sorted(runs)[len(runs) // 2]
    if runs_out is not None:
        runs_out.extend(round(r, 4) for r in runs)
    return med


def sweep(spark, registry, sf_dir) -> dict[str, dict]:
    """One row per registry query: medians of the pass split, the job
    counts and the plan metrics over the runs `measure_query` takes, and
    the raw pass times. A query that raises gets an `error` row instead."""
    sc = spark.sparkContext
    pm = probe.PlanMetrics(spark)
    tracer = probe.Tracer(False)
    # warm-up: JVM, JIT and parquet footer caches, one untimed pass
    batch.one_pass(spark, registry, [next(iter(registry))], sf_dir, tracer, True, "warmup")
    pm.take()
    rows = {}
    for name in registry:
        runs: list[dict] = []

        def run_once(name: str = name, runs: list = runs) -> float:
            group = f"{name}#{len(runs)}"
            p = batch.one_pass(spark, registry, [name], sf_dir, tracer, True, group)
            if p["failed"]:
                raise RuntimeError(p["errors"][0])
            jobs, stages, tasks = probe.job_counts(sc, group)
            runs.append({
                "build_s": p["build"][name],
                "exec_s": p["exec"][name],
                "collect_s": p["collect"][name],
                "spark.jobs": jobs,
                "spark.stages": stages,
                "spark.tasks": tasks,
                **pm.take(),
            })
            return p["build"][name] + p["exec"][name]

        raw: list[float] = []
        try:
            pass_s = measure_query(run_once, raw)
        except RuntimeError as ex:
            pm.take()
            rows[name] = {"error": str(ex)}
            continue
        rows[name] = {
            "pass_s": round(pass_s, 4),
            **{k: round(statistics.median(r[k] for r in runs), 4) for k in runs[0]},
            "runs": raw,
        }
    return rows


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    steal0, t0 = probe.host_steal_s(), time.perf_counter()
    spark = get_spark("bench")
    try:
        rows = sweep(spark, all_queries(), sf_dir)
        cpus = spark.sparkContext.defaultParallelism
    finally:
        spark.stop()
    ok = [r["pass_s"] for r in rows.values() if "pass_s" in r]
    head = {
        "metric": "suite_total_sec",
        "value": round(sum(ok), 4),
        "unit": "sec",
        "sf": sf_val,
        "spark_cpus": cpus,
        "host_steal_s": round(probe.host_steal_s() - steal0, 2),
        "wall_s": round(time.perf_counter() - t0, 1),
        "n_queries": len(rows),
        "failed": len(rows) - len(ok),
    }
    with open(os.path.join(ROOT, "BENCH_DETAIL.json"), "w") as fh:
        json.dump({**head, "queries": rows}, fh, indent=1)
        fh.write("\n")
    print(json.dumps({**head, "detail": "BENCH_DETAIL.json"}))
    return 1 if head["failed"] else 0


if __name__ == "__main__":
    sys.exit(main())
