"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload {kpi_stream,llm_curation}
        --seed N --seconds S --trace {0,1}

Run it from the repository root. Inputs are generated from the seed under
perfbench/out/, which is removed at the end. With --trace 0 the last line
holds the end-to-end metrics; with --trace 1 it holds the per-layer metrics
and the spans are written to perfbench/out/trace-<workload>-<seed>.json.
The line before it (`info:`) records the CPU count, the load average and
the figures behind the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import probe  # noqa: E402  (needs ROOT on the path)

OUT = os.path.join(ROOT, "perfbench", "out")
CPUS = str(min(4, os.cpu_count() or 1))
WARMUP_PASSES = 4
MIN_PASSES = 3


def _env(run_dir: str) -> None:
    """Before the JVM starts: Spark CPU count, driver heap, temp dirs inside
    the run directory, and the repo root importable by Python workers."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM: no hsperfdata file in the host's /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def _session(run_dir: str):
    from sparkstreaming_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # no hsperfdata file in the host's /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop(spark) -> None:
    """Stop Spark, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run_batch(spark, args, run_dir, tracer) -> dict:
    from perfbench import batch, data
    from sparkstreaming_spark.suite import all_queries

    names = batch.QUERIES
    registry = all_queries()
    sf_dir = os.path.join(run_dir, "tables")
    with tracer.span("data.generate"):
        data.write_tables(sf_dir, args.seed)
    pm = probe.PlanMetrics(spark) if args.trace else None
    with tracer.span("warmup"):
        for i in range(WARMUP_PASSES):
            batch.one_pass(spark, registry, names, sf_dir, tracer, False, f"warmup-{i}")
    if pm:
        pm.take()
    setup_s = probe.process_age_s()

    passes, layers = [], []
    t0 = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t0 < args.seconds:
        group = f"pass-{len(passes)}"
        p = batch.one_pass(spark, registry, names, sf_dir, tracer, args.trace, group)
        passes.append(p)
        if args.trace:
            jobs, stages, tasks = probe.job_counts(spark.sparkContext, group)
            layers.append({**pm.take(), "spark.jobs": jobs, "spark.stages": stages,
                           "spark.tasks": tasks})
    with tracer.span("check.oracle"):
        problems = batch.oracle_check(registry, names, sf_dir, passes)
    problems += [e for p in passes for e in p.get("errors", [])]
    walls = [p["wall_s"] for p in passes]
    # A pass's typical time: each query's median over the passes, summed, so
    # that a pause in one query of one pass does not move the figure.
    def typical(step):
        return sum(
            _median([p["build"][n] + p[step][n] for p in passes if n in p[step]])
            for n in names
        )

    e2e = {
        "setup_s": setup_s,
        # built and materialised in the engine (noop sink)
        "pass_s": typical("exec"),
        # built and held by the caller as pandas frames
        "latency_p50_s": typical("collect"),
        "cpu_s": _median([p["cpu_s"] for p in passes]),
    }
    per_layer = {}
    if args.trace:
        per_layer["suite.build_s"] = _median([sum(p["build"].values()) for p in passes])
        per_layer["operators.exec_s"] = _median([sum(p["exec"].values()) for p in passes])
        for n in names:
            ok = [p for p in passes if n in p["exec"]]
            per_layer[f"suite.build_s.{n}"] = _median([p["build"][n] for p in ok])
            per_layer[f"operators.exec_s.{n}"] = _median([p["exec"][n] for p in ok])
        for k in layers[0]:
            per_layer[k] = _median([lay[k] for lay in layers])
    info = {"passes": len(passes), "pass_walls_s": walls,
            "jit_cpu_s": _median([p["jit_cpu_s"] for p in passes])}
    return {
        "attempted": len(passes) * len(names),
        "failed": sum(p["failed"] for p in passes),
        "problems": problems,
        "e2e": e2e,
        "per_layer": per_layer,
        "info": info,
    }


def run_kpi(spark, args, run_dir, tracer) -> dict:
    from perfbench import kpi

    st = kpi.setup(spark, run_dir, args.seed, args.seconds, tracer)
    setup_s = probe.process_age_s()
    r = kpi.run(spark, st, args.seconds, tracer, args.trace)
    lat = r["latencies"]
    e2e = {
        "setup_s": setup_s,
        # a phase that never completes reads as the deadline (and fails)
        "pass_s": r["catchup_s"] or kpi.DRAIN_TIMEOUT_S,
        "latency_p50_s": _median(lat) if lat else kpi.DRAIN_TIMEOUT_S,
        "cpu_s": r["cpu_s"],
    }
    per_layer = {}
    if args.trace:
        per_layer.update(kpi.stream_metrics(r["progress"]))
        per_layer.update(r["counters"])
        per_layer["streaming.producer.split_s"] = st["split_s"]
        per_layer["sinks.upsert.call_s"] = _median(r["sink_calls"])
    info = {
        "catchup_rows_per_s": r["catchup_rows_per_s"],
        "jit_cpu_s": r["jit_cpu_s"],
        "live_segments": len(lat),
        "latency_s": lat,
        "generator_late_max_s": r["lateness_max_s"],
        "backlog_at_landing": r["backlog"],
    }
    return {
        "attempted": r["attempted"], "failed": r["failed"], "problems": r["problems"],
        "e2e": e2e, "per_layer": per_layer, "info": info,
    }


WORKLOADS = {"kpi_stream": run_kpi, "llm_curation": run_batch}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import sparkstreaming_spark  # noqa: F401  (fails outside a checkout)

    load0, steal0 = os.getloadavg()[0], probe.host_steal_s()
    run_dir = os.path.join(OUT, f"run-{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    tracer = probe.Tracer(bool(args.trace))
    spark = None
    try:
        _env(run_dir)
        with tracer.span("session.start"):
            t0 = time.perf_counter()
            spark = _session(run_dir)
            session_s = time.perf_counter() - t0
        res = WORKLOADS[args.workload](spark, args, run_dir, tracer)
        res["e2e"]["peak_rss_mb"] = probe.tree_peak_rss_mb()
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    info = {
        "workload": args.workload, "seed": args.seed, "cpus": int(CPUS),
        "host_cpus": os.cpu_count(), "load1_start": load0,
        "load1_end": os.getloadavg()[0], "host_steal_s": probe.host_steal_s() - steal0,
        "e2e": res["e2e"], "problems": res["problems"], **res["info"],
    }
    if args.trace:
        res["per_layer"]["session.start_s"] = session_s
        tracer.write(
            os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"),
            {"info": info, "per_layer": res["per_layer"]},
        )
    print("info: " + json.dumps(info))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    values = res["per_layer"] if args.trace else res["e2e"]
    print(json.dumps({
        "correct": not res["problems"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        # a layer this workload does not exercise reads 0
        "metrics": {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in spec},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
