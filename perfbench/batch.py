"""`llm_curation`: a registry query set run as whole passes.

Each query is built (`QuerySpec.fn`, with any eager jobs inside it), fully
materialised through the noop sink, and then collected to the caller as a
pandas frame (`toPandas`, across the Arrow boundary); the cache is cleared
between queries. Each collected result is compared with the query's DuckDB
oracle on the same tables."""

from __future__ import annotations

import os
import time

import duckdb

from . import checks, data, probe

# Every query here matched its DuckDB oracle on the generated tables of 30
# seeds; README.md lists the queries left out and why.
QUERIES = [
    "doc_minhash_pairs",
    "doc_quality",
    "doc_bm25_topk",
    "emb_near_dup_cosine",
]


def one_pass(spark, registry, names, sf_dir, tracer, trace, group) -> dict:
    """Run every query once: per query build, noop-exec and collect seconds,
    and the collected frames."""
    sc = spark.sparkContext
    out = {"build": {}, "exec": {}, "collect": {}, "frames": {}, "failed": 0}
    cpu0 = probe.tree_cpu_s()
    t0 = time.perf_counter()
    with tracer.span("pass"):
        for name in names:
            if trace:
                sc.setJobGroup(group, name)
            try:
                with tracer.span("suite.build", query=name):
                    tb = time.perf_counter()
                    df = registry[name].fn(spark, sf_dir)
                    te = time.perf_counter()
                with tracer.span("operators.exec", query=name):
                    df.write.format("noop").mode("overwrite").save()
                    tc = time.perf_counter()
                with tracer.span("collect", query=name):
                    out["frames"][name] = df.toPandas()
                out["build"][name] = te - tb
                out["exec"][name] = tc - te
                out["collect"][name] = time.perf_counter() - tc
            except Exception as ex:  # counted, and the run is not correct
                out["failed"] += 1
                out.setdefault("errors", []).append(f"{name}: {type(ex).__name__}: {ex}")
            spark.catalog.clearCache()
    out["wall_s"] = time.perf_counter() - t0
    cpu1 = probe.tree_cpu_s()
    out["cpu_s"], out["jit_cpu_s"] = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
    return out


def oracle_check(registry, names, sf_dir, passes) -> list[str]:
    """Compare every collected result of the timed passes with the query's
    DuckDB oracle on the same tables."""
    con = duckdb.connect()
    for t in data.SIZES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
    problems = []
    for name in names:
        want = con.sql(registry[name].oracle).df()
        for p in passes:
            if name in p["frames"]:
                problems += checks.oracle_problems(name, p["frames"][name], want)
    con.close()
    return sorted(set(problems))
