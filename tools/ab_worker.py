#!/usr/bin/env python
"""One arm of the interleaved A/B harness (see ab_interleaved.py).

Hosts a SparkSession built from the library of the repo checkout given as
argv[1] and executes one query run per stdin line, reporting seconds on
stdout. The driver process interleaves runs across two workers so
shared-host load bursts hit both arms equally.

Protocol (line-oriented, blocking):
  stdin  "PING"          -> stdout "PONG"            (after session build)
  stdin  "RUN <query>"   -> stdout {"q":..., "sec":...}  (one timed run)
  stdin  "EXIT"          -> worker quits

A run is one `perfbench.batch.one_pass` over the query, the pass that
bench.py and perfbench/run.py time: plan build, noop write, `toPandas`,
result caches cleared after it; `sec` is build + noop write. The pass is
imported from the checkout this script lives in, not from argv[1], so
both arms of an A/B, and a reference commit older than perfbench/, are
timed the same way.

Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in bench.py;
AB_EXTRA_CONF — optional JSON dict of extra Spark confs (config-A/B
mode, where both arms run the same code with different session confs).
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    repo = os.path.abspath(sys.argv[1])
    os.chdir(repo)
    # the protocol from this checkout, then the library from argv[1]
    sys.path.insert(0, HERE)
    from perfbench import batch, probe

    sys.path[0] = repo
    from sparkstreaming_spark.session import get_spark
    from sparkstreaming_spark.suite import all_queries

    extra = json.loads(os.environ.get("AB_EXTRA_CONF", "{}")) or None
    spark = get_spark("ab_worker", extra_conf=extra)
    registry = all_queries()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    tracer = probe.Tracer(False)

    out = sys.stdout
    for line in sys.stdin:
        line = line.strip()
        if not line:
            continue
        if line == "EXIT":
            break
        if line == "PING":
            out.write("PONG\n")
            out.flush()
            continue
        assert line.startswith("RUN "), f"bad command: {line!r}"
        name = line[4:]
        p = batch.one_pass(spark, registry, [name], sf_dir, tracer, False, "ab")
        if p["failed"]:
            raise RuntimeError(p["errors"][0])
        sec = round(p["build"][name] + p["exec"][name], 4)
        out.write(json.dumps({"q": name, "sec": sec}) + "\n")
        out.flush()
    spark.stop()


if __name__ == "__main__":
    main()
