"""Run the benchmark once per seed and report, per metric, the median and
the spread (distance between the first and third quartile, as a share of
the median), plus each run's wall time and failed share. It also gives the
spread of `cpu_s` less the CPU of the JVM's JIT compiler threads, and of
the host's steal time and the catch-up throughput, all read from the
`info:` line.

    python3 perfbench/spread.py --workload llm_curation --seeds 1-10 [--trace 0]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    lo, hi = (int(x) for x in args.seeds.split("-"))
    values: dict[str, list[float]] = {}
    for seed in range(lo, hi + 1):
        t0 = time.perf_counter()
        out = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]),
                                "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=300,
        )
        wall = time.perf_counter() - t0
        lines = out.stdout.strip().splitlines()
        if out.returncode or not lines:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            return 1
        res = json.loads(lines[-1])
        info = next((ln for ln in lines if ln.startswith("info: ")), "info: {}")
        info = json.loads(info[len("info: "):])
        shown = {k: round(v["value"], 3) for k, v in res["metrics"].items()
                 if args.trace == 0}
        print(f"seed {seed}: wall {wall:.1f}s correct={res['correct']} "
              f"failed {res['failed']}/{res['attempted']} {shown} "
              f"load1_start {info.get('load1_start', 0):.2f} "
              f"steal {info.get('host_steal_s', 0):.2f}s", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        # the same spread for figures of the info line
        if "cpu_s" in res["metrics"] and "jit_cpu_s" in info:
            values.setdefault("(info) cpu_s less jit_cpu_s", []).append(
                res["metrics"]["cpu_s"]["value"] - info["jit_cpu_s"])
        for k in ("host_steal_s", "catchup_rows_per_s"):
            if info.get(k) is not None:
                values.setdefault(f"(info) {k}", []).append(info[k])
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds.get(k)
        print(f"{k:45s} median {med:12.4f}  spread {spread:6.3f}"
              + (f"  bound {bound}" if bound is not None else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
