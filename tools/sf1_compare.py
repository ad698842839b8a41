"""Compare scale sweeps: true-sf1 (BENCH_SF1_TRUE.json) vs the
10x-replication sweep (BENCH_SF1.json) vs the sf0.1 closing bench
(BENCH_DETAIL.json), per family — the scaling-curve evidence table for
BASELINE.md.

Usage: python tools/sf1_compare.py [--top N]
"""
import json
import os
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def fam(name: str) -> str:
    for p in ("streamck", "stream", "doc_image", "doc_audio", "doc",
              "emb", "evt", "tpch", "graph", "ts", "geo", "src",
              "kpi", "cdc", "scd2", "ord", "rev", "basket", "udf", "join",
              "layout", "fuzzy"):
        if name.startswith(p):
            return p
    return "other"


def main() -> None:
    top = int(sys.argv[sys.argv.index("--top") + 1]) if "--top" in sys.argv else 12
    true_sf1 = json.load(open(f"{ROOT}/BENCH_SF1_TRUE.json"))["queries"]
    repl = json.load(open(f"{ROOT}/BENCH_SF1.json"))["queries"]
    sf01 = json.load(open(f"{ROOT}/BENCH_DETAIL.json"))["queries"]

    fams = defaultdict(lambda: [0.0, 0.0, 0.0, 0])
    for n, t in true_sf1.items():
        if t <= 0:
            print(f"ERR row in true-sf1: {n}")
            continue
        f = fams[fam(n)]
        f[0] += t
        f[1] += repl.get(n, 0) if repl.get(n, 0) and repl[n] > 0 else 0
        f[2] += sf01.get(n, 0)
        f[3] += 1
    print(f"{'family':12} {'n':>4} {'sf0.1':>9} {'true-sf1':>9} "
          f"{'x-vs-0.1':>9} {'10x-repl':>9}")
    tot = [0.0, 0.0, 0.0]
    for name, (t1, tr, t01, n) in sorted(fams.items(), key=lambda kv: -kv[1][0]):
        ratio = t1 / t01 if t01 else float("nan")
        print(f"{name:12} {n:>4} {t01:>9.1f} {t1:>9.1f} {ratio:>9.2f} {tr:>9.1f}")
        tot[0] += t1
        tot[1] += tr
        tot[2] += t01
    print(f"{'TOTAL':12} {sum(f[3] for f in fams.values()):>4} "
          f"{tot[2]:>9.1f} {tot[0]:>9.1f} {tot[0]/tot[2]:>9.2f} {tot[1]:>9.1f}")
    rows = sorted(true_sf1.items(), key=lambda kv: -kv[1])[:top]
    print(f"\ntop {top} true-sf1 rows:")
    for n, t in rows:
        print(f"  {n}: {t:.1f}s  (10x-repl {repl.get(n, float('nan'))}, "
              f"sf0.1 {sf01.get(n, float('nan'))})")


if __name__ == "__main__":
    main()
