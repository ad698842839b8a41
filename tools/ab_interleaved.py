#!/usr/bin/env python
"""Interleaved prev-vs-HEAD A/B bench — load-robust per-query adjudication.

Why: this container shares its host. Identical HEADs have measured 316s
vs 401s suite-total purely from ambient load (BASELINE.md), which makes
sequential before/after benches unable to adjudicate per-query drifts
under ~1.3x. This harness runs TWO long-lived worker processes — arm A
(this repo, HEAD) and arm B (a git worktree of a reference rev, or the
same repo with different Spark confs) — and alternates single runs of
the same query A,B,B,A,A,B,... so any load burst lands on both arms
nearly equally. The paired per-iteration ratio median is then a
load-robust estimate of the true code (or config) delta.

Usage:
  python tools/ab_interleaved.py --ref <git-rev> --queries q1,q2 [--runs 7]
  python tools/ab_interleaved.py --conf-b '{"spark.io.compression.codec":"zstd"}' \
      --queries q1,q2                       # config A/B, same code both arms

Arms: A = this checkout (HEAD). B = `git worktree` of --ref, or this
checkout with --conf-b extra session confs. Both arms time each run with
this checkout's pass (`perfbench.batch.one_pass`, see ab_worker.py), so
a --ref older than perfbench/ is timed the same way. Speedup reported is
median_B / median_A (>1 means arm A / HEAD is faster).

Runs are strictly serialized across arms (one query executing at a
time), so the two JVMs never compete for cores.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench import probe  # noqa: E402


class Worker:
    def __init__(self, name: str, repo: str, extra_conf: dict | None = None):
        self.name = name
        env = dict(os.environ)
        env["AB_EXTRA_CONF"] = json.dumps(extra_conf or {})
        # stderr goes to a file, not a pipe: a pipe nobody drains fills
        # and blocks the worker, and the file keeps a dead worker's
        # traceback for the error message
        self.err = tempfile.TemporaryFile(mode="w+")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(REPO, "tools", "ab_worker.py"), repo],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self.err,
            text=True,
            env=env,
        )

    def _cmd(self, line: str) -> str:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()
        while True:
            resp = self.proc.stdout.readline()
            if not resp:
                raise RuntimeError(
                    f"worker {self.name} died on {line!r}; stderr tail:\n"
                    + self._stderr_tail()
                )
            resp = resp.strip()
            if resp:
                return resp

    def _stderr_tail(self) -> str:
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            pass
        self.err.seek(0)
        return "\n".join(self.err.read().splitlines()[-20:])

    def ping(self) -> None:
        assert self._cmd("PING") == "PONG"

    def run(self, query: str) -> float:
        return float(json.loads(self._cmd(f"RUN {query}"))["sec"])

    def close(self) -> None:
        try:
            self.proc.stdin.write("EXIT\n")
            self.proc.stdin.flush()
            self.proc.wait(timeout=60)
        except Exception:
            self.proc.kill()
        self.err.close()


def ensure_worktree(rev: str) -> str:
    short = subprocess.check_output(
        ["git", "rev-parse", "--short", rev], cwd=REPO, text=True
    ).strip()
    path = f"/tmp/ab_ref_{short}"
    if not os.path.isdir(path):
        subprocess.check_call(
            ["git", "worktree", "add", "--detach", path, rev], cwd=REPO
        )
    return path


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True, help="comma-separated names")
    ap.add_argument("--ref", help="git rev for arm B (code A/B)")
    ap.add_argument(
        "--ref-a", help="git rev for arm A (default: this working tree)"
    )
    ap.add_argument("--conf-b", help="JSON dict of extra confs for arm B")
    ap.add_argument("--conf-a", help="JSON dict of extra confs for arm A")
    ap.add_argument("--runs", type=int, default=7)
    ap.add_argument("--out", help="write JSON results here too")
    args = ap.parse_args()
    if bool(args.ref) == bool(args.conf_b):
        ap.error("exactly one of --ref / --conf-b is required")
    queries = [q.strip() for q in args.queries.split(",") if q.strip()]

    repo_a = ensure_worktree(args.ref_a) if args.ref_a else REPO
    repo_b = ensure_worktree(args.ref) if args.ref else REPO
    conf_a = json.loads(args.conf_a) if args.conf_a else None
    conf_b = json.loads(args.conf_b) if args.conf_b else None
    steal0 = probe.host_steal_s()

    a = Worker("A(head)", repo_a, conf_a)
    b = Worker("B(ref)", repo_b, conf_b)
    try:
        a.ping()
        b.ping()
        # one unrecorded warm-up run per (arm, query): JVM/JIT, parquet
        # footer caches, Python worker pool spin-up
        for q in queries:
            a.run(q)
            b.run(q)
        times: dict[str, dict[str, list[float]]] = {
            q: {"a": [], "b": []} for q in queries
        }
        for i in range(args.runs):
            for q in queries:
                # alternate order each iteration: any slow monotonic load
                # ramp penalizes each arm on half the iterations
                order = (a, b) if i % 2 == 0 else (b, a)
                for w in order:
                    sec = w.run(q)
                    times[q]["a" if w is a else "b"].append(sec)
                print(
                    f"  iter {i} {q}: A={times[q]['a'][-1]:.3f} "
                    f"B={times[q]['b'][-1]:.3f}",
                    file=sys.stderr,
                )
    finally:
        a.close()
        b.close()

    results = {}
    for q in queries:
        ta, tb = times[q]["a"], times[q]["b"]
        paired = [y / x for x, y in zip(ta, tb)]
        results[q] = {
            "a_median": round(statistics.median(ta), 4),
            "b_median": round(statistics.median(tb), 4),
            "speedup_med_ratio": round(
                statistics.median(tb) / statistics.median(ta), 3
            ),
            "speedup_paired_median": round(statistics.median(paired), 3),
            "a_runs": [round(x, 4) for x in ta],
            "b_runs": [round(x, 4) for x in tb],
        }
    payload = {
        "arm_a": (args.ref_a or "HEAD")
        + (f" conf={args.conf_a}" if args.conf_a else ""),
        "arm_b": (args.ref or "HEAD") + (
            f" conf={args.conf_b}" if args.conf_b else ""
        ),
        "runs": args.runs,
        "host_steal_s": round(probe.host_steal_s() - steal0, 2),
        "results": results,
    }
    print(json.dumps(payload, indent=1))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(payload, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
