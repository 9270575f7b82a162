#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny scale (sf0.001-size tables, a
200-document corpus, a few hundred ticks).

    python3 perfbench/smoke.py

Run from the root of a checkout. Every workload must finish correct with
both --trace 0 and --trace 1 and print every metric BENCHMARK.json names;
a corrupted expected digest and a lost tick must each be reported as a
failure (correct false, failed >= 1). Exits 0 when all checks hold.
"""
import json
import os
import subprocess
import sys

ROOT = os.getcwd()
RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace, inject="none"):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "2",
           "--trace", str(trace), "--scale", "smoke", "--inject", inject]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=400)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"FAIL {workload} trace={trace} inject={inject}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    failures = []

    def check(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in [x["name"] for x in SPEC["workloads"]]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            r = run(w, trace)
            want = [m["name"] for m in SPEC[group]]
            check(r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
                  f"{w} trace={trace} correct ({r['attempted']} attempted)")
            check(sorted(r["metrics"]) == sorted(want), f"{w} trace={trace} prints every {group} metric")
    for w, inject in (("market_queries", "digest"), ("curation_batch", "digest"),
                      ("tick_stream", "drop-tick")):
        r = run(w, 0, inject)
        check(not r["correct"] and r["failed"] >= 1, f"{w} reports injected {inject} as a failure "
              f"({r['failed']} failed)")
    if failures:
        raise SystemExit(f"{len(failures)} smoke check(s) failed")
    print("smoke: all checks hold")


if __name__ == "__main__":
    main()
