#!/usr/bin/env python3
"""Steadiness of the benchmark: run each workload N times, each in a fresh
JVM with another seed, and print per end-to-end metric the median, the
quartiles and the spread (interquartile distance over the median) against
the metric's bound from BENCHMARK.json, and the mean elapsed time of a run.
A spread above a third of its bound is marked WIDE and makes the exit
status 1.

    python3 e2ebench/steady.py [--runs 10] [--first-seed 1] [--workload name ...]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append", choices=names)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for w in a.workload or names:
        values, shares, elapsed = {}, set(), []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed), "--seconds",
                                      str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.time()
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True)
            elapsed.append(time.time() - t0)
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", flush=True)
                ok = False
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            shares.add(res["failed"] / res["attempted"])
            if not res["correct"]:
                ok = False
                print("".join(line for line in p.stderr.splitlines(keepends=True)
                              if "CHECK FAILED" in line), end="", flush=True)
            print(f"{w} seed {seed}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"  {w:15s} failed share per run: {sorted(shares)}; "
              f"mean elapsed per run {statistics.mean(elapsed):.1f} s", flush=True)
        ok &= len(shares) <= 1
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            within = spread <= bounds[k] / 3
            ok &= within
            print(f"  {w:15s} {k:22s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                  f"spread {spread:6.3f}  bound {bounds[k]:.2f}  "
                  f"{'ok' if within else 'WIDE'}", flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
