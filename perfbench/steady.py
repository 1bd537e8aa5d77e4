#!/usr/bin/env python3
"""Steadiness of the benchmark: runs each workload N times, each with its
own seed, and prints per metric the median, the quartiles and the spread
(the distance between the quartiles as a share of the median), next to the
metric's bound from BENCHMARK.json. Run from the repository root:

    python3 perfbench/steady.py --runs 10 [--workloads backfill pit_join]
        [--first-seed 1] [--trace 0]

Each run's result line is appended to .bench_build/steady.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workloads", nargs="*")
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--trace", type=int, default=0)
    a = p.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    workloads = a.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    log = os.path.join(".bench_build", "steady.jsonl")
    os.makedirs(".bench_build", exist_ok=True)
    ok = True
    for w in workloads:
        values, shares = {}, set()
        for i in range(a.runs):
            seed = a.first_seed + i
            t0 = time.time()
            proc = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(seed),
                                    "--seconds", str(bench["run_seconds"]),
                                    "--trace", str(a.trace)],
                capture_output=True, text=True)
            wall = time.time() - t0
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{w} seed {seed}: rc={proc.returncode}\n{proc.stderr[-2000:]}")
                ok = False
                continue
            rec = json.loads(lines[-1])
            with open(log, "a") as fh:
                fh.write(json.dumps({"workload": w, "seed": seed, "wall_s": wall, **rec}) + "\n")
            ok &= rec["correct"]
            shares.add(rec["failed"] / rec["attempted"])
            for k, v in rec["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: {wall:.0f} s wall, correct={rec['correct']}, "
                  + ", ".join(f"{k}={v['value']:.4g}" for k, v in rec["metrics"].items()),
                  flush=True)
        print(f"\n{w}: {a.runs} runs, failed share(s) {sorted(shares)}")
        print(f"  {'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds.get(k)
            print(f"  {k:34} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f} "
                  f"{'' if b is None else b:>6}")
        print(flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
