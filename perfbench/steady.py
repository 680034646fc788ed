#!/usr/bin/env python3
"""Steadiness check: two sets of runs of one commit, compared.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--seed0 1000]
                                [--workloads cdc_replicate query_mix]

Runs perfbench/run.py --runs times per set on every workload, each run with
its own seed (set s, run i uses seed0 + 100*s + i), and prints per set and
metric the median, the quartiles and the spread (interquartile range as a
share of the median, from statistics.quantiles(values, n=4)). The sets
agree when every spread stays within the metric's bound,
no metric's median in a later set is worse than the first set's by more
than the bound, and the share of failed operations is the same in every
set. Every run's result line is kept in perfbench/.out/steady-<workload>.jsonl.
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


def one_run(workload, seed, seconds):
    t0 = time.time()
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed}: exit {r.returncode}, no result")
    return {**json.loads(lines[-1]), "wall_s": round(time.time() - t0, 1)}


def summarize(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, q1, q3, (q3 - q1) / q2


def worse(first, second, better):
    """How much worse `second` is than `first`, as a share of `first`."""
    return (second - first) / first if better == "lower" else (first - second) / first


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--workloads", nargs="*")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    ok = True
    for w in workloads:
        sets = []
        with open(os.path.join(HERE, ".out", f"steady-{w}.jsonl"), "a") as log:
            for s in range(args.sets):
                rows = []
                for i in range(args.runs):
                    seed = args.seed0 + 100 * s + i
                    res = one_run(w, seed, spec["run_seconds"])
                    log.write(json.dumps({"set": s, "seed": seed, **res}) + "\n")
                    log.flush()
                    rows.append(res)
                sets.append(rows)
        print(f"== {w}: {args.sets} sets x {args.runs} runs")
        shares = [sum(r["failed"] for r in rows) / sum(r["attempted"] for r in rows)
                  for rows in sets]
        if len(set(shares)) != 1 or not all(r["correct"] for rows in sets for r in rows):
            ok = False
        print(f"   failed share per set: {shares}")
        walls = [r["wall_s"] for rows in sets for r in rows]
        print(f"   wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds = []
            for s, rows in enumerate(sets):
                med, q1, q3, spread = summarize([r["metrics"][name]["value"] for r in rows])
                meds.append(med)
                flag = "" if spread <= bound else "  SPREAD>BOUND"
                if flag:
                    ok = False
                print(f"   {name:22s} set {s}: median {med:.6g} q1 {q1:.6g} q3 {q3:.6g} "
                      f"spread {spread:.3f} (bound {bound}, target < {bound / 3:.3f}){flag}")
            for s in range(1, len(meds)):
                d = worse(meds[0], meds[s], m["better"])
                if d > bound:
                    ok = False
                    print(f"   {name:22s} set {s} median worse by {d:.3f} > {bound}")
    print("AGREE" if ok else "DISAGREE")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
