#!/usr/bin/env python3
"""Steadiness check: two sets of untraced runs of the same code, seeds
1..runs each, interleaved run by run (set 1 seed 1, set 2 seed 1, set 1
seed 2, ...) so that a host that drifts moves both sets alike.

Usage, from the repository root:

  python3 perfbench/steady.py [--runs 10] [workload ...]

For each workload and end-to-end metric it prints, per set, the median
and the spread (interquartile distance over the median, quartiles as
Python's statistics.quantiles(n=4) gives them), how much set 2's median
is worse than set 1's as a share of set 1's, and the metric's bound from
BENCHMARK.json. It does the same for host_calib_ms, a fixed CPU task
timed in every run, which shows how much of a difference is the host.
A spread above the bound or at or above a third of it (setup_s
excepted), and a set difference beyond the bound, are marked. The last
line is a JSON summary.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CALIB = "host_calib_ms"


def run_once(workload, seed, seconds):
    """End-to-end metric values and the host calibration of one run, or
    None if the run failed or its check did."""
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        return None
    res = json.loads(lines[-1])
    if not res["correct"] or res["failed"]:
        return None
    values = {n: m["value"] for n, m in res["metrics"].items()}
    for l in lines:
        if l.startswith("perfbench detail "):
            values[CALIB] = json.loads(l[len("perfbench detail "):])[CALIB]
    return values


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    a = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    lower = {m["name"]: m["better"] == "lower" for m in spec["end_to_end"]}
    lower[CALIB] = True
    names = list(bounds) + [CALIB]
    summary = {}
    for w in a.workloads:
        sets = [{n: [] for n in names} for _ in range(2)]
        for seed in range(1, a.runs + 1):
            for i, values in enumerate(sets):
                got = run_once(w, seed, spec["run_seconds"])
                if got is None:
                    print(f"{w} set {i + 1} seed {seed}: failed run", flush=True)
                    return 1
                for n in names:
                    values[n].append(got[n])
                print(f"{w} set {i + 1} seed {seed}: " +
                      " ".join(f"{n}={got[n]:.4g}" for n in names), flush=True)
        summary[w] = {}
        for n in names:
            stats = []
            for values in sets:
                q1, med, q3 = statistics.quantiles(values[n], n=4)
                stats.append({"median": med, "spread": round((q3 - q1) / med, 4),
                              "values": values[n]})
            m1, m2 = stats[0]["median"], stats[1]["median"]
            worse = (m2 - m1) / m1 if lower[n] else (m1 - m2) / m1
            bound = bounds.get(n)
            marks = []
            widest = max(s["spread"] for s in stats)
            if bound is not None and n != "setup_s" and widest >= bound / 3:
                marks.append("spread above bound" if widest > bound else "spread above bound/3")
            if bound is not None and worse > bound:
                marks.append("set 2 worse than bound")
            print(f"{w:14s} {n:14s} " +
                  " ".join(f"set{i + 1} median={s['median']:.4g} spread={s['spread']:.3f}"
                           for i, s in enumerate(stats)) +
                  f" worse_by={worse:.3f} bound={bound}" +
                  ("  <-- " + ", ".join(marks) if marks else ""), flush=True)
            summary[w][n] = {"sets": stats, "worse_by": round(worse, 4)}
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
