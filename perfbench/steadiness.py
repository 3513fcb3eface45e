#!/usr/bin/env python3
"""Run the benchmark once per seed (one JVM each) and report the spread.

    python3 perfbench/steadiness.py --workload relational --seeds 1-10
    python3 perfbench/steadiness.py --workload streaming --seeds 1-2 --trace 1

For every metric it prints the median, the quartiles (Python's
statistics.quantiles(n=4)) and the quartile distance as a share of the
median: the figures the bounds in BENCHMARK.json are derived from. With
--trace 1 it also checks that every operation's job, stage and exchange
counts are the same in every run. Each run's last stdout line is kept in
perfbench/.runs/steadiness-<workload>-trace<0|1>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    log = os.path.join(BENCH, ".runs",
                       f"steadiness-{a.workload}-trace{a.trace}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    results, shapes = [], []
    for seed in seeds(a.seeds):
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(a.trace)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: run.py exited with {p.returncode}")
        r = json.loads(p.stdout.strip().splitlines()[-1])
        r["seed"] = seed
        results.append(r)
        with open(log, "a") as f:
            f.write(json.dumps(r) + "\n")
        with open(os.path.join(BENCH, ".runs", a.workload, "run.json")) as f:
            run = json.load(f)
        shapes.append(sorted((s["op"], s["pass"], s["jobs"], s["stages"],
                              s["exchanges"]) for s in run["structure"]))
        print(f"seed {seed}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
              flush=True)
    print(f"{'metric':32} {'median':>10} {'q1':>10} {'q3':>10} {'iqr/med':>8}")
    for name in results[0]["metrics"]:
        xs = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med,) * 3
        share = (q3 - q1) / med if med else 0.0
        print(f"{name:32} {med:10.4g} {q1:10.4g} {q3:10.4g} {share:8.3f}")
    print("failed share: " + ", ".join(
        f"{r['failed']}/{r['attempted']}" for r in results))
    print("all correct:", all(r["correct"] for r in results))
    if a.trace:
        # runs can differ in how many passes fit, so compare the passes
        # every run made
        common = min(max((s[1] for s in sh), default=-1) for sh in shapes)
        cut = [[s for s in sh if s[1] <= common] for sh in shapes]
        same = all(c == cut[0] for c in cut)
        print(f"job/stage/exchange counts identical over passes 0..{common}:",
              same)
        if not same:
            for op in sorted({s[0] for s in cut[0]}):
                per_run = [[s[2:] for s in c if s[0] == op] for c in cut]
                if any(p != per_run[0] for p in per_run):
                    print(f"  {op}: {per_run}")


if __name__ == "__main__":
    main()
