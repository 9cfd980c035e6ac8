#!/usr/bin/env python3
"""Alternating A/B pairs of the repo benchmark between two checkouts.

    python3 tools/ab_pairs.py PARENT_DIR CHANGE_DIR --workload W \\
        --pairs N --seed0 S

Pair i runs `perfbench/run.py --workload W --seed S+i --trace 0` once in
each checkout, the parent first on even i and the change first on odd i,
for the `run_seconds` that CHANGE_DIR's BENCHMARK.json declares. Each
checkout builds and keeps its own perfbench work directory, so give each
one its own `git worktree` or `git archive` (never a copied `target/`).

Prints one line per run (metrics, timed passes, the first pass's seconds,
peak RSS), then for each end-to-end metric of BENCHMARK.json each side's
median and quartiles, the pairs the change won and whether the medians lie
further apart than the parent's interquartile range. Stops at the first run that reports
`correct: false` or a failed operation, with exit status 1.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    """One benchmark run: (result JSON, the run's summary line)."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        sys.exit(f"{checkout}: perfbench exited {proc.returncode}")
    summary = next((json.loads(l[len("[perfbench] "):]) for l in lines
                    if l.startswith("[perfbench] {")), {})
    return json.loads(lines[-1]), summary


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    args = ap.parse_args()
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]
    sides = {"parent": args.parent, "change": args.change}
    runs = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res, summary = run(sides[side], args.workload, seed,
                               bench["run_seconds"])
            values = {m["name"]: res["metrics"][m["name"]]["value"]
                      for m in metrics}
            runs[side].append({"seed": seed, **values,
                               "passes": summary.get("passes"),
                               "peak_rss_mb": summary.get("peak_rss_mb")})
            # a first pass under run_seconds adds a warmer pass, which
            # alone lowers total_s: print both
            print(f"pair {i + 1} seed {seed} {side}: " + " ".join(
                f"{k}={v:.3f}" for k, v in values.items()) +
                f" passes={summary.get('passes')}"
                f" first_pass_s={summary.get('pass.first_s')}"
                f" peak_rss_mb={summary.get('peak_rss_mb')}", flush=True)
            if not res["correct"] or res["failed"] > 0:
                sys.exit(f"stopped: {side} run of seed {seed} has correct="
                         f"{res['correct']} failed={res['failed']}")
    n = len(runs["parent"])
    print(f"\n{args.workload}, {n} pairs, seeds {args.seed0}.."
          f"{args.seed0 + n - 1}")
    print(f"{'metric':<18}{'parent q1/med/q3':>28}{'change q1/med/q3':>28}"
          f"{'wins':>7}  apart>IQR")
    for m in metrics:
        name = m["name"]
        a = [r[name] for r in runs["parent"]]
        b = [r[name] for r in runs["change"]]
        better = (lambda x, y: x < y) if m["better"] == "lower" else (
            lambda x, y: x > y)
        wins = sum(better(y, x) for x, y in zip(a, b))
        qa, qb = quartiles(a), quartiles(b)
        apart = abs(qb[1] - qa[1]) > qa[2] - qa[0]
        print(f"{name:<18}{'/'.join(f'{q:.3f}' for q in qa):>28}"
              f"{'/'.join(f'{q:.3f}' for q in qb):>28}"
              f"{f'{wins}/{n}':>7}  {apart}")
    for side in ("parent", "change"):
        print(f"{side} passes per run: {[r['passes'] for r in runs[side]]}")
        rss = [r["peak_rss_mb"] for r in runs[side]
               if r["peak_rss_mb"] is not None]
        if rss:
            print(f"{side} peak RSS MB median {statistics.median(rss):.1f}"
                  f" (min {min(rss):.1f}, max {max(rss):.1f})")


if __name__ == "__main__":
    main()
