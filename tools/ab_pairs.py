#!/usr/bin/env python3
"""Alternating A/B pairs of the repo benchmark between two checkouts.

    python3 tools/ab_pairs.py --parent DIR --change DIR --workload W
                              [--pairs 10] [--first-seed 7]

Pair i runs `python3 <dir>/perfbench/run.py --workload W --seed N
--seconds T --trace 0` once in each checkout, both on seed
N = first_seed + i and both for T = the `run_seconds` of the change
checkout's BENCHMARK.json. Even pairs run the parent first, odd pairs the change
first, so a drift in host load does not always favour one side. The pair
count must be even: an odd count runs the parent first once more than the
change, which biases the verdict against the side that runs second. Each
checkout builds itself on its first run. The end-to-end metrics, their
direction and the run length come from the change checkout's
BENCHMARK.json. For every metric it prints each side's median and
quartiles, whether the medians differ by more than the parent's
interquartile range, and how many pairs the change won. A run that
fails or reports failed operations stops the script.

Make the second checkout with `git worktree add <dir> <commit>`, not by
copying a built checkout with `cp -a`: zinc stores absolute paths in
its analysis files, so an incremental build in the copy can delete
classes under the original's `target/`.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run_once(root, workload, seed, seconds):
    cmd = [sys.executable, str(root / "perfbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith('{"correct"')]
    if p.returncode != 0 or not lines:
        sys.exit(f"ab_pairs: {root} seed {seed} failed (exit {p.returncode}):\n"
                 + p.stderr[-2000:])
    res = json.loads(lines[-1])
    if res["failed"] or not res["correct"]:
        sys.exit(f"ab_pairs: {root} seed {seed}: {res['failed']} failed operations")
    return {k: v["value"] for k, v in res["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=7)
    args = ap.parse_args()
    if args.pairs < 2 or args.pairs % 2:
        ap.error(f"--pairs must be a positive even number (got {args.pairs}): an odd count "
                 "runs the parent first once more than the change")
    parent, change = args.parent.resolve(), args.change.resolve()
    bench = json.loads((change / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    metrics = [(m["name"], m["better"]) for m in bench["end_to_end"]]

    runs = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = args.first_seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            runs[side].append(run_once(parent if side == "parent" else change,
                                       args.workload, seed, seconds))
        p, c = runs["parent"][-1], runs["change"][-1]
        print(f"pair {i + 1} seed {seed} ({order[0]} first): " + ", ".join(
            f"{name} {p[name]:.4g}/{c[name]:.4g}" for name, _ in metrics), flush=True)

    n = args.pairs
    print(f"\n{args.workload}, {n} pairs, parent | change: median [q1, q3]")
    for name, better in metrics:
        ps = [r[name] for r in runs["parent"]]
        cs = [r[name] for r in runs["change"]]
        pq1, pmed, pq3 = quartiles(ps)
        cq1, cmed, cq3 = quartiles(cs)
        sign = -1 if better == "lower" else 1
        won = sum(sign * (c - p) > 0 for p, c in zip(ps, cs))
        apart = abs(cmed - pmed) > pq3 - pq1
        print(f"{name:12s} parent {pmed:.4g} [{pq1:.4g}, {pq3:.4g}] | "
              f"change {cmed:.4g} [{cq1:.4g}, {cq3:.4g}] | "
              f"delta {(cmed - pmed) / pmed:+.1%}, beyond parent IQR: {apart}, "
              f"change won {won}/{n}")


if __name__ == "__main__":
    main()
