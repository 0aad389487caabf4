#!/usr/bin/env python3
"""Per-op-kind medians of a traced benchmark run.

    python3 perfbench/run.py --workload point_reads --seed 3 --seconds 30 --trace 1
    python3 tools/trace_kinds.py [--workload point_reads] [--root .]

Reads `.bench_build/last-<workload>-1.json`, the full record that
`perfbench/run.py --trace 1` leaves behind, and prints one row per op
kind: the op count, the median latency over all ops of that kind, and
the medians of the per-layer counters over its traced ops (a traced run
traces every other op). The benchmark's per-layer metrics pool every
kind into one mean, so a kind that does a full scan or fires extra jobs
is hidden among the cheap ones; this table shows which kind it is.
"""
import argparse
import json
import statistics
import sys
from pathlib import Path

LAYERS = ["exec.jobs", "exec.stages", "exec.tasks", "scan.records_read", "exec.cpu_ms",
          "functions.analyze_ms"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="point_reads")
    ap.add_argument("--root", type=Path, default=Path("."),
                    help="checkout whose .bench_build/ holds the run")
    args = ap.parse_args()
    path = args.root / ".bench_build" / f"last-{args.workload}-1.json"
    if not path.exists():
        sys.exit(f"trace_kinds: {path} not found; run perfbench/run.py "
                 f"--workload {args.workload} --trace 1 first")
    ops = json.loads(path.read_text())["ops"]

    header = ["kind", "ops", "traced", "latency_ms"] + LAYERS
    rows = []
    for kind in sorted({o["kind"] for o in ops}):
        mine = [o for o in ops if o["kind"] == kind]
        traced = [o["layers"] for o in mine if o["traced"]]
        row = [kind, len(mine), len(traced),
               statistics.median(o["latency_ms"] for o in mine)]
        row += [statistics.median(l.get(k, 0) for l in traced) if traced else float("nan")
                for k in LAYERS]
        rows.append(row)

    def fmt(v):
        if not isinstance(v, float):
            return str(v)
        return f"{v:.1f}" if v != v or v % 1 else f"{v:.0f}"
    table = [header] + [[fmt(v) for v in r] for r in rows]
    widths = [max(len(r[i]) for r in table) for i in range(len(header))]
    for r in table:
        print("  ".join(c.rjust(w) if i else c.ljust(w)
                        for i, (c, w) in enumerate(zip(r, widths))))


if __name__ == "__main__":
    main()
