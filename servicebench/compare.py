#!/usr/bin/env python3
"""Per-layer deltas between traced runs.

Usage: python3 servicebench/compare.py <before> <after> [--all]

Each side is a trace file written by `run.py --trace 1`
(servicebench/traces/<workload>-seed<n>.jsonl) or a directory of them.
Several traces of one workload are reduced to the median of each figure.
Prints, per workload, every per-layer metric and the Spark job time per
call site that differs between the sides (with --all, also the unchanged
ones), as before, after and the change in percent.
"""
import glob
import json
import os
import statistics
import sys


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.jsonl"))) if os.path.isdir(path) else [path]
    if not files:
        sys.exit(f"compare: no trace files in {path}")
    by_wl = {}
    for f in files:
        with open(f) as fh:
            head = json.loads(fh.readline())
        figs = {k: v["value"] for k, v in head["metrics"].items()}
        figs.update({f"job_ms[{k}]": v for k, v in head.get("job_ms_by_site", {}).items()})
        by_wl.setdefault(head["workload"], []).append(figs)
    return {wl: {k: statistics.median(r[k] for r in runs if k in r)
                 for k in sorted({k for r in runs for k in r})}
            for wl, runs in by_wl.items()}


def main():
    args = [a for a in sys.argv[1:] if a != "--all"]
    if len(args) != 2:
        sys.exit(__doc__)
    show_all = "--all" in sys.argv
    before, after = load(args[0]), load(args[1])
    for wl in sorted(set(before) | set(after)):
        a, b = before.get(wl, {}), after.get(wl, {})
        rows = []
        for k in sorted(set(a) | set(b)):
            x, y = a.get(k), b.get(k)
            if not show_all and x == y:
                continue
            if x and y is not None:
                pct = f"{100.0 * (y - x) / x:+.1f}%"
            else:
                pct = "new" if x is None else ("gone" if y is None else "")
            rows.append((k, "-" if x is None else f"{x:.6g}", "-" if y is None else f"{y:.6g}", pct))
        print(f"== {wl}")
        if not rows:
            print("   (no differences)")
        width = max((len(r[0]) for r in rows), default=0)
        for k, x, y, pct in rows:
            print(f"   {k:<{width}}  {x:>12}  {y:>12}  {pct:>8}")


if __name__ == "__main__":
    main()
