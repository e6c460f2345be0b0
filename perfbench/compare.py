#!/usr/bin/env python3
"""Compare benchmark run records (directories under .bench_build/runs/).

    python3 perfbench/compare.py --a <run dir>... --b <run dir>...

Each side's value of a metric is the median over its runs. The report:
- every end-to-end metric, side by side with its relative change;
- the per-layer metrics that moved by more than MOVED (a share of side a),
  largest first — the layer a regression or a gain came from. Both sides
  need traced runs for this part.

With side a untraced and side b traced, for the same workload, the
end-to-end changes are the tracing overhead.
"""
import argparse
import json
import os
import statistics
import sys

# a per-layer metric is named when it moved by more than this share
MOVED = 0.10


def load(run_dir):
    with open(os.path.join(run_dir, "result.json")) as fh:
        res = json.load(fh)
    with open(os.path.join(run_dir, "env.json")) as fh:
        env = json.load(fh)
    return res, env


def medians(runs, key):
    vals = {}
    for res, _ in runs:
        for name, m in res.get(key, {}).items():
            vals.setdefault(name, []).append(m["value"])
    return {k: statistics.median(v) for k, v in vals.items()}


def change(a, b):
    return (b - a) / abs(a) if a else float("inf") if b else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", nargs="+", required=True)
    ap.add_argument("--b", nargs="+", required=True)
    args = ap.parse_args()
    a = [load(d) for d in args.a]
    b = [load(d) for d in args.b]
    workloads = {env["workload"] for _, env in a + b}
    if len(workloads) != 1:
        sys.exit(f"runs span workloads {sorted(workloads)}; compare one at a time")
    for side, runs in (("a", a), ("b", b)):
        dirty = [env["run"] for _, env in runs if env.get("dirty")]
        traced = sorted({env["trace"] for _, env in runs})
        print(f"side {side}: {len(runs)} runs, trace={traced}"
              + (f", DIRTY: {', '.join(dirty)}" if dirty else ""))

    print(f"\nend-to-end ({workloads.pop()}):")
    ea, eb = medians(a, "metrics"), medians(b, "metrics")
    for k in ea:
        if k in eb:
            print(f"  {k:32s} {ea[k]:14.6g} {eb[k]:14.6g} {change(ea[k], eb[k]):+8.1%}")

    la, lb = medians(a, "layers"), medians(b, "layers")
    moved = sorted(((abs(change(la[k], lb[k])), k) for k in la if k in lb
                    and abs(change(la[k], lb[k])) > MOVED), reverse=True)
    if la and lb:
        print(f"\nper-layer metrics that moved by more than {MOVED:.0%}:")
        for _, k in moved:
            print(f"  {k:40s} {la[k]:14.6g} {lb[k]:14.6g} {change(la[k], lb[k]):+8.1%}")
        if not moved:
            print("  none")


if __name__ == "__main__":
    main()
