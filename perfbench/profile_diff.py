#!/usr/bin/env python3
"""Compare two sets of traced-run artifacts, workload by layer.

Usage: python3 perfbench/profile_diff.py <before> <after> [--queries]

Each side is a trace artifact (perfbench/out/trace-<workload>-s<seed>.json)
or a directory of them. Artifacts of one workload are pooled by taking
the median of each figure. For every workload found on both sides the
table shows each layer's self time per pass, then every per-layer count,
as before, after, and the change as a share of before. --queries adds
each query's self time by layer, so a saving can be placed on the query
that made it.
"""
import argparse
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

LAYERS = ("entry", "write", "catalyst", "scheduler", "exec", "bench")


def load(side):
    p = Path(side)
    files = sorted(p.glob("trace-*.json")) if p.is_dir() else [p]
    by_workload = defaultdict(list)
    for f in files:
        a = json.loads(f.read_text())
        by_workload[a["workload"]].append(a)
    if not by_workload:
        sys.exit(f"no trace artifacts in {side}")
    return by_workload


def pooled(artifacts):
    """Median of each summary figure, and of each query's per-layer self time."""
    keys = set().union(*(a["summary"] for a in artifacts))
    summary = {k: statistics.median(a["summary"].get(k, 0.0) for a in artifacts) for k in keys}
    per_query = defaultdict(list)
    for a in artifacts:
        steady = [p for p in a["passes"] if p["kind"] == "steady"]
        for p in steady:
            for q in p["queries"]:
                per_query[q["name"]].append(q["self_s"])
    queries = {name: {l: statistics.median(s[l] for s in samples) for l in LAYERS}
               for name, samples in per_query.items()}
    return summary, queries, len(artifacts)


def change(a, b):
    if a == 0:
        return "" if b == 0 else "new"
    return f"{(b - a) / abs(a):+.1%}"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--queries", action="store_true", help="also show per-query self time by layer")
    args = ap.parse_args(argv)
    before, after = load(args.before), load(args.after)
    for wl in sorted(set(before) & set(after)):
        sa, qa, na = pooled(before[wl])
        sb, qb, nb = pooled(after[wl])
        print(f"== {wl}  ({na} before, {nb} after; medians per steady pass)")
        print(f"{'metric':32} {'before':>12} {'after':>12} {'change':>9}")
        self_keys = [f"{l}.self_s" for l in LAYERS]
        for k in self_keys + sorted((set(sa) | set(sb)) - set(self_keys)):
            a, b = sa.get(k, 0.0), sb.get(k, 0.0)
            print(f"{k:32} {a:12.4g} {b:12.4g} {change(a, b):>9}")
        if args.queries:
            print(f"-- self time per query (s): before -> after")
            for name in sorted(set(qa) & set(qb)):
                cells = "  ".join(f"{l} {qa[name][l]:.3f}->{qb[name][l]:.3f}" for l in LAYERS
                                  if qa[name][l] or qb[name][l])
                print(f"{name:28} {cells}")
        print()
    only = sorted(set(before) ^ set(after))
    if only:
        print(f"workloads on one side only: {', '.join(only)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
