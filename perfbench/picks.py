#!/usr/bin/env python3
"""Derives each workload's fixed selection from a full sweep.

    python3 perfbench/run.py --workload W --seed S --seconds 1 --trace 1 --full
    python3 perfbench/picks.py summarize .perfbench/records/*-full-trace.json \\
        > perfbench/sweep.json
    python3 perfbench/picks.py pick perfbench/sweep.json

`summarize` reduces traced --full records to each member's median rep
wall over the timed passes and its driver-gap share (the part of its
traced rep walls that no Spark job covers).

`pick` splits each workload's members into the layers named in run.py's
WORKLOADS (first match wins), gives each layer a share of the workload's
`n_picks` proportional to its size (largest remainder, at least one),
sorts a layer's members by latency, cuts them into that many strata of
equal size and takes the middle member of each. It prints the picks, says
whether run.py holds the same ones, and compares the selection with all
members: p50, p90 and mean of per-query latency and driver-gap share.
"""
import collections
import json
import os
import re
import statistics
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import WORKLOADS  # noqa: E402


def summarize(paths):
    walls, gap, wall_traced = collections.defaultdict(list), {}, {}
    workload = {}
    for p in paths:
        with open(p) as f:
            rec = json.load(f)
        for r in rec["reps"]:
            if r["pass"] >= 0 and not r["error"]:
                walls[r["query"]].append(r["wall_s"])
                workload[r["query"]] = rec["workload"]
        for layer in rec["layers"]:
            for s in layer["spans"]:
                if s["parent"] is None:
                    q = s["name"]
                    gap[q] = gap.get(q, 0.0) + s["driver_gap_s"]
                    wall_traced[q] = wall_traced.get(q, 0.0) + (s["end_ms"] - s["start_ms"]) / 1e3
    out = collections.defaultdict(dict)
    for q in sorted(walls):
        out[workload[q]][q] = {
            "wall_s": round(statistics.median(walls[q]), 4),
            "gap_share": round(gap[q] / wall_traced[q], 4) if wall_traced.get(q) else None}
    return out


def allocate(sizes, n):
    """Largest-remainder split of `n` picks over layers of `sizes`, at
    least one per layer."""
    total = sum(sizes.values())
    quota = {k: n * v / total for k, v in sizes.items()}
    got = {k: max(1, int(q)) for k, q in quota.items()}
    for k in sorted(quota, key=lambda k: quota[k] - int(quota[k]), reverse=True):
        if sum(got.values()) >= n:
            break
        if got[k] < sizes[k] and quota[k] >= 1:
            got[k] += 1
    return got


def pick(members, layers, n):
    """members: {query: wall_s}. Returns (picks, {layer: picks})."""
    by_layer = collections.defaultdict(list)
    for q in members:
        by_layer[next(k for k, rx in layers.items() if re.match(rx, q))].append(q)
    share = allocate({k: len(v) for k, v in by_layer.items()}, n)
    chosen = {}
    for k, qs in by_layer.items():
        qs = sorted(qs, key=lambda q: (members[q], q))
        m = share[k]
        chosen[k] = [qs[(2 * i + 1) * len(qs) // (2 * m)] for i in range(m)]
    return sorted(q for v in chosen.values() for q in v), chosen


def describe(rows):
    lat = sorted(r["wall_s"] for r in rows)
    gaps = [r for r in rows if r["gap_share"] is not None]
    gap = sum(r["gap_share"] * r["wall_s"] for r in gaps) / sum(r["wall_s"] for r in gaps)
    q = statistics.quantiles(lat, n=10, method="inclusive")
    return (f"{len(lat):4d} queries  p50 {statistics.median(lat):.3f} s  p90 {q[8]:.3f} s  "
            f"mean {statistics.mean(lat):.3f} s  driver-gap share {gap:.2f}")


def main():
    if len(sys.argv) < 3 or sys.argv[1] not in ("summarize", "pick"):
        sys.exit(__doc__)
    if sys.argv[1] == "summarize":
        print(json.dumps(summarize(sys.argv[2:]), indent=1, sort_keys=True))
        return
    with open(sys.argv[2]) as f:
        sweep = json.load(f)
    for w, cfg in WORKLOADS.items():
        rows = sweep[w]
        picks, chosen = pick({q: r["wall_s"] for q, r in rows.items()}, cfg["layers"],
                             cfg["n_picks"])
        print(f"{w}: picks={picks}")
        for k, v in chosen.items():
            lat = ", ".join(f"{q} ({rows[q]['wall_s']:.2f} s)" for q in v)
            print(f"  {k}: {lat}")
        print("  members:  ", describe(list(rows.values())))
        print("  selection:", describe([rows[q] for q in picks]))
        print("  run.py holds", "the same picks" if picks == sorted(cfg["picks"])
              else f"other picks: {sorted(cfg['picks'])}")


if __name__ == "__main__":
    main()
