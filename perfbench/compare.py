#!/usr/bin/env python3
"""A/B comparison of two checkouts with this benchmark.

    python3 perfbench/compare.py --parent <dir> --change <dir> \
        [--workload etl_load --workload query_mix] [--out <file>]

Both directories are checkouts holding the same benchmark (BENCHMARK.json
and perfbench/); the bounds come from the parent's BENCHMARK.json. For each
workload it runs 10 untraced pairs, alternating which side runs first,
each pair on its own seed (1000, 1001, ...), then one traced run per side.

Verdicts, per end-to-end metric and workload:
  gain        the change wins at least 9 of every 10 pairs (ties count for
              neither side) and the medians differ by more than the
              parent's interquartile range;
  regression  the change's median is worse than the parent's by more than
              the metric's bound;
  unresolved  the parent's own spread (IQR / median) is wider than the
              bound, unless every change run beats every parent run;
  same        none of the above.
Per-layer counts (jobs, tasks, shuffle and spill megabytes, fallback
expressions) come from the traced runs and are compared exactly.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

PAIRS = 10
SEED0 = 1000
COUNT_SUFFIXES = (".jobs", ".tasks", ".shuffle_mb", ".spill_mb", ".fallback_exprs", ".write_mb")


def run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"compare: {' '.join(cmd)} failed in {checkout} ({p.returncode})")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def verdict(metric, parent, change):
    lower = metric["better"] == "lower"
    better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    wins = sum(better(c, p) for p, c in zip(parent, change))
    spread = (pq3 - pq1) / pmed if pmed else float("inf")
    worse_by = ((cmed - pmed) if lower else (pmed - cmed)) / pmed if pmed else 0.0
    dominates = all(better(c, p) for c in change for p in parent)
    if spread > metric["bound"] and not dominates:
        v = "unresolved"
    elif wins >= 0.9 * len(parent) and abs(cmed - pmed) > (pq3 - pq1):
        v = "gain"
    elif worse_by > metric["bound"]:
        v = "regression"
    else:
        v = "same"
    return {"verdict": v, "wins": wins, "pairs": len(parent), "parent_spread": spread,
            "parent": [pq1, pmed, pq3], "change": [cq1, cmed, cq3],
            "change_vs_parent": cmed / pmed if pmed else None}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out", help="report file (default <change>/.bench_build/compare.json)")
    a = ap.parse_args()
    with open(os.path.join(a.parent, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    report = {}
    for w in workloads:
        runs = {"parent": [], "change": []}
        for i in range(PAIRS):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                res = run(getattr(a, side), w, SEED0 + i, spec["run_seconds"], 0)
                runs[side].append(res)
                print(f"{w} pair {i + 1} {side}: failed {res['failed']}/{res['attempted']}",
                      file=sys.stderr)
        e2e = {}
        for m in spec["end_to_end"]:
            p = [r["metrics"][m["name"]]["value"] for r in runs["parent"]]
            c = [r["metrics"][m["name"]]["value"] for r in runs["change"]]
            e2e[m["name"]] = verdict(m, p, c)
        traced = {side: run(getattr(a, side), w, SEED0, spec["run_seconds"], 1)["metrics"]
                  for side in ("parent", "change")}
        counts = {}
        for m in spec["per_layer"]:
            n = m["name"]
            if n.endswith(COUNT_SUFFIXES):
                p, c = traced["parent"][n]["value"], traced["change"][n]["value"]
                if p or c:
                    counts[n] = {"parent": p, "change": c, "equal": p == c}
        failed = {side: sum(r["failed"] for r in runs[side]) for side in runs}
        report[w] = {"end_to_end": e2e, "counts": counts, "failed": failed, "runs": runs}
        print(f"\n== {w} (failed: parent {failed['parent']}, change {failed['change']})")
        for n, r in e2e.items():
            print(f"  {n:14s} {r['verdict']:10s} parent med {r['parent'][1]:.4g} "
                  f"change med {r['change'][1]:.4g} wins {r['wins']}/{r['pairs']} "
                  f"parent spread {r['parent_spread']:.3f}")
        for n, r in counts.items():
            if not r["equal"]:
                print(f"  count {n}: {r['parent']} -> {r['change']}")
    out = a.out or os.path.join(a.change, ".bench_build", "compare.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
