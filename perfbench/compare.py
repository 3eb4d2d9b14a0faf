#!/usr/bin/env python3
"""Compare benchmark artifacts of a parent commit and a change.

    python3 perfbench/compare.py PARENT CHANGE [--contract BENCHMARK.json]

PARENT and CHANGE are artifact files or directories of them (run.py keeps
one per run under .bench_build/results/). Runs are grouped per workload;
a parent run and a change run with the same seed form a pair, and the
remaining runs pair up in file order.

Each end-to-end metric of each workload is reported as:
  improved    the change wins at least 9 of 10 pairs (ties count for
              neither side), at least 10 pairs were run, and the medians
              differ by more than the parent's own quartile spread;
  worse       the change's median is worse than the parent's by more
              than the metric's bound in BENCHMARK.json;
  unresolved  the run-to-run spread (quartile distance over median, on
              either side) is wider than the bound, and not every change
              run reads better than every parent run;
  unchanged   none of the above.
The delta column is how much worse the change's median is than the
parent's (negative: better). Per-layer metrics of traced runs are listed
with both medians, unjudged.
Exits 1 if any metric is worse, else 0.
"""
import argparse
import collections
import glob
import json
import os
import statistics
import sys


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs = collections.defaultdict(list)
    for f in files:
        with open(f) as fh:
            a = json.load(fh)
        if "workload" in a and "metrics" in a:
            runs[(a["workload"], a.get("trace", 0))].append(a)
    return runs


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], q[2]


def pairs(parent, change):
    """Pairs by seed first, then the leftovers in order."""
    by_seed = {a["seed"]: a for a in change}
    out, left_p = [], []
    for p in parent:
        c = by_seed.pop(p["seed"], None)
        (out.append((p, c)) if c is not None else left_p.append(p))
    left_c = [c for c in change if c["seed"] in by_seed]
    return out + list(zip(left_p, left_c))


def judge(pv, cv, prs, better, bound):
    sign = 1.0 if better == "lower" else -1.0   # > 0 means worse
    pm, cm = statistics.median(pv), statistics.median(cv)
    p1, p3 = quartiles(pv)
    c1, c3 = quartiles(cv)
    spread = max((p3 - p1) / pm if pm else 0.0, (c3 - c1) / cm if cm else 0.0)
    delta = sign * (cm - pm) / pm if pm else 0.0
    wins = sum(1 for p, c in prs if sign * (c - p) < 0)
    all_better = all(sign * (c - p) < 0 for c in cv for p in pv)
    if len(prs) >= 10 and wins >= 0.9 * len(prs) and delta < 0 and abs(cm - pm) > (p3 - p1):
        status = "improved"
    elif spread > bound and not all_better:
        status = "unresolved"
    elif delta > bound:
        status = "worse"
    else:
        status = "unchanged"
    return status, pm, cm, delta, spread, wins


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--contract", default="BENCHMARK.json")
    a = ap.parse_args()
    with open(a.contract) as f:
        contract = json.load(f)
    parent, change = load(a.parent), load(a.change)
    for side, runs in (("parent", parent), ("change", change)):
        for (wl, _), rs in runs.items():
            kinds = {(r["env"].get("source_sha256"), r["seconds"], r["input"]["docs"]) for r in rs}
            if len(kinds) > 1:
                print(f"warning: {side} {wl} runs mix builds, run lengths or input sizes: {sorted(map(str, kinds))}",
                      file=sys.stderr)
    worse = False
    print(f"{'workload':8} {'metric':30} {'status':10} {'parent':>12} {'change':>12} "
          f"{'delta':>7} {'spread':>7} {'bound':>6} pairs/wins")
    for wl in [w["name"] for w in contract["workloads"]]:
        p, c = parent.get((wl, 0), []), change.get((wl, 0), [])
        if not p or not c:
            print(f"{wl:8} (no trace-0 runs on {'both sides' if not p and not c else 'one side'})")
        else:
            prs_all = pairs(p, c)
            for m in contract["end_to_end"]:
                name = m["name"]
                pv = [r["metrics"][name]["value"] for r in p]
                cv = [r["metrics"][name]["value"] for r in c]
                prs = [(x["metrics"][name]["value"], y["metrics"][name]["value"]) for x, y in prs_all]
                status, pm, cm, delta, spread, wins = judge(pv, cv, prs, m["better"], m["bound"])
                worse |= status == "worse"
                print(f"{wl:8} {name:30} {status:10} {pm:12.4g} {cm:12.4g} {delta:+7.1%} "
                      f"{spread:7.1%} {m['bound']:6.0%} {len(prs)}/{wins}")
        p, c = parent.get((wl, 1), []), change.get((wl, 1), [])
        if p and c:
            for m in contract["per_layer"]:
                name = m["name"]
                pm = statistics.median(r["metrics"][name]["value"] for r in p)
                cm = statistics.median(r["metrics"][name]["value"] for r in c)
                print(f"{wl:8} {name:30} {'layer':10} {pm:12.4g} {cm:12.4g} {m['unit']}")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
