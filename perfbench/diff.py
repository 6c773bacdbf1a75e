#!/usr/bin/env python3
"""Compare two benchmark artifacts, workload by workload.

  python3 perfbench/diff.py BASE.json NEW.json [--top N]

An artifact is either one run (perfbench/work/<workload>.json, written by
run.py --workload) or a bundle written by run.py --all --out FILE. For
each workload in both, every end-to-end metric of BENCHMARK.json is
judged against its bound, the workload-level named metrics are listed, and
the N calls and the N per-layer metrics that moved most are named.
Exits 1 if an end-to-end metric got worse by more than its bound.
"""
import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    """{workload: {"end_to_end", "named", "per_layer", "calls"}}; end-to-end,
    named and call figures come from untraced runs, per-layer ones from
    traced."""
    with open(path) as f:
        a = json.load(f)
    if "runs" in a:
        return {w: {"end_to_end": r["untraced"]["end_to_end"],
                    "named": r["untraced"]["named"],
                    "calls": r["untraced"]["calls"],
                    "per_layer": r["traced"]["per_layer"]}
                for w, r in a["runs"].items()}
    keys = ("end_to_end", "named", "per_layer", "calls")
    return {a["header"]["workload"]: {k: a[k] for k in keys}}


def call_medians(calls):
    by = {}
    for c in calls:
        if c["ok"]:
            by.setdefault(c["name"], []).append(c["seconds"])
    return {k: sorted(v)[(len(v) - 1) // 2] for k, v in by.items()}


def change(base, new):
    if base == 0:
        return 0.0 if new == 0 else float("inf")
    return (new - base) / abs(base)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--top", type=int, default=8)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    base, new = load(args.base), load(args.new)
    regressed = []
    for w in sorted(set(base) & set(new)):
        b, n = base[w], new[w]
        print(f"== {w}")
        for m in spec["end_to_end"]:
            name = m["name"]
            if name not in b["end_to_end"] or name not in n["end_to_end"]:
                continue
            x, y = b["end_to_end"][name]["value"], n["end_to_end"][name]["value"]
            c = change(x, y)
            worse = c > m["bound"] if m["better"] == "lower" else -c > m["bound"]
            better = c < 0 if m["better"] == "lower" else c > 0
            verdict = "REGRESSED" if worse else ("better" if better else "within bound")
            if worse:
                regressed.append(f"{w} {name}")
            print(f"  {name:24s} {x:14.4f} -> {y:14.4f} {m['unit']:6s} {c:+8.1%}"
                  f"  bound {m['bound']:.0%}  {verdict}")
        contract = {m["name"] for m in spec["end_to_end"]}
        for name in sorted((set(b["named"]) & set(n["named"])) - contract):
            x, y = b["named"][name]["value"], n["named"][name]["value"]
            print(f"  {name:24s} {x:14.4f} -> {y:14.4f} {b['named'][name]['unit']:6s}"
                  f" {change(x, y):+8.1%}")
        bc, nc = call_medians(b["calls"]), call_medians(n["calls"])
        moved = sorted(((abs(change(bc[k], nc[k])), k) for k in set(bc) & set(nc)),
                       reverse=True)[:args.top]
        if moved:
            print("  calls that moved most (median seconds):")
        for _, k in moved:
            print(f"    {k:40s} {bc[k]:14.4f} -> {nc[k]:14.4f} s"
                  f"      {change(bc[k], nc[k]):+8.1%}")
        layers = sorted(
            ((abs(change(b["per_layer"][k]["value"], n["per_layer"][k]["value"])), k)
             for k in set(b["per_layer"]) & set(n["per_layer"])
             if b["per_layer"][k]["value"] or n["per_layer"][k]["value"]),
            reverse=True)[:args.top]
        if layers:
            print("  per-layer metrics that moved most:")
        for _, k in layers:
            x, y = b["per_layer"][k]["value"], n["per_layer"][k]["value"]
            print(f"    {k:40s} {x:14.4f} -> {y:14.4f} {b['per_layer'][k]['unit']:6s}"
                  f" {change(x, y):+8.1%}")
    only = set(base) ^ set(new)
    if only:
        print(f"in one artifact only: {', '.join(sorted(only))}")
    if regressed:
        print(f"regressed beyond bound: {', '.join(regressed)}")
    sys.exit(1 if regressed else 0)


if __name__ == "__main__":
    main()
