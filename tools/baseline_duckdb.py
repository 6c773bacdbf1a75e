#!/usr/bin/env python3
"""Measure a real per-query DuckDB baseline: run every oracle SQL from a
Verify dump against the given sf dir, `reps` times each, and print a
markdown table of median wall seconds (plus a total). The oracle SQL is
the engine-neutral statement of each operator's semantics, so its DuckDB
runtime is the single-node analytical-engine baseline the bench is
compared against.

Usage: python3 tools/baseline_duckdb.py <sfDir> <verifyOutDir> [reps=3]
"""
import json, os, sys, time, statistics

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import connect


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    con = connect(sf_dir)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    rows, total = [], 0.0
    for name, sql in sorted(oracle.items()):
        times = []
        ok = True
        for _ in range(reps):
            t0 = time.perf_counter()
            try:
                con.execute(sql).fetchall()
            except Exception as e:
                print(f"-- {name}: ERROR {e}", file=sys.stderr)
                ok = False
                break
            times.append(time.perf_counter() - t0)
        if ok:
            med = statistics.median(times)
            total += med
            rows.append((name, med))
    print(f"| query | DuckDB median s (n={reps}) |")
    print("|---|---|")
    for name, med in rows:
        print(f"| {name} | {med:.3f} |")
    print(f"| **total ({len(rows)} queries)** | **{total:.2f}** |")


if __name__ == "__main__":
    main()
