#!/usr/bin/env python3
"""Compare two sets of untraced run records (parent and change) metric by
metric, with the bounds from BENCHMARK.json.

    python3 benchmark/compare.py <parent records dir> <change records dir>

Each directory holds the records run.py writes (<build dir>/records/).
Prints one row per (workload, metric) and exits 1 if any regressed.
"""

import glob
import json
import os
import sys

sys.dont_write_bytecode = True
import stats  # noqa: E402


def load(directory):
    runs = {}
    for path in sorted(glob.glob(os.path.join(directory, "*_untraced_*.json"))):
        with open(path) as f:
            rec = json.load(f)
        runs.setdefault(rec["workload"], []).append(rec["metrics"])
    return runs


def main(parent_dir, change_dir):
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    parent, change = load(parent_dir), load(change_dir)
    rows = stats.compare(parent, change, spec)
    print(f"{'workload':14} {'metric':14} {'parent':>12} {'change':>12} {'worse':>8}  verdict")
    for (wl, m), r in sorted(rows.items()):
        print(f"{wl:14} {m:14} {r['parent']:12.4g} {r['change']:12.4g} {r['worse']:+8.1%}  "
              f"{r['verdict']} (n={len(parent[wl])}/{len(change[wl])})")
    return 1 if any(r["verdict"] == "regressed" for r in rows.values()) else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
