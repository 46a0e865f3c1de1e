#!/usr/bin/env python3
"""Record benchmark/golden.json: the fingerprint of every query the
`relational` and `memo-pipeline` workloads run, on the benchmark data.

A fingerprint is accepted only if (1) two fresh harness runs produce it
identically and (2) the same queries, dumped by graft.Verify on the same
data, hash-match the DuckDB oracle in tools/check.py (queries without
oracle SQL get check.py's row-count check). Rerun this after changing
gen_data.py or SCALE, from the repository root:

    python3 benchmark/make_golden.py
"""

import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import run  # noqa: E402

WORKLOADS = ("relational", "memo-pipeline")


def fingerprints(workload, classpath, data, work):
    rec = run.run_queries(workload, classpath, data, work, 0, 0, False,
                          time.monotonic() + run.RUN_TIMEOUT_S)
    fps = {}
    for op in rec.get("warmup", []) + rec["ops"]:
        if not op.get("ok"):
            sys.exit(f"{op['name']} failed: {op.get('error')} {op.get('message')}")
        if fps.setdefault(op["name"], op["fp"]) != op["fp"]:
            sys.exit(f"{op['name']}: fingerprint differs between passes")
    return fps


def main():
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath, data, _ = run.build(build_dir)
    work = os.path.join(build_dir, "work", f"golden-{os.getpid()}")
    golden = {}
    try:
        for wl in WORKLOADS:
            a = fingerprints(wl, classpath, data, work)
            b = fingerprints(wl, classpath, data, work)
            if a != b:
                sys.exit(f"{wl}: fingerprints differ between two fresh runs: "
                         f"{sorted(k for k in a if a[k] != b.get(k))}")
            golden.update(a)
        out = os.path.join(work, "verify")
        subprocess.run(["java"] + run.JVM_MEMORY + [f"-Djava.io.tmpdir={work}"]
                       + run.ADD_OPENS + ["-cp", ":".join(classpath[1:]), "graft.Verify",
                                          data, out, ",".join(sorted(golden))], check=True)
        res = subprocess.run([sys.executable, "tools/check.py", data, out],
                             capture_output=True, text=True)
        sys.stdout.write(res.stdout)
        verdicts = {n: v for v, n in re.findall(r"^(PASS|FAIL|ROWS) (\S+?):? ", res.stdout, re.M)}
        bad = sorted(n for n in golden if verdicts.get(n) not in ("PASS", "ROWS"))
        if bad:
            sys.exit(f"not oracle-checked: {bad}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(run.BENCH, "golden.json"), "w") as f:
        json.dump({"scale": run.SCALE, "fingerprints": dict(sorted(golden.items()))}, f, indent=1)
        f.write("\n")
    print(f"wrote {len(golden)} fingerprints")


if __name__ == "__main__":
    main()
