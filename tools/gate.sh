#!/usr/bin/env bash
# The FULL pre-snapshot gate in one command — round 4 shipped 15 broken
# queries because nobody re-ran all of this against current testdata.
#   tools/gate.sh            # compile, test, verify+check sf0.01, bench sf0.1
#   tools/gate.sh --sweep    # additionally: full verify+check at sf0.1
#   tools/gate.sh --sweep --bench3  # record the 3-run median artifact
#                            # (BENCH3.json) instead of a single bench
set -euo pipefail
cd "$(dirname "$0")/.."
# every Spark step runs at this host's core count (the tier-1 test
# command's rule), never a fixed count sized for another machine
CPUS="$(env -u OMP_NUM_THREADS nproc)"

echo "== [0/5] one memo mechanism: no hand-rolled memo maps in queries/, sources/, server/ or api/ =="
# every memo goes through graft.util.SessionMemo (one registry, evicted
# with its session; the server's reply pool is one of its families);
# grep exits 1 when nothing matches
rc=0
grep -rnE 'ConcurrentHashMap|computeIfAbsent' \
  src/main/scala/graft/queries src/main/scala/graft/sources \
  src/main/scala/graft/server src/main/scala/graft/api || rc=$?
case $rc in
  0) echo "hand-rolled memo map above: use graft.util.SessionMemo"; exit 1 ;;
  1) echo "no hand-rolled memo maps" ;;
  *) exit "$rc" ;;
esac

echo "== [0/5] one sink per kind: .writeStream only in EventStreams' two drains =="
# every streaming query drains through appendSinkDrain or
# versionedSinkDrain; a third sink is a copy that the specs never run
python3 - <<'EOF'
import pathlib, re, sys
drains = {"appendSinkDrain", "versionedSinkDrain"}
sites, stray = {}, []
for path in sorted(pathlib.Path("src/main/scala").rglob("*.scala")):
    owner = None
    for n, line in enumerate(path.read_text().splitlines(), 1):
        code = line.split("//")[0]
        if code.lstrip().startswith("*"):
            continue
        m = re.search(r"\bdef\s+(\w+)", code)
        if m:
            owner = m.group(1)
        if ".writeStream" in code:
            if path.name == "EventStreams.scala" and owner in drains:
                sites[owner] = sites.get(owner, 0) + 1
            else:
                stray.append(f"{path}:{n} (in {owner})")
for s in stray:
    print(f"STRAY SINK: {s}")
if stray or sites != {d: 1 for d in drains}:
    print(f"expected one .writeStream in each of {sorted(drains)}, got {sites}")
    sys.exit(1)
print("one sink per kind: 2 .writeStream sites, both in EventStreams' drains")
EOF

echo "== [1/5] sbt compile =="
sbt -batch compile

echo "== [2/5] sbt test =="
sbt -batch test

echo "== [2b/5] HTTP client e2e + benchmark harness and tools tests =="
python3 tools/client_e2e.py
python3 -m unittest discover -s benchmark -p 'test_*.py'
python3 -m unittest discover -s tools -p 'test_*.py'

echo "== [3/5] Verify + DuckDB check @ sf0.01 =="
SPARK_GRAFT_CPUS=$CPUS tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/gate_sf001
python3 tools/check.py /root/testdata/sf0.01 /tmp/gate_sf001 | tail -2

echo "== [3a/5] Verify trace: one QueryTrace line per query, every memo family hit =="
# a half-traced run must not pass: exactly one trace.jsonl line per
# oracled query (every registered query is oracled), each with a job count
python3 - /tmp/gate_sf001 <<'EOF'
import json, sys
out = sys.argv[1]
names = set(json.load(open(f"{out}/oracle_sql.json")))
lines = [json.loads(l) for l in open(f"{out}/trace.jsonl")]
traced = [r["name"] for r in lines]
bad = [r["name"] for r in lines if not (isinstance(r.get("jobs"), int) and r["jobs"] >= 0)]
if len(lines) != len(names) or set(traced) != names or bad:
    print(f"TRACE INCOMPLETE: {len(lines)} lines for {len(names)} queries; "
          f"missing {sorted(names - set(traced))[:8]}; no job count {bad[:8]}")
    sys.exit(1)
print(f"trace complete: {len(lines)} lines, {sum(r['jobs'] for r in lines)} jobs")
# a memo family that is built but never read warm only holds its frames:
# every family must record a hit somewhere in the run
builds, hits = {}, {}
for r in lines:
    for fam, m in r.get("memo", {}).items():
        builds[fam] = builds.get(fam, 0) + m["builds"]
        hits[fam] = hits.get(fam, 0) + m["hits"]
cold = sorted(f for f in builds if builds[f] > 0 and hits[f] == 0)
if cold:
    for f in cold:
        print(f"MEMO NEVER HIT: {f} builds={builds[f]} hits=0")
    sys.exit(1)
print(f"memo families: {len(builds)}, each hit at least once")
EOF

echo "== [3b/5] plan lint (scale-shape audit over every query plan) =="
tools/run.sh graft.tools.PlanLint | grep planlint

echo "== [3c/5] EXPLAINS.md: every pinned plan equals a fresh Explain dump =="
# regenerate the pinned plans into a scratch file and compare them,
# section by section, with the committed EXPLAINS.md after dropping
# run-specific tokens (tools/explain_diff.py): a pin added without a
# regenerated artifact, or a change that moves a pinned plan, fails here
tools/run.sh graft.tools.Explain /tmp/gate_explain.md > /tmp/gate_explain.log 2>&1 \
  || { tail -20 /tmp/gate_explain.log; exit 1; }
python3 tools/explain_diff.py EXPLAINS.md /tmp/gate_explain.md

if [[ "${1:-}" == "--sweep" ]]; then
  echo "== [4/5] cross-scale Verify + check @ sf0.1 =="
  SPARK_GRAFT_CPUS=$CPUS tools/run.sh graft.Verify /root/testdata/sf0.1 /tmp/gate_sf01
  python3 tools/check.py /root/testdata/sf0.1 /tmp/gate_sf01 | tail -2
else
  echo "== [4/5] (skipped sf0.1 sweep — pass --sweep) =="
fi

if [[ "${1:-}" == "--bench3" || "${2:-}" == "--bench3" ]]; then
  echo "== [5/5] bench3 @ sf0.1 (3 runs, per-query medians + ratio vs recorded tail) =="
  tools/bench3.sh
  echo "== gate complete (bench3 artifact: BENCH3.json) =="
  exit 0
fi

echo "== [5/5] bench @ sf0.1 (watch the q01 canary: ~0.5s quiet) =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=$CPUS tools/run.sh graft.Bench \
  | python3 -c '
import json, sys
# the FULL line (with per-query map); Bench also emits a trailing
# total_summary line for tail-truncating harnesses - skip it here
line = [l for l in sys.stdin if l.startswith("{") and "\"queries\"" in l][-1]
d = json.loads(line)
q = d["queries"]
total, canary = d["value"], q["q01_tpch_q1"]
print(f"total {total:.1f}s over {len(q)} queries; canary q01 {canary:.2f}s")
errs = d.get("errors")
print("errors:", errs if errs else "none")
top = sorted(q.items(), key=lambda kv: -kv[1])[:5]
print("slowest:", ", ".join(f"{k} {v:.1f}s" for k, v in top))
if errs: sys.exit(1)
'
echo "== gate complete =="
