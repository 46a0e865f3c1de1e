#!/usr/bin/env bash
# Three full Bench runs -> per-query MEDIANS + median per-query ratio
# vs a recorded reference tail, written as ONE decision-grade artifact
# (BENCH3.json). Single-shot bench readings are host-window-noisy: r8
# measured a uniform 1.50x and the r11 driver artifact a uniform 1.45x
# on UNCHANGED commits, while same-day re-runs read ~1.0x. CLAUDE.md's
# prescription — judge a run by the per-query median ratio vs the last
# recorded tail, never the canary alone — mechanized.
#
#   tools/bench3.sh [ref_tail_file] [out_json]
#
# ref_tail_file: any file containing "qNNN_name": seconds pairs (a raw
# Bench line, a BENCH3.json, or a driver BENCH_r{N}.json whose tail
# embeds the line). Default BENCH_r11.json. Queries under 50 ms in the
# reference are excluded from the ratio (pure noise).
set -euo pipefail
cd "$(dirname "$0")/.."
REF="${1:-BENCH_r11.json}"
OUT="${2:-BENCH3.json}"

for i in 1 2 3; do
  echo "== bench3 run $i/3 ==" >&2
  SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}" \
    tools/run.sh graft.Bench > "/tmp/bench3_run$i.out" 2>"/tmp/bench3_run$i.err" \
    || { echo "bench run $i failed:" >&2; tail -5 "/tmp/bench3_run$i.err" >&2; exit 1; }
done

python3 - "$REF" "$OUT" <<'EOF'
import json, re, statistics, sys
ref_path, out_path = sys.argv[1], sys.argv[2]

runs = []
for i in (1, 2, 3):
    lines = [l for l in open(f"/tmp/bench3_run{i}.out")
             if l.startswith("{") and '"queries"' in l]
    runs.append(json.loads(lines[-1]))

qnames = sorted(set().union(*[set(r["queries"]) for r in runs]))
med = {q: statistics.median([r["queries"][q] for r in runs if q in r["queries"]])
       for q in qnames}
errors = sorted({e for r in runs for e in (r.get("errors") or [])})

art = {
    "metric": "bench3_median", "unit": "sec",
    "value": round(sum(med.values()), 3),
    "n_queries": len(med),
    "runs": [{"total": round(r["value"], 1),
              "canary_q01": round(r["queries"].get("q01_tpch_q1", -1), 3)}
             for r in runs],
    "queries": {q: round(v, 4) for q, v in med.items()},
    "sf": runs[0].get("sf"),
    "errors": errors,
}

# reference tail. If the ref parses as JSON with a "queries" dict
# (a BENCH3.json or a fully-parsed driver artifact), read that dict
# DIRECTLY — the old regex-over-the-whole-file scraped any
# "qNNN_...": float pair, so a BENCH3 ref's own "worst_ratios"
# entries (values ~0.8-1.0) OVERWROTE those queries' true median
# seconds, corrupting the baseline for exactly the regression-tell
# queries (ADVICE r12, medium). The regex remains only as the
# fallback for raw/truncated driver tails that don't parse.
try:
    txt = open(ref_path).read()
    refq = {}
    try:
        parsed = json.loads(txt)
        refq = {q: float(v) for q, v in parsed["queries"].items()}
    except (ValueError, KeyError, TypeError, AttributeError):
        for m in re.finditer(r'"(q[0-9]+[a-z0-9_]*)"\s*:\s*([0-9]+\.[0-9]+)',
                             txt.replace("\\\"", '"')):
            refq[m.group(1)] = float(m.group(2))
    shared = [q for q in med if q in refq and refq[q] >= 0.05]
    if shared:
        ratios = sorted(med[q] / refq[q] for q in shared)
        art["ref"] = ref_path
        art["ref_shared_queries"] = len(shared)
        art["median_ratio_vs_ref"] = round(ratios[len(ratios) // 2], 3)
        worst = sorted(shared, key=lambda q: -(med[q] / refq[q]))[:5]
        art["worst_ratios"] = {q: round(med[q] / refq[q], 2) for q in worst}
        # WINDOW flag (r12 verdict #6): a uniform >1.15 median ratio
        # against the recorded reference marks a contention-inflated
        # host window — the artifact is a valid run record but MUST NOT
        # replace the reference tail, and its headline total needs
        # window correction before cross-round comparison. Mechanizes
        # the judgment call the r12 refresh made by hand in PERF.md.
        art["window_flag"] = art["median_ratio_vs_ref"] > 1.15
        if art["window_flag"]:
            print(f"bench3: WINDOW FLAG — median per-query ratio "
                  f"{art['median_ratio_vs_ref']} > 1.15 vs {ref_path}; "
                  f"treat this artifact as window-inflated, do not "
                  f"promote it to the reference tail", file=sys.stderr)
except FileNotFoundError:
    art["ref"] = None

json.dump(art, open(out_path, "w"), indent=1)
print(f"bench3: medians total {art['value']:.1f}s over {art['n_queries']} queries; "
      f"run totals {[r['total'] for r in art['runs']]}; "
      f"canaries {[r['canary_q01'] for r in art['runs']]}; "
      f"median ratio vs {art.get('ref')}: {art.get('median_ratio_vs_ref')}; "
      f"errors: {errors or 'none'}")
if errors:
    sys.exit(1)
EOF
