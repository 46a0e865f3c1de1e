"""Arithmetic of the benchmark: percentiles, geometric means, span self time, golden
fingerprint checks and the parent/change comparison of two run sets.
Pure functions over plain data, tested by benchmark/test_stats.py."""

import math
import statistics

PERCENTILES = (50, 90, 99, 99.9)


def percentile(values, p):
    """Linear-interpolated p-th percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def geomean(values):
    """Geometric mean of positive samples."""
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def samples_beyond(n, p):
    """Number of samples above the p-th percentile of n samples."""
    return int(round(n * (100.0 - p) / 100.0, 9))


def highest_supported_percentile(n, candidates=PERCENTILES, beyond=10):
    """The highest candidate percentile with at least `beyond` samples
    above it, or None when not even the lowest has."""
    ok = [p for p in candidates if samples_beyond(n, p) >= beyond]
    return max(ok) if ok else None


def self_times(spans):
    """{span id: duration minus the part of it covered by its children}.
    A span is a dict with id, parent, start_ns and end_ns; overlapping
    children (concurrent work) are counted once."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start_ns"], s["end_ns"]
        covered, cur_lo, cur_hi = 0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], start), min(c["end_ns"], end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (end - start) - covered
    return out


def check_fingerprints(ops, golden):
    """Compare each completed query's fingerprint with the golden one.
    Returns (attempted, failures) where failures lists (name, reason); a
    query that raised, has no golden entry, or hashed differently fails."""
    failures = []
    for op in ops:
        if not op.get("ok"):
            failures.append((op["name"], "error " + op.get("error", "?")))
        elif op["name"] not in golden:
            failures.append((op["name"], "no golden fingerprint"))
        elif op["fp"] != golden[op["name"]]:
            failures.append((op["name"], f"fingerprint {op['fp']} != {golden[op['name']]}"))
    return len(ops), failures


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def compare(parent, change, metrics):
    """Parent/change verdict per (workload, metric).

    parent, change: {workload: [{metric: value}, ...]} (one dict per run).
    metrics: {metric: {"better": "lower"|"higher", "bound": share}}.
    Returns {(workload, metric): row} with both medians, the change as a
    share of the parent median (positive = worse) and a verdict:
      "regressed"  the change is worse by more than the bound;
      "unresolved" the parent's own spread exceeds the bound and not every
                   change run beats every parent run;
      "ok"         otherwise.
    """
    rows = {}
    for wl in sorted(set(parent) & set(change)):
        for m, spec in metrics.items():
            a = [r[m] for r in parent[wl] if m in r]
            b = [r[m] for r in change[wl] if m in r]
            if not a or not b:
                continue
            ma, mb = statistics.median(a), statistics.median(b)
            sign = 1.0 if spec["better"] == "lower" else -1.0
            worse = sign * (mb - ma) / ma if ma else 0.0
            parent_spread = spread(a) if len(a) >= 2 else 0.0
            all_better = (max(b) < min(a)) if sign > 0 else (min(b) > max(a))
            if worse > spec["bound"]:
                verdict = "regressed"
            elif parent_spread > spec["bound"] and not all_better:
                verdict = "unresolved"
            else:
                verdict = "ok"
            rows[(wl, m)] = {"parent": ma, "change": mb, "worse": worse,
                             "parent_spread": parent_spread, "verdict": verdict}
    return rows
