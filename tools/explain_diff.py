#!/usr/bin/env python3
"""Compare two EXPLAINS.md dumps plan by plan.

    python3 tools/explain_diff.py EXPLAINS.md fresh.md

Both files are `graft.tools.Explain` output: a header, then one
`## <query>` section per pinned query with its formatted physical
plan. Before comparing, each section drops the tokens that change from
run to run or with unrelated edits, not with the plan:

  - expression ids (`l_quantity#4`, `count#50L`) and `plan_id=N`;
  - RDD ids and the source line of the call that made the RDD
    (`MapPartitionsRDD[53] at localCheckpoint at Dedup.scala:557`);
  - numbered lambda variables (`lambda x_12`), and the JVM names and
    identity hashes of function objects (`Multimodal$$$Lambda$7442/0x...@436528c3`);
  - the random suffix of temp directories (`/tmp/graft_dpp8585...`);
  - in plans that already ran (an adaptive plan's `Final Plan`, e.g. a
    persisted frame's), the query stage ids and whole-stage codegen
    ids: both follow the order in which stages finished;
  - the header above the first section.

From an `Expand` node on, each line is compared as a multiset of its
tokens: Spark orders and numbers an Expand's projection groups
differently from run to run (q249_eval_contamination's two
`countDistinct` aggregates), and that column order and group number
carry into every node above it.

Exit 0 when both files hold the same sections with equal plans; exit 1
naming each differing section and its first differing line.
"""
import re
import sys

_SUBS = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\b([A-Za-z]\w{0,80}\.scala):\d+"), r"\1:N"),
    (re.compile(r"\blambda (\w+?)_\d+"), r"lambda \1_N"),
    (re.compile(r"(/tmp/[A-Za-z_]*?)\d+"), r"\1N"),
    (re.compile(r"\$Lambda(\$\d+)?/0x[0-9a-f]+"), "$Lambda"),
    (re.compile(r"(\w)@[0-9a-f]{4,8}\b"), r"\1@H"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
]
_NODE = re.compile(r"^\(\d+\) (\S+)")
_EXPAND = re.compile(r"^\(\d+\) Expand$")
_TOKEN = re.compile(r"\w+|[^\w\s]")


def normalize(section):
    """One section's text with run-specific tokens replaced."""
    lines, node, unordered = [], None, False
    for line in section.rstrip().split("\n"):
        line = line.rstrip()
        for pat, rep in _SUBS:
            line = pat.sub(rep, line)
        m = _NODE.match(line)
        node = m.group(1) if m else (None if not line else node)
        if node and node.endswith("QueryStage") and line.startswith("Arguments: "):
            line = "Arguments: N"  # the stage id
        unordered = unordered or bool(_EXPAND.match(line))
        if unordered:
            line = " ".join(sorted(_TOKEN.findall(line)))
        lines.append(line)
    return "\n".join(lines)


def sections(text):
    """{query name: normalized section} of one EXPLAINS.md dump."""
    parts = re.split(r"^## (\S+)$", text, flags=re.M)
    return {parts[i]: normalize(parts[i + 1]) for i in range(1, len(parts), 2)}


def diff(expected, actual):
    """Differences between two dumps, one message per section."""
    a, b = sections(expected), sections(actual)
    msgs = [f"{n}: only in the first dump" for n in sorted(a.keys() - b.keys())]
    msgs += [f"{n}: only in the second dump" for n in sorted(b.keys() - a.keys())]
    for n in sorted(a.keys() & b.keys()):
        if a[n] != b[n]:
            la, lb = a[n].split("\n"), b[n].split("\n")
            i = next((i for i, (x, y) in enumerate(zip(la, lb)) if x != y),
                     min(len(la), len(lb)))
            x = la[i] if i < len(la) else "<end>"
            y = lb[i] if i < len(lb) else "<end>"
            msgs.append(f"{n}: line {i + 1} differs\n  - {x[:200]}\n  + {y[:200]}")
    return msgs


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().split("\n\n")[1])
        return 2
    with open(argv[1]) as f:
        expected = f.read()
    with open(argv[2]) as f:
        actual = f.read()
    msgs = diff(expected, actual)
    for m in msgs:
        print(m)
    n = len(sections(expected))
    if msgs:
        print(f"PLANS DIFFER: {len(msgs)} of {n} sections")
        return 1
    print(f"plans equal: {n} sections")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
