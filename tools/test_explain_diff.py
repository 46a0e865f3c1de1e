"""Tests for tools/explain_diff.py: run-specific tokens compare equal,
a changed plan does not.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import unittest

import explain_diff

HEAD = "# EXPLAINS\n\nGenerated by `graft.tools.Explain` at `{dir}`.\n"

PLAN = """
## q1_join

join note

```
== Physical Plan ==
AdaptiveSparkPlan (4)
+- BroadcastHashJoin Inner BuildRight (3)
   :- Scan ExistingRDD (1)
   +- Scan parquet  (2)

(1) Scan ExistingRDD
Arguments: [doc_id#{a}L, sig#{b}L], MapPartitionsRDD[{rdd}] at localCheckpoint at Dedup.scala:{line}, ExistingRDD

(2) Scan parquet
Location: InMemoryFileIndex [file:/tmp/graft_dpp{tmp}/orders]

(3) BroadcastHashJoin [codegen id : {cg}]
Left keys [1]: [doc_id#{a}L]
Condition : (transform(v#{b}, lambdafunction((lambda x_{lam}#{a} * 2.0), lambda x_{lam}#{a})) AND invoke(graft.operators.Multimodal$$$Lambda${fn}/0x{addr}@{hash}.apply(obj#{a})))
Arguments: [plan_id={pid}]

(5) ShuffleQueryStage
Output [1]: [doc_id#{a}L]
Arguments: {stage}
```

## q2_distinct

```
(46) Expand
Input [3]: [gram#{a}, train_id#{b}L, eval_id#{a}L]
Arguments: [[eval_id#{a}L, {g1}, 1], [eval_id#{a}L, {g2}, 2]], [eval_id#{a}L, {out}, gid#{b}]

(47) HashAggregate
Keys [4]: [eval_id#{a}L, {out}, gid#{b}]
Functions [2]: [partial_count(gram#{a}) FILTER (WHERE (gid#{b} = {ng})), partial_count(train_id#{b}L) FILTER (WHERE (gid#{b} = {nt}))]
```
"""

RUN_A = dict(dir="/data/a", a=4, b=10, rdd=53, line=557, tmp=8585291959108228902,
             lam=12, fn=7442, addr="00007f2dcdad13d0", hash="436528c3", pid=19, cg=4, stage=5,
             g1="gram#4, null", g2="null, train_id#10L",
             out="gram#11, train_id#12L", ng=1, nt=2)
RUN_B = dict(dir="/data/b", a=904, b=77, rdd=3121, line=541, tmp=1559544334636867029,
             lam=3, fn=7406, addr="00007f43a5545400", hash="c617585", pid=60770, cg=6, stage=7,
             g1="null, train_id#77L", g2="gram#904, null",
             out="train_id#78L, gram#79", ng=2, nt=1)


def dump(plan, **run):
    return (HEAD + plan).format(**run)


class ExplainDiffTest(unittest.TestCase):
    def test_run_specific_tokens_compare_equal(self):
        self.assertEqual(explain_diff.diff(dump(PLAN, **RUN_A), dump(PLAN, **RUN_B)), [])

    def test_changed_operator_compares_unequal(self):
        changed = PLAN.replace("BroadcastHashJoin", "SortMergeJoin")
        msgs = explain_diff.diff(dump(PLAN, **RUN_A), dump(changed, **RUN_A))
        self.assertEqual(len(msgs), 1)
        self.assertTrue(msgs[0].startswith("q1_join: line"), msgs[0])

    def test_changed_operator_above_an_expand_compares_unequal(self):
        changed = PLAN.replace("(47) HashAggregate", "(47) SortAggregate")
        msgs = explain_diff.diff(dump(PLAN, **RUN_A), dump(changed, **RUN_B))
        self.assertEqual([m.split(":")[0] for m in msgs], ["q2_distinct"])

    def test_changed_condition_compares_unequal(self):
        changed = PLAN.replace("* 2.0", "* 3.0")
        self.assertEqual(len(explain_diff.diff(dump(PLAN, **RUN_A), dump(changed, **RUN_A))), 1)

    def test_missing_section_compares_unequal(self):
        cut = PLAN[:PLAN.index("## q2_distinct")]
        msgs = explain_diff.diff(dump(PLAN, **RUN_A), dump(cut, **RUN_A))
        self.assertEqual(msgs, ["q2_distinct: only in the first dump"])


if __name__ == "__main__":
    unittest.main()
