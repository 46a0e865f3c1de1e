"""Tests of the benchmark's own arithmetic and output checks.

    python3 -m unittest discover -s benchmark -p 'test_*.py'
"""

import random
import unittest

import sessions
import stats


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4, 5], 50), 3)
        self.assertAlmostEqual(stats.percentile(range(1, 11), 90), 9.1)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.highest_supported_percentile(19))
        self.assertEqual(stats.highest_supported_percentile(20), 50)
        self.assertEqual(stats.highest_supported_percentile(99), 50)
        self.assertEqual(stats.highest_supported_percentile(100), 90)
        self.assertEqual(stats.highest_supported_percentile(123), 90)
        self.assertEqual(stats.highest_supported_percentile(999), 90)
        self.assertEqual(stats.highest_supported_percentile(1000), 99)
        self.assertEqual(stats.highest_supported_percentile(10000), 99.9)


class GeomeanTest(unittest.TestCase):
    def test_geometric_mean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10)
        self.assertAlmostEqual(stats.geomean([5]), 5)
        with self.assertRaises(ValueError):
            stats.geomean([])
        with self.assertRaises(ValueError):
            stats.geomean([3, 0])


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end):
        return {"id": i, "parent": parent, "start_ns": start, "end_ns": end}

    def test_children_subtracted_once(self):
        spans = [self.span(1, 0, 0, 100),
                 self.span(2, 1, 10, 30),   # child
                 self.span(3, 1, 20, 50),   # overlaps child 2: covered 10..50 once
                 self.span(4, 1, 60, 70),
                 self.span(5, 2, 12, 14)]   # grandchild: not subtracted from 1
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 40 - 10)
        self.assertEqual(st[2], 20 - 2)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[5], 2)

    def test_child_clipped_to_parent(self):
        st = stats.self_times([self.span(1, 0, 0, 10), self.span(2, 1, 5, 25)])
        self.assertEqual(st[1], 5)


class FingerprintCheckTest(unittest.TestCase):
    golden = {"q1": "10:5:7", "q2": "3:1:1"}

    def test_match_passes(self):
        ops = [{"name": "q1", "ok": True, "fp": "10:5:7"}, {"name": "q2", "ok": True, "fp": "3:1:1"}]
        self.assertEqual(stats.check_fingerprints(ops, self.golden), (2, []))

    def test_planted_mismatch_is_a_failure(self):
        ops = [{"name": "q1", "ok": True, "fp": "10:5:8"}, {"name": "q2", "ok": True, "fp": "3:1:1"}]
        attempted, failures = stats.check_fingerprints(ops, self.golden)
        self.assertEqual(attempted, 2)
        self.assertEqual([f[0] for f in failures], ["q1"])

    def test_error_and_unknown_query_fail(self):
        ops = [{"name": "q1", "ok": False, "error": "java.lang.ArithmeticException"},
               {"name": "q9", "ok": True, "fp": "1:1:1"}]
        _, failures = stats.check_fingerprints(ops, self.golden)
        self.assertEqual(len(failures), 2)
        self.assertIn("ArithmeticException", failures[0][1])


class CompareTest(unittest.TestCase):
    metrics = {"wall_s": {"better": "lower", "bound": 0.1},
               "rate_per_s": {"better": "higher", "bound": 0.1}}

    @staticmethod
    def runs(walls, rates):
        return [{"wall_s": w, "rate_per_s": r} for w, r in zip(walls, rates)]

    def test_no_change_is_ok(self):
        p = {"relational": self.runs([10, 10.2, 9.9, 10.1], [4, 4.1, 3.9, 4])}
        rows = stats.compare(p, p, self.metrics)
        self.assertEqual({r["verdict"] for r in rows.values()}, {"ok"})

    def test_regression_beyond_bound(self):
        p = {"serve": self.runs([10, 10.1, 9.9, 10], [4, 4, 4, 4])}
        c = {"serve": self.runs([11.5, 11.6, 11.4, 11.5], [3.5, 3.5, 3.5, 3.5])}
        rows = stats.compare(p, c, self.metrics)
        self.assertEqual(rows[("serve", "wall_s")]["verdict"], "regressed")
        self.assertAlmostEqual(rows[("serve", "wall_s")]["worse"], 0.15)
        self.assertEqual(rows[("serve", "rate_per_s")]["verdict"], "regressed")

    def test_noisy_parent_is_unresolved(self):
        p = {"relational": self.runs([8, 10, 12, 14], [4, 4, 4, 4])}
        c = {"relational": self.runs([9, 11, 13, 12], [4, 4, 4, 4])}
        rows = stats.compare(p, c, self.metrics)
        self.assertEqual(rows[("relational", "wall_s")]["verdict"], "unresolved")

    def test_only_shared_workloads_compared(self):
        p = {"relational": self.runs([1, 1], [1, 1]), "serve": self.runs([1, 1], [1, 1])}
        c = {"relational": self.runs([1, 1], [1, 1])}
        self.assertEqual({k[0] for k in stats.compare(p, c, self.metrics)}, {"relational"})


class SessionTest(unittest.TestCase):
    def test_sessions_are_seeded_and_well_formed(self):
        a = sessions.make_sessions(7, 3, "d")
        self.assertEqual(a, sessions.make_sessions(7, 3, "d"))
        self.assertNotEqual(a, sessions.make_sessions(8, 3, "d"))
        n = len(sessions.SHAPES)
        for c in range(3):  # every cycle issues the same pool
            self.assertCountEqual(map(str, a[c * n:(c + 1) * n]),
                                  map(str, sessions.session_pool(1, "d")))
        for s in a + sessions.session_pool(0, "d"):
            self.assertTrue(1 <= len(s["ops"]) <= 8)
            self.assertEqual(("Join" in str(s["ops"])), s["right"] is not None)
            sessions.lineage_sql(sessions.session_lineage(s))  # translatable

    def test_sessions_span_one_to_eight_ops(self):
        rng = random.Random(3)
        lens = [len(sessions.make_session(rng, "d", shape)["ops"])
                for _ in range(200) for shape in sessions.SHAPES]
        self.assertEqual((min(lens), max(lens)), (1, 8))

    def test_count_reply_checked(self):
        class Con:
            def execute(self, q):
                class R:
                    def fetchone(self):
                        return (42,)
                return R()
        s = {"read": {"Read": ["parquet", "d/orders.parquet", {"columns": []}]},
             "ops": [], "right": None, "action": "Count"}
        self.assertIsNone(sessions.check_reply(Con(), s, {"count": {"Int": [42]}}))
        self.assertIsNotNone(sessions.check_reply(Con(), s, {"count": {"Int": [41]}}))


if __name__ == "__main__":
    unittest.main()
