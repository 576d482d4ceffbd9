"""Unit tests of the benchmark's own arithmetic and table model.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import unittest
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import metrics as M  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_ninety_needs_ten_samples_beyond(self):
        self.assertEqual(M.tail_quantile(100), 90)
        self.assertEqual(M.tail_quantile(110), 90)
        # 99 samples: p90 sits at rank 90, only 9 beyond it
        self.assertEqual(M.tail_quantile(99), 89)

    def test_smaller_runs_report_a_lower_percentile(self):
        self.assertEqual(M.tail_quantile(50), 80)
        self.assertEqual(M.tail_quantile(28), 64)
        for n in (28, 50, 64, 99, 250):
            q = M.tail_quantile(n)
            self.assertGreaterEqual(n - math.ceil(q / 100 * n), M.MIN_BEYOND)
            if q < 90:
                q1 = q + 1
                self.assertLess(n - math.ceil(q1 / 100 * n), M.MIN_BEYOND)

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(M.tail_quantile(19), 50)
        self.assertEqual(M.tail_quantile(5), 50)

    def test_nearest_rank(self):
        vals = list(range(1, 101))
        self.assertEqual(M.percentile(vals, 50), 50)
        self.assertEqual(M.percentile(vals, 90), 90)
        self.assertEqual(M.percentile([7.0], 90), 7.0)


class FailuresAreMisses(unittest.TestCase):
    def test_a_failure_is_never_a_fast_sample(self):
        fast = [1.0] * 95
        p50, tail, q, n = M.latency(fast + [None] * 5)
        self.assertEqual((p50, n), (1.0, 100))
        self.assertEqual(q, 90)
        self.assertEqual(tail, 1.0)
        # ten failures reach the p90 rank: the tail is a miss
        p50, tail, _, _ = M.latency([1.0] * 90 + [None] * 10 + [2.0] * 0)
        self.assertEqual(tail, 1.0)
        _, tail, _, _ = M.latency([1.0] * 89 + [None] * 11)
        self.assertEqual(tail, math.inf)

    def test_failures_rank_above_slow_successes(self):
        self.assertEqual(M.percentile([5.0, None, 1.0], 100), math.inf)
        self.assertEqual(M.percentile([5.0, None, 1.0], 60), 5.0)

    def test_all_failed(self):
        self.assertEqual(M.latency([None] * 30)[0], math.inf)


def span(i, parent, s, e, name="x", op=0):
    return {"id": i, "parent": parent, "start_ms": s, "end_ms": e,
            "name": name, "op": op}


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [span(1, -1, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60),
                 span(4, 1, 90, 120)]
        st = M.self_times(spans)
        # children cover [10, 60] and [90, 100] of the parent: 60 ms
        self.assertAlmostEqual(st[1], 40)
        self.assertAlmostEqual(st[2], 30)
        self.assertAlmostEqual(st[4], 30)

    def test_nested_spans(self):
        spans = [span(1, -1, 0, 10), span(2, 1, 2, 8), span(3, 2, 3, 4)]
        st = M.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (4, 5, 1))
        self.assertAlmostEqual(sum(st.values()), 10)

    def test_layers(self):
        self.assertEqual(M.layer_of("operators.manifest.commit.upsert"),
                         "operators.manifest")
        self.assertEqual(M.layer_of("api.build"), "api")
        spans = [span(1, -1, 0, 10, "op.read"), span(2, 1, 0, 6, "api.build"),
                 span(3, 1, 6, 10, "exec.collect")]
        self.assertEqual(M.layer_self_ms(spans),
                         {"op": 0, "api": 6, "exec": 4})

    def test_concurrent_jobs_become_one_exec_span(self):
        spans = [span(1, -1, 0, 100, "op.q"), span(2, 1, 0, 100, "exec.collect")]
        jobs = [{"span": 2, "group": "op-0", "submit_ms": 10, "end_ms": 50},
                {"span": 2, "group": "op-0", "submit_ms": 20, "end_ms": 60},
                {"span": 2, "group": "op-0", "submit_ms": 70, "end_ms": 80}]
        derived = M.derived_spans(spans, jobs, [], set())
        self.assertEqual(sorted((d["start_ms"], d["end_ms"]) for d in derived),
                         [(10.0, 60.0), (70.0, 80.0)])
        st = M.self_times(spans + derived)
        self.assertAlmostEqual(st[2], 40)

    def test_spread(self):
        self.assertAlmostEqual(M.spread([10.0] * 10), 0.0)
        vals = [9, 10, 10, 10, 10, 10, 10, 10, 10, 11]
        self.assertLess(M.spread(vals), 0.05)


def row(k, price=1.0, status="O"):
    return (k, 7, status, price, datetime(1995, 1, 1), "1-URGENT")


class OrdersModel(unittest.TestCase):
    def test_mor_delete_then_upsert_then_time_travel(self):
        m = checks.OrdersModel([row(1), row(2)])
        m.commit(1)
        m.delete([2])  # merge-on-read delete of key 2
        m.commit(2)
        m.upsert([row(2, price=5.0)])  # the same key comes back, new body
        m.commit(3)
        self.assertEqual(set(m.at(1)), {1, 2})
        self.assertEqual(set(m.at(2)), {1})
        self.assertEqual(m.at(3)[2], row(2, price=5.0))
        self.assertEqual(m.at(1)[2], row(2))  # time travel sees the old body
        dels, ins = checks._changes(m.at(1), m.at(3))
        self.assertEqual((dels, ins), ([row(2)], [row(2, price=5.0)]))
        self.assertEqual(checks._changes(m.at(2), m.at(3)), ([], [row(2, 5.0)]))

    def test_merge_clauses(self):
        m = checks.OrdersModel([row(1), row(2)])
        m.merge([row(1) + ("D",), row(2, 9.0) + ("U",), row(3) + ("I",),
                 row(4) + ("D",)])
        self.assertEqual(m.state, {2: row(2, 9.0), 3: row(3)})

    def test_replay_and_forgotten_versions(self):
        m = checks.OrdersModel([row(1)])
        m.commit(1)
        m.append([row(5)])
        m.commit(2)
        m.forget_below(2)
        self.assertNotIn(1, m.versions)
        self.assertEqual(set(m.at(2)), {1, 5})


if __name__ == "__main__":
    unittest.main()
