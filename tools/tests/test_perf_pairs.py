"""Arithmetic of tools/perf_pairs.py on fixed numbers.

Run from the root of the repository:
    python3 -m unittest discover -s tools/tests -v
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import perf_pairs as pp  # noqa: E402


def result(failed=0, **metrics):
    return {"correct": failed == 0, "attempted": 20, "failed": failed,
            "metrics": {k: {"value": v, "unit": "s"} for k, v in metrics.items()}}


class Arithmetic(unittest.TestCase):

    def test_quartile_distance(self):
        # inclusive quartiles of 1..5 are 2 and 4
        self.assertEqual(pp.quartile_distance([5, 1, 3, 2, 4]), 2.0)
        self.assertEqual(pp.quartile_distance([0.78, 0.96, 1.01, 1.19, 1.20]),
                         1.19 - 0.96)
        self.assertEqual(pp.quartile_distance([7.0]), 0.0)

    def test_relative_move(self):
        self.assertAlmostEqual(pp.relative_move(2.0, 2.5), 0.25)
        self.assertAlmostEqual(pp.relative_move(2.0, 1.5), -0.25)
        self.assertEqual(pp.relative_move(0, 0), 0.0)
        self.assertEqual(pp.relative_move(0, 3), float("inf"))

    def test_within_bound_and_wins(self):
        s = pp.summarize([1.00, 1.02, 0.98, 1.01, 0.99], [1.05, 1.02, 0.97, 1.10, 1.01],
                         "lower", 0.25)
        self.assertEqual(s["parent_median"], 1.00)
        self.assertAlmostEqual(s["parent_iqr"], 0.02)
        self.assertEqual(s["change_median"], 1.02)
        self.assertAlmostEqual(s["move"], 0.02)
        # pair 1 is a tie and counts for neither side; pair 2 is the one win
        self.assertEqual(s["wins"], 1)
        self.assertEqual(s["verdict"], "within bound")

    def test_worse(self):
        s = pp.summarize([1.0, 1.0, 1.0], [1.3, 1.3, 1.3], "lower", 0.25)
        self.assertEqual(s["verdict"], "worse")
        # higher is better: a 30 % drop is worse too
        s = pp.summarize([100.0, 100.0, 100.0], [70.0, 70.0, 70.0], "higher", 0.25)
        self.assertAlmostEqual(s["move"], -0.30)
        self.assertEqual(s["verdict"], "worse")

    def test_unresolved_unless_every_change_run_is_better(self):
        # the parent's spread: 0.29 on a median of 1.01, wider than 0.25
        parent = [0.78, 0.96, 1.01, 1.30, 1.25]
        s = pp.summarize(parent, [0.90, 1.00, 1.05, 1.10, 0.95], "lower", 0.25)
        self.assertEqual(s["verdict"], "unresolved")
        s = pp.summarize(parent, [0.70, 0.72, 0.75, 0.71, 0.74], "lower", 0.25)
        self.assertEqual(s["wins"], 5)
        self.assertEqual(s["verdict"], "within bound")

    def test_claim_met(self):
        # 9 of 10 pairs won; median 1.00 -> 0.80, parent IQR 0.05
        parent = [1.00, 0.98, 1.02, 1.00, 0.99, 1.01, 1.03, 0.97, 1.00, 1.04]
        change = [0.80, 0.79, 0.81, 0.80, 0.78, 0.82, 0.80, 0.79, 0.81, 1.10]
        self.assertEqual(pp.claim(parent, change, "lower"), (True, ""))
        # higher is better: the same numbers read the other way round
        self.assertTrue(pp.claim(change, parent, "higher")[0])

    def test_claim_needs_nine_of_ten_pairs(self):
        parent = [1.0] * 10
        change = [0.8] * 8 + [1.2, 1.0]  # 8 wins, 1 loss, 1 tie
        met, why = pp.claim(parent, change, "lower")
        self.assertFalse(met)
        self.assertEqual(why, "won 8/10 pairs, needs 9 of every 10")

    def test_claim_needs_the_median_past_the_parent_spread(self):
        # every pair won and the median moves 15 %, but the parent's own
        # runs spread wider than that (quartiles 0.8625 and 1.2375 around 1.00)
        parent = [0.80, 0.85, 0.85, 0.90, 1.00, 1.00, 1.20, 1.25, 1.25, 1.30]
        change = [p * 0.85 for p in parent]
        self.assertAlmostEqual(pp.quartile_distance(parent), 0.375)
        met, why = pp.claim(parent, change, "lower")
        self.assertFalse(met)
        self.assertTrue(why.startswith("median gain 0.15 is not above"), why)

    def test_report_prints_the_claim(self):
        e2e = [{"name": "job_s", "better": "lower", "bound": 0.25}]
        pairs = [(result(job_s=1.0 + i / 100, sink_files=1, sink_bytes=2),
                  result(job_s=0.5, sink_files=1, sink_bytes=2)) for i in range(10)]
        self.assertEqual(pp.report(pairs, e2e, "job_s")[-1], "job_s: claim met")
        self.assertEqual(len(pp.report(pairs, e2e)), 2)

    def test_flags(self):
        same = dict(sink_files=12, sink_bytes=3400)
        pairs = [(result(**same), result(**same)),
                 (result(sink_files=12, sink_bytes=3400), result(sink_files=13, sink_bytes=3400)),
                 (result(failed=1, **same), None)]
        self.assertEqual(pp.flags(pairs), [
            "pair 1: sink_files differ: parent 12, change 13",
            "pair 2: parent run failed 1 of 20 jobs",
            "pair 2: change run gave no result"])

    def test_report_skips_incomplete_pairs(self):
        e2e = [{"name": "job_s", "better": "lower", "bound": 0.25}]
        pairs = [(result(job_s=1.0, sink_files=1, sink_bytes=2),
                  result(job_s=0.9, sink_files=1, sink_bytes=2)),
                 (None, result(job_s=5.0, sink_files=1, sink_bytes=2))]
        lines = pp.report(pairs, e2e)
        self.assertIn("1/1", lines[1])
        self.assertTrue(lines[1].endswith("within bound"))
        self.assertEqual(lines[2:], ["pair 1: parent run gave no result"])

    def test_last_json(self):
        self.assertEqual(pp.last_json('failed_ratio 0\n{"failed": 0}\n\n'), {"failed": 0})
        self.assertIsNone(pp.last_json("perfbench: no job finished\n"))
        self.assertIsNone(pp.last_json(""))


if __name__ == "__main__":
    unittest.main()
