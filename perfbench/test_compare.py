"""Tests of the result comparator: python3 -m unittest discover -s perfbench"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import compare  # noqa: E402

BENCH = {"end_to_end": [
    {"name": "latency_p50_ms", "unit": "ms", "better": "lower", "bound": 0.1},
    {"name": "ops_per_s", "unit": "1/s", "better": "higher", "bound": 0.1},
]}


def runs(latencies, rates):
    return {"w": [{"metrics": {"latency_p50_ms": {"value": l}, "ops_per_s": {"value": r}}}
                  for l, r in zip(latencies, rates)]}


BASE_LAT = [100.0, 101.0, 99.0, 100.5, 99.5, 100.2, 99.8, 100.1, 99.9, 100.3]
BASE_OPS = [10.0, 10.1, 9.9, 10.05, 9.95, 10.02, 9.98, 10.01, 9.99, 10.03]


class CompareTest(unittest.TestCase):
    def verdicts(self, parent, change):
        return {r[1]: r[-1] for r in compare.compare(parent, change, BENCH)}

    def test_same_code_is_same(self):
        v = self.verdicts(runs(BASE_LAT, BASE_OPS), runs(BASE_LAT[::-1], BASE_OPS[::-1]))
        self.assertEqual(v, {"latency_p50_ms": "same", "ops_per_s": "same"})

    def test_perturbed_result_is_flagged_worse(self):
        slow = [x * 1.5 for x in BASE_LAT]
        fewer = [x * 0.5 for x in BASE_OPS]
        v = self.verdicts(runs(BASE_LAT, BASE_OPS), runs(slow, fewer))
        self.assertEqual(v, {"latency_p50_ms": "worse", "ops_per_s": "worse"})

    def test_clear_gain_is_better(self):
        fast = [x * 0.8 for x in BASE_LAT]
        v = self.verdicts(runs(BASE_LAT, BASE_OPS), runs(fast, BASE_OPS))
        self.assertEqual(v["latency_p50_ms"], "better")
        self.assertEqual(v["ops_per_s"], "same")

    def test_wide_spread_is_unresolved(self):
        noisy = [50.0, 150.0, 80.0, 120.0, 60.0, 140.0, 90.0, 110.0, 70.0, 130.0]
        v = self.verdicts(runs(BASE_LAT, BASE_OPS), runs(noisy, BASE_OPS))
        self.assertEqual(v["latency_p50_ms"], "unresolved")

    def test_pair_wins_follow_direction(self):
        _, pw, cw = compare.verdict([1.0, 2.0, 3.0], [2.0, 3.0, 4.0], "higher", 10.0)
        self.assertEqual((pw, cw), (0, 3))
        _, pw, cw = compare.verdict([1.0, 2.0, 3.0], [2.0, 3.0, 4.0], "lower", 10.0)
        self.assertEqual((pw, cw), (3, 0))


if __name__ == "__main__":
    unittest.main()
