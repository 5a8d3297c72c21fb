"""Tests for tools/benchdiff.py: python3 -m unittest discover -s tools"""
import json
import os
import tempfile
import unittest

import benchdiff


def record(queries, profile, errors=None):
    return {"metric": "total", "queries": queries, "profile": profile,
            "errors": errors or {}}


class BenchDiffTest(unittest.TestCase):

    def test_plan_change_wins_over_time(self):
        p = record({"q": 1.0}, {"q": {"stages": 4, "jobs": 2}})
        c = record({"q": 1.0}, {"q": {"stages": 3, "jobs": 2}})
        _, rows = benchdiff.diff(p, c, floor=0.05)
        self.assertEqual(rows[0]["label"], "plan changed")

    def test_band_scales_with_stages(self):
        prof = {"q": {"stages": 10, "jobs": 3}}
        p = record({"q": 1.0}, prof)
        # 0.4 s slower is inside 10 stages x 0.05 s ...
        _, rows = benchdiff.diff(p, record({"q": 1.4}, prof), floor=0.05)
        self.assertEqual(rows[0]["label"], "within noise")
        # ... 0.6 s is not
        _, rows = benchdiff.diff(p, record({"q": 1.6}, prof), floor=0.05)
        self.assertEqual(rows[0]["label"], "slower")
        _, rows = benchdiff.diff(p, record({"q": 0.4}, prof), floor=0.05)
        self.assertEqual(rows[0]["label"], "faster")

    def test_relative_band_for_work_bound_queries(self):
        prof = {"q": {"stages": 1, "jobs": 1}}
        p = record({"q": 20.0}, prof)
        _, rows = benchdiff.diff(p, record({"q": 21.5}, prof), floor=0.05)
        self.assertEqual(rows[0]["label"], "within noise")
        _, rows = benchdiff.diff(p, record({"q": 22.5}, prof), floor=0.05)
        self.assertEqual(rows[0]["label"], "slower")

    def test_errors_and_missing_profiles(self):
        p = record({"a": -1.0, "b": 1.0, "c": 1.0},
                   {"a": {"stages": 1, "jobs": 1}, "b": {"stages": 1, "jobs": 1}},
                   errors={"a": "boom"})
        c = record({"a": 1.0, "b": 1.0, "c": 1.0},
                   {"a": {"stages": 1, "jobs": 1}, "b": {"stages": 1, "jobs": 1}})
        _, rows = benchdiff.diff(p, c, floor=0.05)
        self.assertEqual([r["label"] for r in rows], ["error", "within noise", "no profile"])

    def test_fitted_floor_is_lower_quartile_per_stage(self):
        qs = {"q%d" % i: float(i) for i in range(1, 9)}
        prof = {q: {"stages": 10, "jobs": 1} for q in qs}
        # seconds per stage are 0.1 .. 0.8; a failed query never counts
        qs["bad"] = -1.0
        prof["bad"] = {"stages": 1, "jobs": 1}
        floor = benchdiff.fit_floor(record(qs, prof))
        self.assertAlmostEqual(floor, 0.225)

    def test_match_and_cli(self):
        prof = {"q_catalog_x": {"stages": 2, "jobs": 1}, "q_other": {"stages": 2, "jobs": 1}}
        p = record({"q_catalog_x": 1.0, "q_other": 1.0}, prof)
        with tempfile.TemporaryDirectory() as d:
            paths = []
            for name, rec in (("p.json", p), ("c.json", p)):
                path = os.path.join(d, name)
                with open(path, "w") as f:
                    f.write(json.dumps(rec) + "\n")
                paths.append(path)
            _, rows = benchdiff.diff(p, p, match="q_catalog_")
            self.assertEqual([r["query"] for r in rows], ["q_catalog_x"])
            self.assertEqual(benchdiff.main(paths + ["--match", "q_catalog_"]), 0)


if __name__ == "__main__":
    unittest.main()
