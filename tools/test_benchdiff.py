"""Tests for tools/benchdiff.py: python3 -m unittest discover -s tools"""
import contextlib
import io
import json
import os
import tempfile
import unittest

import benchdiff


def record(queries, profile, errors=None, cpus=None):
    rec = {"metric": "total", "queries": queries, "profile": profile,
           "errors": errors or {}}
    if cpus is not None:
        rec["cpus"] = cpus
    return rec


def write_records(d, *recs):
    paths = []
    for i, rec in enumerate(recs):
        path = os.path.join(d, "r%d.json" % i)
        with open(path, "w") as f:
            f.write(json.dumps(rec) + "\n")
        paths.append(path)
    return paths


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
            paths = write_records(d, p, p)
            _, rows = benchdiff.diff(p, p, match="q_catalog_")
            self.assertEqual([r["query"] for r in rows], ["q_catalog_x"])
            self.assertEqual(benchdiff.main(paths + ["--match", "q_catalog_"]), 0)

    def test_refuses_different_legs(self):
        prof = {"q": {"stages": 1, "jobs": 1}}
        p = record({"q": 1.0}, prof, cpus=8)
        c = record({"q": 1.0}, prof, cpus=32)
        self.assertEqual(benchdiff.leg_check(p, c)[0], False)
        with tempfile.TemporaryDirectory() as d:
            err = io.StringIO()
            with contextlib.redirect_stderr(err):
                self.assertEqual(benchdiff.main(write_records(d, p, c)), 2)
            self.assertIn("cpus=8", err.getvalue())
        self.assertEqual(benchdiff.leg_check(p, record({"q": 1.0}, prof, cpus=8)), (True, None))

    def test_warns_when_leg_unknown(self):
        prof = {"q": {"stages": 1, "jobs": 1}}
        p = record({"q": 1.0}, prof)  # a record from before "cpus"
        c = record({"q": 1.0}, prof, cpus=8)
        with tempfile.TemporaryDirectory() as d:
            err, out = io.StringIO(), io.StringIO()
            with contextlib.redirect_stderr(err), contextlib.redirect_stdout(out):
                self.assertEqual(benchdiff.main(write_records(d, p, c)), 0)
            self.assertIn("leg unknown", err.getvalue())
            self.assertIn("within noise", out.getvalue())


if __name__ == "__main__":
    unittest.main()
