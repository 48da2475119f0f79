"""Tests for compare.py on synthetic run records.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import io
import json
import os
import sys
import tempfile
import unittest
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import compare  # noqa: E402

BENCH = {
    "workloads": [{"name": "w1", "why": ""}, {"name": "w2", "why": ""}],
    "end_to_end": [
        {"name": "wall_s", "unit": "s", "better": "lower", "bound": 0.1},
        {"name": "rate", "unit": "1/s", "better": "higher", "bound": 0.1},
    ],
    "per_layer": [{"name": "layer_s", "unit": "s", "better": "lower"}],
}


def rec(workload, seed, started, trace=0, **metrics):
    section = "per_layer" if trace else "end_to_end"
    r = {"workload": workload, "seed": seed, "trace": trace, "started": started,
         "end_to_end": {}, "per_layer": {}}
    r[section] = metrics
    return r


def runs(workload, values, metric="wall_s", trace=0, seed0=1):
    return [rec(workload, seed0 + i, i, trace, **{metric: v}) for i, v in enumerate(values)]


def rows(base, new):
    return {(r["workload"], r["metric"]): r for r in compare.compare(base, new, BENCH)}


class VerdictTest(unittest.TestCase):
    def test_clear_gain_is_improved(self):
        base = runs("w1", [10.0, 10.1, 9.9, 10.2, 10.0, 9.8, 10.1, 10.0, 9.9, 10.0])
        new = runs("w1", [8.0, 8.1, 7.9, 8.2, 8.0, 7.8, 8.1, 8.0, 7.9, 8.0])
        r = rows(base, new)[("w1", "wall_s")]
        self.assertEqual(r["verdict"], "improved")
        self.assertEqual(r["won"], 1.0)
        self.assertEqual(r["pairs"], 10)

    def test_same_distribution_is_no_worse(self):
        vals = [10.0, 10.1, 9.9, 10.2, 10.0, 9.8, 10.1, 10.0, 9.9, 10.0]
        r = rows(runs("w1", vals), runs("w1", list(reversed(vals))))[("w1", "wall_s")]
        self.assertEqual(r["verdict"], "no worse")

    def test_regression_beyond_bound_is_worse(self):
        base = runs("w1", [10.0] * 5 + [10.1] * 5)
        new = runs("w1", [11.5] * 10)
        self.assertEqual(rows(base, new)[("w1", "wall_s")]["verdict"], "worse")

    def test_small_regression_within_bound_is_no_worse(self):
        base = runs("w1", [10.0, 10.1] * 5)
        new = runs("w1", [10.5, 10.6] * 5)
        self.assertEqual(rows(base, new)[("w1", "wall_s")]["verdict"], "no worse")

    def test_parent_spread_wider_than_bound_is_unresolved(self):
        base = runs("w1", [8.0, 12.0, 9.0, 11.0, 10.0, 7.0, 13.0, 10.0, 9.5, 10.5])
        new = runs("w1", [10.0, 9.0, 11.0, 10.5, 9.5, 12.0, 8.0, 10.0, 11.5, 8.5])
        self.assertEqual(rows(base, new)[("w1", "wall_s")]["verdict"], "unresolved")

    def test_wide_spread_but_every_change_run_better_is_not_unresolved(self):
        base = runs("w1", [20.0, 30.0, 25.0, 22.0, 28.0])
        new = runs("w1", [18.0, 19.0, 17.5, 19.5, 18.5])
        # the gain (6.5) is inside the parent's quartile distance, so no claim
        self.assertEqual(rows(base, new)[("w1", "wall_s")]["verdict"], "no worse")

    def test_higher_is_better_direction(self):
        base = runs("w1", [100.0, 101.0, 99.0, 100.5, 100.0], metric="rate")
        new = runs("w1", [120.0, 121.0, 119.0, 120.5, 120.0], metric="rate")
        r = rows(base, new)[("w1", "rate")]
        self.assertEqual(r["verdict"], "improved")
        slower = rows(new, base)[("w1", "rate")]
        self.assertEqual(slower["verdict"], "worse")

    def test_win_share_counts_ties_for_neither(self):
        base = runs("w1", [10.0, 10.0, 10.0, 10.0])
        new = runs("w1", [9.0, 10.0, 10.0, 11.0])
        self.assertEqual(rows(base, new)[("w1", "wall_s")]["won"], 0.25)

    def test_pairs_match_seeds_before_start_order(self):
        base = [rec("w1", 5, 0, wall_s=10.0), rec("w1", 6, 1, wall_s=20.0)]
        new = [rec("w1", 6, 0, wall_s=19.0), rec("w1", 5, 1, wall_s=11.0)]
        r = rows(base, new)[("w1", "wall_s")]
        # by seed: (10 vs 11) lost, (20 vs 19) won; by order it would be 2/2 won
        self.assertEqual(r["won"], 0.5)

    def test_per_layer_uses_traced_records_only_and_has_no_bound(self):
        base = runs("w1", [5.0, 5.1, 4.9, 5.0, 5.05], metric="layer_s", trace=1)
        new = runs("w1", [5.02, 4.98, 5.1, 4.95, 5.0], metric="layer_s", trace=1)
        base += runs("w1", [10.0] * 5)  # untraced: must not feed layer_s
        got = rows(base, new)
        self.assertEqual(got[("w1", "layer_s")]["verdict"], "unresolved")
        self.assertEqual(got[("w1", "layer_s")]["runs"], (5, 5))
        self.assertNotIn(("w1", "wall_s"), got)

    def test_workloads_are_reported_separately(self):
        base = runs("w1", [10.0] * 4) + runs("w2", [5.0] * 4)
        new = runs("w1", [10.0] * 4) + runs("w2", [7.0] * 4)
        got = rows(base, new)
        self.assertEqual(got[("w1", "wall_s")]["verdict"], "no worse")
        self.assertEqual(got[("w2", "wall_s")]["verdict"], "worse")


class CliTest(unittest.TestCase):
    def test_reads_record_directories(self):
        with tempfile.TemporaryDirectory() as d:
            bench = os.path.join(d, "BENCHMARK.json")
            with open(bench, "w") as f:
                json.dump(BENCH, f)
            for side, vals in (("a", [10.0, 10.2, 9.9]), ("b", [8.0, 8.1, 7.9])):
                os.makedirs(os.path.join(d, side))
                for i, r in enumerate(runs("w1", vals)):
                    with open(os.path.join(d, side, f"{i}.json"), "w") as f:
                        json.dump(r, f)
            out = io.StringIO()
            with redirect_stdout(out):
                rc = compare.main([os.path.join(d, "a"), os.path.join(d, "b"),
                                   "--benchmark", bench])
            self.assertEqual(rc, 0)
            self.assertIn("improved", out.getvalue())


if __name__ == "__main__":
    unittest.main()
