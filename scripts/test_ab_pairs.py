#!/usr/bin/env python3
"""Unit tests for scripts/ab_pairs.py's summary and verdicts; no Spark, no
benchmark run. Run with `python3 scripts/test_ab_pairs.py`."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import ab_pairs  # noqa: E402

BETTER = {"wall_s": "lower", "rows_per_s": "higher", "spark.jobs": "lower"}
BOUNDS = {"wall_s": 0.25, "rows_per_s": 0.25}


def runs_of(metric, parent, change):
    """Run records as ab_pairs keeps them, one pair per (parent, change)."""
    runs = []
    for i, (p, c) in enumerate(zip(parent, change)):
        for side, v in (("parent", p), ("change", c)):
            runs.append({"pair": i, "side": side,
                         "result": {"metrics": {metric: {"value": v}}}})
    return runs


def row(metric, parent, change):
    rows = ab_pairs.summarize(runs_of(metric, parent, change), BETTER, BOUNDS)
    assert len(rows) == 1
    return rows[0]


class SummarizeTest(unittest.TestCase):

    def test_gain_needs_nine_of_ten_wins_beyond_the_parent_iqr(self):
        parent = [6.0, 6.1, 6.2, 6.3, 6.4, 6.0, 6.1, 6.2, 6.3, 6.4]
        change = [5.0] * 9 + [7.0]
        r = row("wall_s", parent, change)
        self.assertEqual((r["wins"], r["pairs"]), (9, 10))
        self.assertEqual(r["verdict"], "gain")
        # 8/10 wins is not a gain, however large the difference
        r = row("wall_s", parent, [5.0] * 8 + [7.0, 7.0])
        self.assertEqual(r["verdict"], "within")

    def test_no_gain_when_the_median_gap_is_inside_the_parent_iqr(self):
        parent = [5.0, 7.0, 5.0, 7.0, 5.0, 7.0, 5.0, 7.0, 5.0, 7.0]
        change = [p - 0.1 for p in parent]  # wins 10/10 by 0.1
        r = row("wall_s", parent, change)
        self.assertEqual(r["wins"], 10)
        self.assertGreater(r["parent_iqr"], 0.1)
        # IQR/median 0.33 > 0.25: the spread is too wide to tell
        self.assertEqual(r["verdict"], "unresolved")

    def test_worse_beyond_the_bound_on_either_direction(self):
        parent = [6.0] * 10
        r = row("wall_s", parent, [7.6] * 10)  # +27% on a lower-is-better
        self.assertEqual(r["verdict"], "worse")
        r = row("wall_s", parent, [7.4] * 10)  # +23%: inside the bound
        self.assertEqual(r["verdict"], "within")
        r = row("rows_per_s", [100.0] * 10, [74.0] * 10)  # -26%
        self.assertEqual(r["verdict"], "worse")
        r = row("rows_per_s", [100.0] * 10, [130.0] * 10)
        self.assertEqual(r["verdict"], "gain")

    def test_worse_takes_precedence_over_unresolved(self):
        parent = [4.0, 8.0] * 5  # IQR/median 0.67
        r = row("wall_s", parent, [12.0] * 10)
        self.assertEqual(r["verdict"], "worse")

    def test_metrics_without_a_bound_get_no_verdict(self):
        r = row("spark.jobs", [52.0] * 10, [36.0] * 10)
        self.assertEqual(r["wins"], 10)
        self.assertIsNone(r["verdict"])

    def test_pairs_missing_a_side_are_left_out(self):
        runs = runs_of("wall_s", [6.0] * 3, [5.0] * 3)
        runs.append({"pair": 3, "side": "parent", "result": None})
        runs.append({"pair": 3, "side": "change",
                     "result": {"metrics": {"wall_s": {"value": 1.0}}}})
        rows = ab_pairs.summarize(runs, BETTER, BOUNDS)
        self.assertEqual(rows[0]["pairs"], 3)
        self.assertEqual(rows[0]["change_median"], 5.0)

    def test_quartiles_and_ratio(self):
        r = row("wall_s", [1.0, 2.0, 3.0, 4.0], [2.0, 2.0, 6.0, 4.0])
        self.assertEqual(r["parent_median"], 2.5)
        self.assertEqual(r["parent_iqr"], 2.5)  # exclusive quartiles
        self.assertEqual(r["median_ratio"], 1.5)


if __name__ == "__main__":
    unittest.main()
