"""Statistics of a run: the tail rule, spreads, span self time, and the
one-line summary."""
import json
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchlib import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        p, v, n = stats.tail(list(range(1, 41)))
        self.assertEqual((p, n), (76.0, 40))
        self.assertAlmostEqual(v, 30.64)
        self.assertEqual(sum(1 for x in range(1, 41) if x > v), 10)

    def test_more_samples_reach_higher_percentiles(self):
        self.assertEqual(stats.tail(list(range(1000)))[0], 99.0)
        self.assertEqual(stats.tail(list(range(100)))[0], 90.0)

    def test_too_few_samples_give_the_median(self):
        vals = [5.0, 1.0, 3.0, 9.0, 7.0]
        self.assertEqual(stats.tail(vals), (50.0, 5.0, 5))
        self.assertEqual(stats.tail(list(range(19)))[0], 50.0)

    def test_ties_do_not_count_as_beyond(self):
        vals = [1.0] * 30 + [2.0] * 9
        p, v, _ = stats.tail(vals)
        self.assertEqual(p, 50.0)  # only 9 samples exceed any percentile

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([4, 1], 0), 1)


class SpreadTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        vals = [10.0, 12.0, 11.0, 13.0, 9.0, 10.5, 11.5, 12.5, 9.5, 10.0]
        q = statistics.quantiles(vals, n=4)
        self.assertAlmostEqual(stats.spread(vals), (q[2] - q[0]) / statistics.median(vals))


def span(i, name, start, end, parent):
    return {"id": i, "name": name, "start_ns": start, "end_ns": end, "parent": parent, "op": 0}


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_covered_child_time(self):
        spans = [span(1, "op", 0, 100, 0),
                 span(2, "sql", 10, 40, 1), span(3, "sql", 30, 60, 1),
                 span(4, "job", 15, 20, 2), span(5, "stage", 15, 20, 4)]
        self.assertEqual(stats.self_times(spans),
                         {"op": 50, "sql": 25 + 30, "job": 0, "stage": 5})

    def test_children_outside_the_parent_are_clipped(self):
        spans = [span(1, "op", 0, 10, 0), span(2, "sql", 5, 50, 1)]
        self.assertEqual(stats.self_times(spans)["op"], 5)

    def test_uncovered(self):
        self.assertEqual(stats.uncovered(0, 100, [(10, 20), (15, 30), (90, 120)]), 70)
        self.assertEqual(stats.uncovered(0, 100, []), 100)


class SummaryTest(unittest.TestCase):
    def test_round_trip(self):
        line = stats.summary_line(True, 12, 0, {"op_p50_ms": (1.25, "ms"), "setup_s": (3.5, "s")})
        d = stats.parse_summary("info line\n" + line + "\n")
        self.assertEqual(d["metrics"]["op_p50_ms"], {"value": 1.25, "unit": "ms"})
        self.assertEqual((d["correct"], d["attempted"], d["failed"]), (True, 12, 0))

    def test_only_the_last_line_counts(self):
        good = stats.summary_line(False, 3, 1, {"x": (1.0, "s")})
        self.assertEqual(stats.parse_summary('{"not": "it"}\n' + good)["failed"], 1)

    def test_rejects_malformed_summaries(self):
        bad = [
            "",
            json.dumps({"correct": True, "attempted": 1, "failed": 0}),
            json.dumps({"correct": True, "attempted": 0, "failed": 0, "metrics": {}}),
            json.dumps({"correct": True, "attempted": 1.5, "failed": 0, "metrics": {}}),
            json.dumps({"correct": "yes", "attempted": 1, "failed": 0, "metrics": {}}),
            json.dumps({"correct": True, "attempted": 1, "failed": 0, "extra": 1, "metrics": {}}),
            json.dumps({"correct": True, "attempted": 1, "failed": 0,
                        "metrics": {"x": {"value": "1", "unit": "s"}}}),
            json.dumps({"correct": True, "attempted": 1, "failed": 0,
                        "metrics": {"x": {"value": 1}}}),
        ]
        for text in bad:
            with self.assertRaises(ValueError, msg=text):
                stats.parse_summary(text)


if __name__ == "__main__":
    unittest.main()
