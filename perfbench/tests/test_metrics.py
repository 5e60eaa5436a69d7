"""Tests of the benchmark's own arithmetic. Run from the checkout root:
python3 -m unittest discover -s perfbench/tests"""

import pathlib
import sys
import unittest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

import metrics  # noqa: E402


class HarrellDavisTest(unittest.TestCase):
    def test_matches_order_statistics_on_even_data(self):
        xs = list(range(1, 102))
        self.assertAlmostEqual(metrics.hd_quantile(xs, 50), 51, places=6)
        self.assertAlmostEqual(metrics.hd_quantile([7.0] * 30, 75), 7.0)
        self.assertEqual(metrics.hd_quantile([3.0], 90), 3.0)

    def test_order_free_and_between_neighbours(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0]
        self.assertAlmostEqual(metrics.hd_quantile(xs, 75), metrics.hd_quantile(sorted(xs), 75))
        self.assertTrue(3.0 < metrics.hd_quantile(xs, 50) < 5.0)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.hd_quantile([], 50)


class TailChoiceTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(metrics.tail_percentile(9))
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertEqual(metrics.tail_percentile(32), 68.75)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertAlmostEqual(metrics.tail_percentile(1000), 99)

    def test_exactly_ten_samples_lie_beyond(self):
        for n in (32, 40, 57, 200):
            p = metrics.tail_percentile(n)
            self.assertAlmostEqual(n * (100 - p) / 100, 10)


class FailedFracTest(unittest.TestCase):
    def test_counts_failures_against_attempts(self):
        self.assertEqual(metrics.failed_frac(200, 0), 0.0)
        self.assertEqual(metrics.failed_frac(200, 50), 0.25)

    def test_rejects_impossible_counts(self):
        for attempted, failed in ((0, 0), (10, 11), (10, -1)):
            with self.assertRaises(ValueError):
                metrics.failed_frac(attempted, failed)


class LatenessTest(unittest.TestCase):
    def test_late_sends_count_from_their_due_time(self):
        due = [0.0, 100.0, 200.0, 300.0]
        emitted = [0.5, 150.0, 190.0, 420.0]
        self.assertEqual(metrics.lateness(due, emitted), [0.5, 50.0, 0.0, 120.0])

    def test_one_emit_per_send(self):
        with self.assertRaises(ValueError):
            metrics.lateness([0.0, 1.0], [0.0])


class SpreadTest(unittest.TestCase):
    def test_quartile_distance_over_median(self):
        self.assertAlmostEqual(metrics.spread([10.0] * 10), 0.0)
        # statistics.quantiles' default (exclusive) method: q1 9.875, q3 10.125
        vals = [9.0, 9.5, 10.0, 10.0, 10.0, 10.0, 10.0, 10.0, 10.5, 11.0]
        self.assertAlmostEqual(metrics.spread(vals), 0.025)
        self.assertGreater(metrics.spread([1.0, 2.0, 3.0, 4.0, 5.0]), 0.5)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, layer, s, e, parent=None):
        return {"id": i, "name": i, "layer": layer, "start_ms": s, "end_ms": e,
                "parent": parent, "trace": "t"}

    def test_layer_self_times_add_up_to_the_root(self):
        spans = [self.span("run", "wait", 0, 100),
                 self.span("b0", "stream", 10, 60, "run"),
                 self.span("up", "sink", 20, 50, "b0"),
                 self.span("mat", "state", 12, 18, "b0"),
                 # sticks out of its parent: clipped at the parent's end
                 self.span("late", "sink", 55, 70, "b0")]
        t = metrics.self_times(spans)["run"]
        self.assertEqual(t["wall_ms"], 100)
        self.assertEqual(t["self_ms"], {"wait": 50, "sink": 35, "stream": 9, "state": 6})
        self.assertEqual(sum(t["self_ms"].values()), 100)


if __name__ == "__main__":
    unittest.main()
