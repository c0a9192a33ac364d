"""Self-tests of the benchmark's statistics.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [float(i) for i in range(1, 11)]
        self.assertEqual(stats.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)
        self.assertEqual(stats.percentile(reversed(xs), 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 10.0)

    def test_samples_beyond(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.beyond(99, 90), 9)
        self.assertEqual(stats.beyond(20, 50), 10)

    def test_tail_percentile_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(99), 75)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertIsNone(stats.tail_percentile(19))


class SelfTimeTest(unittest.TestCase):
    def test_self_time_is_span_minus_child_cover(self):
        spans = [
            (0, -1, "runner.run/wow", 0, 100),
            (1, 0, "ingest.read", 10, 20),
            (2, 0, "catalog.publish", 30, 90),
            (3, 2, "spark.job", 40, 60),
            (4, 2, "spark.job", 50, 70),   # overlaps job 3
            (5, 2, "spark.job", 85, 95),   # runs past its parent's end
        ]
        own = stats.self_times(spans)
        self.assertEqual(own["runner"], 100 - 10 - 60)
        self.assertEqual(own["ingest"], 10)
        self.assertEqual(own["catalog"], 60 - 30 - 5)
        self.assertEqual(own["spark"], 20 + 20 + 10)

    def test_covered_merges_and_clips(self):
        self.assertEqual(stats.covered([(0, 5), (3, 8), (20, 30)], 2, 25), 11)
        self.assertEqual(stats.covered([], 0, 10), 0)

    def test_layer_metrics_of_a_query_op(self):
        ms = 1_000_000
        spans = [
            (0, -1, "queries.build", 0, 100 * ms),
            (1, 0, "spark.job", 20 * ms, 50 * ms),
            (2, -1, "queries.exec", 100 * ms, 300 * ms),
            (3, 2, "spark.job", 150 * ms, 250 * ms),
        ]
        m = stats.pass_layer_metrics(spans, {"spark.executor_run_s": 0.4},
                                     0.3, 4, [])
        self.assertAlmostEqual(m["queries.build_s"], 0.1)
        self.assertEqual(m["queries.build_jobs"], 1)
        self.assertAlmostEqual(m["spark.nojob_s"], 0.1)
        self.assertAlmostEqual(m["self.queries_s"], 0.07 + 0.1)
        self.assertAlmostEqual(m["spark.slot_util"], 0.4 / 1.2)


if __name__ == "__main__":
    unittest.main()
