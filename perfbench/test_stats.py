"""Tests of the benchmark's own arithmetic (no Spark):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(1000), 99.0)   # 10 beyond p99
        self.assertEqual(stats.tail_percentile(999), 95.0)    # only 9 beyond p99
        self.assertEqual(stats.tail_percentile(10000), 99.9)
        self.assertEqual(stats.tail_percentile(44), 75.0)     # 11 beyond p75, 4 beyond p90
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertIsNone(stats.tail_percentile(19))

    def test_tail_value_is_nearest_rank(self):
        xs = list(range(1, 1001))
        self.assertEqual(stats.tail(xs), (99.0, 990))
        self.assertEqual(stats.percentile(xs, 50), 500)
        self.assertEqual(stats.percentile([3.0], 99), 3.0)
        with self.assertRaises(ValueError):
            stats.tail(list(range(19)))


class Latency(unittest.TestCase):
    def test_measured_from_due_time_not_release_time(self):
        # due at t=1000 ms, released 500 ms late, committed at 4000 ms: the
        # release stall counts against the system
        self.assertAlmostEqual(stats.latency_s(commit_ms=4000, due_ms=1000), 3.0)
        self.assertAlmostEqual(stats.latency_s(4000, 1000, delay_ms=1000, gap_ms=1000), 1.0)

    def test_by_design_waits_are_subtracted(self):
        lat = [stats.latency_s(c, d, 1000, 1000) for c, d in [(3200, 1000), (5000, 2000)]]
        self.assertEqual([round(x, 3) for x in lat], [0.2, 1.0])


class CommitTime(unittest.TestCase):
    def test_append_wall_minus_job_wall(self):
        self.assertEqual(stats.commit_ms([10.5, 300.0], [8, 290]), [2.5, 10.0])

    def test_whole_ms_job_spans_never_make_it_negative(self):
        self.assertEqual(stats.commit_ms([7.4], [8]), [0.0])

    def test_growth_compares_last_and_first_tenth(self):
        xs = [1.0] * 10 + [2.0] * 80 + [4.0] * 10
        self.assertEqual(stats.growth(xs), 4.0)
        with self.assertRaises(ValueError):
            stats.growth([1.0] * 9)


class FailedFrac(unittest.TestCase):
    def test_failed_over_attempted(self):
        self.assertEqual(stats.failed_frac(0, 44), 0.0)
        self.assertEqual(stats.failed_frac(1, 4), 0.25)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)


if __name__ == "__main__":
    unittest.main()
