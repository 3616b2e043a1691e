"""Tests of the benchmark's own accounting: python3 perfbench/test_check.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402


class Percentile(unittest.TestCase):
    def test_interpolates_between_closest_ranks(self):
        xs = [40.0, 10.0, 30.0, 20.0]
        self.assertEqual(check.percentile(xs, 0), 10.0)
        self.assertEqual(check.percentile(xs, 100), 40.0)
        self.assertAlmostEqual(check.percentile(xs, 50), 25.0)
        self.assertAlmostEqual(check.percentile(xs, 95), 38.5)

    def test_single_sample(self):
        self.assertEqual(check.percentile([7.0], 95), 7.0)

    def test_needs_ten_samples_beyond_the_percentile(self):
        self.assertTrue(check.supported(95, 200))
        self.assertFalse(check.supported(95, 199))
        self.assertTrue(check.supported(50, 20))
        self.assertFalse(check.supported(50, 19))


class Score(unittest.TestCase):
    expected = {("a", 1): (5, 0), ("a", 2): (6, 1), ("b", 1): (7, 1)}

    def test_exact_match(self):
        actual = [(("a", 1), 5, 0), (("a", 2), 6, 1), (("b", 1), 7, 1)]
        self.assertEqual(check.score(self.expected, actual), (3, 0))

    def test_missing_wrong_extra_and_duplicate_rows_each_fail_once(self):
        actual = [
            (("a", 1), 5, 0),
            (("a", 1), 5, 2),    # duplicate, e.g. a replayed batch appended twice
            (("a", 2), 9, 1),    # wrong count
            (("c", 1), 1, 1),    # extra
        ]                        # ("b", 1) missing
        self.assertEqual(check.score(self.expected, actual), (4, 4))

    def test_empty_sink_fails_every_expected_row(self):
        self.assertEqual(check.score(self.expected, []), (3, 3))


class Latencies(unittest.TestCase):
    def test_row_is_timed_from_its_last_files_due_time_to_its_batch_commit(self):
        expected = {"w1": (3, 10), "w2": (4, 11), "w0": (1, 2)}
        actual = [("w1", 3, 7), ("w2", 4, 8), ("w0", 1, 7)]
        due = {10: 1000.0, 11: 1500.0}          # open-loop files only
        commits = {7: 1800.0, 8: 2600.0}
        # w0's last event is in a backlog file (2): not an open-loop sample
        self.assertEqual(check.latencies(expected, actual, due, commits), [800.0, 1100.0])

    def test_rows_the_oracle_does_not_expect_are_not_timed(self):
        self.assertEqual(check.latencies({}, [("x", 1, 0)], {0: 0.0}, {0: 5.0}), [])


if __name__ == "__main__":
    unittest.main()
