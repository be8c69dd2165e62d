"""Self-tests for the benchmark's math and gates.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import run
import stats


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_above(self):
        xs = list(range(100))
        self.assertAlmostEqual(stats.percentile(xs, 0.9), 89.1)
        stats.percentile(xs[:92], 0.9)
        with self.assertRaises(ValueError):
            stats.percentile(xs[:91], 0.9)
        self.assertEqual(stats.percentile(list(range(20)), 0.5), 9.5)
        with self.assertRaises(ValueError):
            stats.percentile(list(range(19)), 0.5)
        stats.percentile(list(range(182)), 0.95)
        with self.assertRaises(ValueError):
            stats.percentile(list(range(181)), 0.95)

    def test_ignores_input_order(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 4
        self.assertEqual(stats.percentile(xs, 0.5), 3.0)

    def test_nearest_supported_falls_back_toward_median(self):
        xs = list(range(100))
        self.assertEqual(stats.percentile_or_nearest(xs, 0.9), (stats.percentile(xs, 0.9), 0.9))
        value, used = stats.percentile_or_nearest(xs, 0.95)
        self.assertEqual(used, 0.9)
        self.assertAlmostEqual(value, 89.1)
        self.assertEqual(stats.percentile_or_nearest(list(range(5)), 0.95), (2.0, 0.5))
        self.assertEqual(stats.percentile_or_nearest([], 0.5), (0.0, None))


class SelfTimeTest(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(stats.union_length([(10, 30), (20, 40), (50, 60), (55, 58)]), 40)
        self.assertEqual(stats.union_length([]), 0)

    def test_children_clipped_to_span(self):
        children = [(10, 30), (20, 40), (90, 120), (-5, 5), (200, 300)]
        # covered: [10, 40] + [90, 100] + [0, 5] = 45 of 100
        self.assertEqual(stats.self_time((0, 100), children), 55)
        self.assertEqual(stats.self_time((0, 100), []), 100)


def windows(seqs_per_window, values):
    return [{"window": i, "n": len(s), "sum": sum(values[q] for q in s), "seqs": s}
            for i, s in enumerate(seqs_per_window)]


class WindowGateTest(unittest.TestCase):
    values = {q: q * 7 % 11 for q in range(10)}

    def test_clean_windows_pass(self):
        attempted, failures = stats.check_windows(
            windows([[0, 1, 2, 3, 4], [5, 6, 7, 8, 9]], self.values), self.values, 5)
        self.assertEqual((attempted, failures), (3, []))

    def test_planted_duplicate_window_fails(self):
        ws = windows([[0, 1, 2, 3, 4], [5, 6, 7, 8, 9], [5, 6, 7, 8, 9]], self.values)
        _, failures = stats.check_windows(ws, self.values, 5)
        self.assertEqual(len(failures), 1)
        self.assertIn("more than once", failures[0])

    def test_wrong_sum_short_window_and_lost_message_fail(self):
        ws = windows([[0, 1, 2, 3, 4], [5, 6, 7, 8]], self.values)
        ws[0]["sum"] += 1
        _, failures = stats.check_windows(ws, self.values, 5)
        self.assertEqual(len(failures), 3)


class RunGateTest(unittest.TestCase):
    """The gates as run.py applies them to StreamBench's records."""

    def records(self, windows_seqs):
        recs = [{"kind": "a", "phase": "plain", "stream": "s", "seq": q, "v": q % 3,
                 "due_us": 0, "start_us": 0, "end_us": 0, "flush": False} for q in range(2 * run.LIVE_SIZE)]
        for i, seqs in enumerate(windows_seqs):
            recs.append({"kind": "w", "stream": "s", "window": i, "n": len(seqs),
                         "sum": sum(q % 3 for q in seqs), "seqs": seqs, "start_us": 0, "end_us": 1})
        return recs

    def test_planted_duplicate_window_fails_the_run(self):
        a, b = list(range(run.LIVE_SIZE)), list(range(run.LIVE_SIZE, 2 * run.LIVE_SIZE))
        attempted, failures = run.gates(run.Run(self.records([a, b])), "stream-live")
        self.assertEqual(failures, [])
        attempted, failures = run.gates(run.Run(self.records([a, b, b])), "stream-live")
        self.assertEqual(len(failures), 1)
        self.assertGreater(attempted, 3)


if __name__ == "__main__":
    unittest.main()
