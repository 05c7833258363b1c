"""Unit tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
import stats  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_beyond_counts_samples_above(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.beyond(1000, 99), 10)
        self.assertEqual(stats.beyond(999, 99), 9)

    def test_tail_needs_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(999), 95.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertIsNone(stats.tail_percentile(19))
        self.assertIsNone(stats.tail_percentile(0))

    def test_tail_value(self):
        xs = list(range(1, 1001))
        self.assertEqual(stats.tail(xs), (99.0, 990))
        self.assertEqual(stats.tail([1, 2, 3]), (None, None))


class Freshness(unittest.TestCase):
    def batch(self, start, end, t, dur, rows=None):
        return {"start_offset": start, "end_offset": end, "start": t, "duration_ms": dur,
                "rows": end - max(start, 0) if rows is None else rows}

    def test_each_offset_joins_the_batch_that_holds_it(self):
        batches = [self.batch(-1, 3, 1000.0, 50), self.batch(3, 5, 1100.0, 40)]
        sends = [(0, 900.0), (2, 950.0), (3, 1000.0), (4, 1090.0)]
        lat, missing = stats.offset_latency(sends, batches)
        self.assertEqual(lat, [150.0, 100.0, 140.0, 50.0])
        self.assertEqual(missing, [])

    def test_end_offset_is_exclusive(self):
        batches = [self.batch(0, 3, 1000.0, 10), self.batch(3, 4, 2000.0, 10)]
        lat, _ = stats.offset_latency([(3, 1500.0)], batches)
        self.assertEqual(lat, [510.0])

    def test_unconsumed_offsets_are_missing(self):
        batches = [self.batch(0, 2, 1000.0, 10)]
        lat, missing = stats.offset_latency([(1, 990.0), (2, 995.0)], batches)
        self.assertEqual(lat, [20.0])
        self.assertEqual(missing, [2])

    def test_empty_and_unordered_batches(self):
        batches = [self.batch(5, 8, 3000.0, 10), self.batch(5, 5, 2500.0, 10, rows=0),
                   self.batch(0, 5, 2000.0, 10)]
        lat, missing = stats.offset_latency([(4, 1000.0), (5, 1000.0)], batches)
        self.assertEqual(lat, [1010.0, 2010.0])
        self.assertEqual(missing, [])


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            {"id": 1, "parent": 0, "name": "query", "start": 0.0, "end": 100.0},
            {"id": 2, "parent": 1, "name": "plan", "start": 10.0, "end": 30.0},
            {"id": 3, "parent": 1, "name": "execute", "start": 30.0, "end": 90.0},
            {"id": 4, "parent": 3, "name": "job", "start": 40.0, "end": 60.0},
            {"id": 5, "parent": 3, "name": "job", "start": 50.0, "end": 70.0},
        ]
        t = stats.self_times(spans)
        self.assertEqual(t["query"], 20.0)
        self.assertEqual(t["plan"], 20.0)
        self.assertEqual(t["execute"], 30.0)
        self.assertEqual(t["job"], 40.0)


class FingerprintCanonicalForms(unittest.TestCase):
    """Row order, nulls, -0.0 and NaN: checked by the Scala side, which
    computes the fingerprints (builds the benchmark on first use)."""

    def test_scala_self_test(self):
        r = subprocess.run([sys.executable, str(HERE / "run.py"), "--self-test"],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        self.assertEqual(r.returncode, 0, r.stdout[-3000:])
        self.assertIn("all fingerprint checks passed", r.stdout)


if __name__ == "__main__":
    unittest.main()
