"""Self-tests for the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests -v
"""
import datetime
import json
import os
import statistics
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import digest  # noqa: E402
import retail_gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class RetailGeneratorTest(unittest.TestCase):
    """The generator's ground truth equals an independent RFM over its CSV."""

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.csv = os.path.join(cls.tmp.name, "r.csv")
        cls.truth = retail_gen.generate(cls.csv, 11, rows=60_000)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_ground_truth_matches_duckdb_rfm(self):
        import duckdb
        got = duckdb.connect().execute(f"""
            WITH t AS (
              SELECT InvoiceNo, CAST(Quantity AS INT) q, CAST(UnitPrice AS DOUBLE) p,
                     CustomerID c, strptime(InvoiceDate, '%m/%d/%Y %H:%M:%S') d
              FROM read_csv('{self.csv}', header = true, all_varchar = true)),
            r AS (
              SELECT c, max(d) md, count(DISTINCT InvoiceNo) f, sum(q * p) m
              FROM t WHERE q > 0 AND p > 0 AND c IS NOT NULL GROUP BY c)
            SELECT count(*), sum(f), sum(m) FROM r
            WHERE md <= TIMESTAMP '2011-12-09 00:00:00' AND m > 0""").fetchone()
        self.assertEqual(got[0], self.truth["customers"])
        self.assertEqual(float(got[1]), self.truth["sum_frequency"])
        self.assertEqual(float(got[2]), self.truth["sum_monetary"])

    def test_shape(self):
        import duckdb
        n, nulls, cancels, zero, cprefix = duckdb.connect().execute(f"""
            SELECT count(*), count(*) FILTER (CustomerID IS NULL),
                   count(*) FILTER (CAST(Quantity AS INT) < 0),
                   count(*) FILTER (CAST(UnitPrice AS DOUBLE) = 0),
                   count(*) FILTER (InvoiceNo LIKE 'C%' AND CAST(Quantity AS INT) < 0)
            FROM read_csv('{self.csv}', header = true, all_varchar = true)""").fetchone()
        self.assertEqual(n, 60_000)
        self.assertTrue(0.20 < nulls / n < 0.30, nulls / n)
        self.assertTrue(0.005 < cancels / n < 0.04, cancels / n)
        self.assertEqual(cprefix, cancels)
        self.assertTrue(0 < zero < n * 0.002, zero)

    def test_seeded(self):
        other = os.path.join(self.tmp.name, "again.csv")
        self.assertEqual(retail_gen.generate(other, 11, rows=60_000), self.truth)
        with open(self.csv, "rb") as a, open(other, "rb") as b:
            self.assertEqual(a.read(), b.read())

    def test_seed_varies_the_file_not_the_population(self):
        other = os.path.join(self.tmp.name, "other.csv")
        self.assertEqual(retail_gen.generate(other, 12, rows=60_000), self.truth)
        with open(self.csv, "rb") as a, open(other, "rb") as b:
            self.assertNotEqual(a.read(), b.read())

    def test_money_is_exact(self):
        # quarters are exact in binary, so the sum is independent of order
        self.assertEqual(self.truth["sum_monetary"] * 4, int(self.truth["sum_monetary"] * 4))


class DigestTest(unittest.TestCase):
    def test_order_insensitive(self):
        rows = [(1, "a"), (2, "b"), (3, None)]
        self.assertEqual(digest.digest(["x", "y"], rows), digest.digest(["x", "y"], rows[::-1]))

    def test_column_order_insensitive(self):
        self.assertEqual(digest.digest(["x", "y"], [(1, "a")]),
                         digest.digest(["y", "x"], [("a", 1)]))

    def test_none_safe_sort(self):
        rows = [(None, 1), (2, None), (None, None), (1, 1)]
        _, out = digest.canon(["a", "b"], rows)
        self.assertEqual(out[-1], (None, None))
        self.assertEqual(out[0], (1, 1))

    def test_date_rendering(self):
        d = datetime.date(2011, 12, 9)
        ts = datetime.datetime(2011, 12, 9, 0, 0, 0)
        self.assertEqual(digest.norm(d), "2011-12-09 00:00:00")
        self.assertEqual(digest.norm(ts), "2011-12-09 00:00:00")
        self.assertEqual(digest.digest(["d"], [(d,)]), digest.digest(["d"], [(ts,)]))
        self.assertEqual(digest.norm(datetime.datetime(2011, 1, 2, 3, 4, 5, 678)),
                         "2011-01-02 03:04:05")

    def test_values_differ(self):
        self.assertNotEqual(digest.digest(["x"], [(1,)]), digest.digest(["x"], [(2,)]))
        self.assertNotEqual(digest.digest(["x"], [(1,)]), digest.digest(["x"], [(1,), (1,)]))


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 2.0, 3.0]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [5.1, 4.9, 5.3, 5.0, 5.6, 4.8, 5.2, 5.05, 4.95, 5.4]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual([q1, q2, q3], statistics.quantiles(xs, n=4))

    def test_single_value(self):
        self.assertEqual(stats.quartiles([2.5]), (2.5, 2.5, 2.5))


class BenchmarkJsonTest(unittest.TestCase):
    """BENCHMARK.json names what run.py prints."""

    def test_metrics_match(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({w["name"] for w in b["workloads"]}, set(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
