"""Tests of the benchmark's output checks, input generator and choice of
the timed cycles it takes latencies from.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SQL = "SELECT stock, count(*) AS n, sum(value) AS v FROM t GROUP BY stock"


class EntryCheck(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.data = os.path.join(self.tmp.name, "data")
        self.results = os.path.join(self.tmp.name, "results")
        self.cache = os.path.join(self.tmp.name, "oracle", "digests.json")
        os.makedirs(self.data)
        pq.write_table(pa.table({"stock": [1, 1, 2], "value": [0.5, 0.25, 1.0]}),
                       os.path.join(self.data, "t.parquet"))

    def tearDown(self):
        self.tmp.cleanup()

    def spark_result(self, rows):
        out = os.path.join(self.results, "q")
        os.makedirs(out, exist_ok=True)
        n, stock, v = zip(*rows)
        pq.write_table(pa.table({"n": list(n), "stock": list(stock), "v": list(v)}),
                       os.path.join(out, "part-00000.parquet"))

    def verdict(self, sql=SQL):
        return check.check_entries(self.data, {"q": sql}, self.results, self.cache)["q"]

    def test_same_rows_in_another_order_pass(self):
        self.spark_result([(1, 2, 1.0), (2, 1, 0.75)])
        self.assertIsNone(self.verdict())

    def test_corrupted_value_is_rejected(self):
        self.spark_result([(1, 2, 1.0), (2, 1, 0.7500001)])
        self.assertIn("digest", self.verdict())

    def test_missing_row_is_rejected(self):
        self.spark_result([(2, 1, 0.75)])
        self.assertIn("rows spark=1 oracle=2", self.verdict())

    def test_missing_result_is_rejected(self):
        self.assertEqual(self.verdict(), "no Spark result")

    def test_cached_digest_follows_the_sql(self):
        self.spark_result([(1, 2, 1.0), (2, 1, 0.75)])
        self.assertIsNone(self.verdict())
        self.assertIsNotNone(self.verdict(SQL + " HAVING stock = 1"))


class Generator(unittest.TestCase):
    def test_seeded_and_keeps_the_anchors(self):
        with tempfile.TemporaryDirectory() as d:
            for seed in (1, 2):
                a, b = os.path.join(d, f"a{seed}"), os.path.join(d, f"b{seed}")
                gen.generate(a, seed)
                gen.generate(b, seed)
                for name in ("events", "lineitem", "orders"):
                    self.assertTrue(pq.read_table(os.path.join(a, f"{name}.parquet")).equals(
                        pq.read_table(os.path.join(b, f"{name}.parquet"))))
                users = pq.read_table(os.path.join(a, "events.parquet")).column("user_id")
                self.assertGreaterEqual(users.to_pylist().count(7), 40)
            self.assertFalse(pq.read_table(os.path.join(d, "a1", "events.parquet")).equals(
                pq.read_table(os.path.join(d, "a2", "events.parquet"))))


class QuietCycles(unittest.TestCase):
    # two entries of 1 s and 0.5 s a cycle: a cycle is 1.5 s of wall
    OPS = [(n, sec, True, c) for c in range(8) for n, sec in (("a", 1.0), ("b", 0.5))]

    def ticks(self, share):
        return share * 1.5 * os.cpu_count() * os.sysconf("SC_CLK_TCK")

    def test_cycles_with_steal_are_dropped(self):
        steal = [self.ticks(s) for s in (0, 0.01, 0.2, 0, 0.3, 0.04, 0, 0.06)]
        kept, share = run.quiet_cycles(self.OPS, steal)
        self.assertEqual(kept, {0, 1, 3, 5, 6})
        self.assertAlmostEqual(share[4], 0.3)

    def test_the_quieter_half_is_kept_under_steady_steal(self):
        steal = [self.ticks(s) for s in (0.2, 0.9, 0.3, 0.1, 0.2, 0.5, 0.1, 0.4)]
        self.assertEqual(run.quiet_cycles(self.OPS, steal)[0], {0, 3, 4, 6})

    def test_a_single_operation_is_kept(self):
        self.assertEqual(run.quiet_cycles([("build", 30.0, True, 0)], [10 ** 6])[0], {0})


if __name__ == "__main__":
    unittest.main()
