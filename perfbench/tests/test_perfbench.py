"""The benchmark's own tests: generator determinism, the expected-result
code on a hand-checked feed, the percentile rule, and that wrong outputs
are reported as failures.

Run from the root of a checkout: ``python3 -m unittest discover -s perfbench/tests``
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(HERE)), ".bench_build")


def start(tid, ts, fare=12.5):
    return json.dumps({"trip_id": tid, "data_type": "trip_start", "pickup_datetime": ts,
                       "estimated_fare_amount": fare})


def end(tid, ts, fare):
    return json.dumps({"trip_id": tid, "data_type": "trip_end", "dropoff_datetime": ts,
                       "fare_amount": fare})


class GeneratorTest(unittest.TestCase):
    def test_trip_feed_is_deterministic_per_seed(self):
        a, _ = gen.trip_feed(5, 300)
        b, _ = gen.trip_feed(5, 300)
        c, _ = gen.trip_feed(6, 300)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_trip_feed_has_every_event_kind(self):
        lines, trips = gen.trip_feed(3, 2000)
        self.assertTrue(any(t["early_end"] for t in trips))
        self.assertTrue(any(not t["complete"] for t in trips))
        self.assertGreater(len(lines), len(set(lines)))  # re-deliveries
        self.assertTrue(any(gen.valid_event(ln) is None for ln in lines))
        days = {t["pickup"].date() for t in trips}
        self.assertGreaterEqual(len(days), 4)

    def test_tables_are_deterministic_per_seed(self):
        import pyarrow.parquet as pq
        os.makedirs(SCRATCH, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=SCRATCH) as d:
            dirs = [os.path.join(d, x) for x in ("a", "b", "c")]
            for x, seed in zip(dirs, (1, 1, 2)):
                os.makedirs(x)
                gen.write_tables(x, 0.001, seed)
            tables = sorted(os.listdir(dirs[0]))
            self.assertEqual(len(tables), 10)
            for t in tables:
                self.assertTrue(pq.read_table(f"{dirs[0]}/{t}").equals(
                    pq.read_table(f"{dirs[1]}/{t}")), t)
            self.assertFalse(pq.read_table(f"{dirs[0]}/documents.parquet").equals(
                pq.read_table(f"{dirs[2]}/documents.parquet")))


class ExpectedTripsTest(unittest.TestCase):
    FEED = [
        start("A", "2024-05-25 10:00:00"),
        end("C", "2024-05-25 10:20:00", 30.0),      # end before its start
        start("C", "2024-05-25 10:05:00"),
        start("A", "2024-05-25 10:00:00"),          # re-delivery
        json.dumps({"data_type": "trip_start", "pickup_datetime": "2024-05-25 10:06:00"}),
        '{"trip_id": "Z", "data_',                  # malformed
        json.dumps({"trip_id": "D", "data_type": "trip_start"}),  # no timestamp
        start("B", "2024-05-25 11:00:00"),          # never completes
        end("A", "2024-05-25 10:30:00", 20.0),
        start("D", "2024-05-26 09:00:00"),
        start("E", "2024-05-26 09:30:00"),
        end("D", "2024-05-26 09:40:00", 5.25),
        end("E", "2024-05-27 10:00:00", 9.0),       # beyond the 24 h trip bound
        end("A", "2024-05-25 10:30:00", 20.0),      # re-delivery
    ]

    def test_hand_checked_feed(self):
        got = gen.expected_trips(self.FEED)
        self.assertEqual(sorted(got), ["A", "C", "D"])
        self.assertEqual(got["A"], ("2024-05-25 10:00:00", 20.0, 8))
        self.assertEqual(got["C"], ("2024-05-25 10:05:00", 30.0, 2))
        self.assertEqual(got["D"][2], 11)
        s = gen.trip_summary(got)
        self.assertEqual(s["count"], 3)
        self.assertEqual(s["days"], {
            "2024-05-25": {"trip_count": 2, "total_fare": 50.0},
            "2024-05-26": {"trip_count": 1, "total_fare": 5.25}})


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 50), 50)
        self.assertEqual(stats.percentile(v, 99), 99)
        self.assertEqual(stats.percentile([7.0], 99), 7.0)

    def test_at_least_ten_beyond(self):
        self.assertEqual(stats.samples_beyond(200, 95), 10)
        self.assertEqual(stats.samples_beyond(200, 96), 8)
        self.assertEqual(stats.tail_pct(200), 95)
        self.assertEqual(stats.tail_pct(1000), 99)
        self.assertEqual(stats.tail_pct(50), 80)
        self.assertIsNone(stats.tail_pct(20))  # too few above the median
        self.assertEqual(stats.tail(list(range(12))), ("max", 11))
        self.assertEqual(stats.tail(list(range(1, 201))), ("p95", 190))
        for n in (22, 57, 200, 999, 5000):
            p = stats.tail_pct(n)
            self.assertGreaterEqual(stats.samples_beyond(n, p), 10)
            if p < 99:
                self.assertLess(stats.samples_beyond(n, p + 1), 10)


class FailureIsReportedTest(unittest.TestCase):
    def setUp(self):
        self.expected = gen.expected_trips(ExpectedTripsTest.FEED)
        self.rows = [(t, v[0], v[1], 0.0) for t, v in self.expected.items()]

    def test_matching_output_passes(self):
        self.assertEqual(check.check_trips(self.rows, self.expected), (0, []))

    def test_wrong_expectation_fails(self):
        wrong = dict(self.expected)
        wrong["Q"] = ("2024-05-25 12:00:00", 1.0, 3)  # a trip that never happened
        bad, problems = check.check_trips(self.rows, wrong)
        self.assertGreater(bad, 0)
        self.assertTrue(problems)

    def test_wrong_fare_and_duplicates_fail(self):
        rows = [(t, p, f + 1.0, s) for t, p, f, s in self.rows]
        self.assertGreater(check.check_trips(rows, self.expected)[0], 0)
        self.assertGreater(check.check_trips(self.rows + self.rows[:1], self.expected)[0], 0)

    def test_query_mismatch_fails(self):
        import duckdb
        os.makedirs(SCRATCH, exist_ok=True)
        d = tempfile.mkdtemp(dir=SCRATCH)
        try:
            gen.write_tables(d, 0.001, 9)
            out = os.path.join(d, "results")
            for q in ("right", "wrong", "short"):
                os.makedirs(f"{out}/{q}")
                duckdb.sql(f"COPY (SELECT r_regionkey, r_name FROM '{d}/region.parquet') "
                           f"TO '{out}/{q}/part-0.parquet' (FORMAT PARQUET)")
            with open(f"{out}/oracle_sql.json", "w") as f:
                json.dump({"right": "SELECT r_name, r_regionkey FROM region",
                           "wrong": "SELECT r_name, r_regionkey + 1 AS r_regionkey FROM region",
                           "short": "SELECT r_name, r_regionkey FROM region LIMIT 2",
                           "no_result": "SELECT 1 AS x"}, f)
            v = check.check_queries(d, out, ["right", "wrong", "short", "no_result",
                                             "no_oracle"])
            self.assertIsNone(v["right"])
            self.assertEqual(v["wrong"], "values differ")
            self.assertEqual(v["short"], "rows 5 != 2")
            self.assertIn("error", v["no_result"])
            self.assertEqual(v["no_oracle"], "no oracle record")
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
