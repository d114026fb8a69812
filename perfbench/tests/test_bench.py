"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_metric_names_and_units_match(self):
        def pairs(key):
            return sorted((m["name"], m["unit"]) for m in self.spec[key])
        self.assertEqual(pairs("end_to_end"), sorted(run.END_TO_END))
        self.assertEqual(pairs("per_layer"), sorted(run.PER_LAYER))

    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]], run.WORKLOADS)


class PercentileTest(unittest.TestCase):
    def test_reports_sample_count(self):
        self.assertEqual(stats.percentile(list(range(1, 21)), 50), (10.5, 20))
        self.assertEqual(stats.percentile([3.0] * 100, 90), (3.0, 100))

    def test_refuses_without_ten_samples_beyond(self):
        with self.assertRaises(ValueError):
            stats.percentile(list(range(19)), 50)
        with self.assertRaises(ValueError):
            stats.percentile(list(range(99)), 90)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_highest_percentile(self):
        self.assertEqual(stats.highest_percentile(list(range(40)))[0], 75)
        self.assertEqual(stats.highest_percentile(list(range(1000)))[0], 99)
        self.assertIsNone(stats.highest_percentile(list(range(10))))

    def test_median_of_few(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)


class GeneratorTest(unittest.TestCase):
    def _write(self, seed, d):
        gen.write_fixtures(seed, os.path.join(d, "fixtures"))
        m = gen.write_ingest(seed, os.path.join(d, "ingest"), rows=20_000)
        return m

    def _same_files(self, a, b):
        names = sorted(os.listdir(a))
        self.assertEqual(names, sorted(os.listdir(b)))
        _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        return not mismatch and not errors

    def test_same_seed_same_bytes_and_aggregates(self):
        with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
            m1, m2 = self._write(7, d1), self._write(7, d2)
            self.assertEqual(m1, m2)
            for sub in ("fixtures", "ingest"):
                self.assertTrue(self._same_files(os.path.join(d1, sub), os.path.join(d2, sub)))

    def test_different_seed_differs(self):
        with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
            m1, m2 = self._write(7, d1), self._write(8, d2)
            self.assertNotEqual(m1["expected"], m2["expected"])
            for sub in ("fixtures", "ingest"):
                self.assertFalse(self._same_files(os.path.join(d1, sub), os.path.join(d2, sub)))

    def test_fixture_row_counts_do_not_depend_on_seed(self):
        a, b = gen.fixture_tables(1), gen.fixture_tables(2)
        self.assertEqual({k: t.num_rows for k, t in a.items()},
                         {k: t.num_rows for k, t in b.items()})
        self.assertEqual({k: t.num_rows for k, t in a.items()}, gen.FIXTURE_ROWS)

    def test_expected_aggregates_count_unique_rows(self):
        t = gen.ingest_events(3, 5_000)
        exp = gen.expected_ingest(t)
        self.assertEqual(exp["distinct_keys"], 5_000)
        hot = exp["hot"]
        self.assertEqual(sum(c for _, _, c in hot["day_type_counts"]), 5_000)
        self.assertEqual(sum(c for _, _, c in hot["make_series"]), 5_000)
        self.assertEqual(sum(n for _, n, _ in hot["dimension_join"]), 5_000)
        self.assertEqual(len(hot["make_series"]),
                         len(gen.EVENT_TYPES) * gen.EVENTS_SPAN_DAYS)
        self.assertEqual(hot["dedup_latest"],
                         [[len(set(t.column("user_id").to_pylist()))]])
        self.assertEqual(set(oracle.HOT_COLUMNS), set(hot))
        self.assertEqual(set(oracle.HOT_COLUMNS), set(run.hot_queries()))

    def test_ingest_plan_resubmits_and_covers_every_row(self):
        bounds, order = gen.ingest_plan(5)
        self.assertEqual(bounds[0], 0)
        self.assertEqual(bounds[-1], gen.INGEST_ROWS)
        self.assertEqual(sorted(set(order)), list(range(gen.INGEST_BATCHES)))
        self.assertGreater(len(order), gen.INGEST_BATCHES)


class CheckTest(unittest.TestCase):
    """The output checks pass a right result and fail a wrong one."""

    def _table(self, name, rows):
        cols = oracle.HOT_COLUMNS[name]
        return pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)})

    def test_hot_results_against_the_generator(self):
        hot = gen.expected_ingest(gen.ingest_events(4, 5_000))["hot"]
        for name, want in hot.items():
            rows = [[x] for x in want] if name == "top_values" else want
            got = oracle.hot_rows(name, self._table(name, rows[::-1]))
            self.assertIsNone(oracle.diff_rows(got, want), name)
        # sums may differ in the last bits, counts may not
        j = [r[:2] + [r[2] * (1 + 1e-14)] for r in hot["dimension_join"]]
        self.assertIsNone(oracle.diff_rows(j, hot["dimension_join"]))
        j[0][1] += 1
        self.assertIn("row 0", oracle.diff_rows(j, hot["dimension_join"]))
        users = [[r[0], r[1] - 1] for r in hot["dcount_users"]]
        self.assertIsNotNone(oracle.diff_rows(users, hot["dcount_users"]))
        self.assertIsNotNone(oracle.diff_rows([[0]], hot["dedup_latest"]))
        self.assertIsNotNone(oracle.diff_rows(hot["day_type_counts"][1:],
                                              hot["day_type_counts"]))

    def test_fixture_results_through_check_oracle(self):
        root = os.path.dirname(BENCH)
        with tempfile.TemporaryDirectory() as d:
            data, check = os.path.join(d, "data"), os.path.join(d, "check")
            rows = gen.write_fixtures(1, data)
            for name, n in (("q_right", rows["lineitem"]), ("q_wrong", 1),
                            ("q_rows", 2), ("q_empty", 0)):
                os.makedirs(os.path.join(check, name))
                pq.write_table(pa.table({"n": pa.array([n] * min(n, 2), pa.int64())
                                         if name in ("q_rows", "q_empty")
                                         else pa.array([n], pa.int64())}),
                               os.path.join(check, name, "part-0.parquet"))
            sql = "SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem"
            with open(os.path.join(check, "oracle_sql.json"), "w") as f:
                json.dump({"q_right": sql, "q_wrong": sql}, f)
            checks = {"q_right": {}, "q_wrong": {}, "q_rows": {}, "q_empty": {},
                      "q_failed": {"error": "boom"}}
            out = oracle.check_fixture(checks, check, data, root)
        self.assertEqual(out["q_right"], (1, None))
        self.assertIn("duck=", out["q_wrong"][1])
        self.assertEqual(out["q_rows"], (2, None))
        self.assertEqual(out["q_empty"], (0, "no rows"))
        self.assertEqual(out["q_failed"], (0, "boom"))


class SpanTest(unittest.TestCase):
    def test_covered_merges_and_clips(self):
        self.assertEqual(stats.covered(0, 10, [(1, 3), (2, 5), (8, 12)]), 6)
        self.assertEqual(stats.covered(0, 10, []), 0)
        self.assertEqual(stats.covered(0, 10, [(-5, 20)]), 10)
        self.assertEqual(stats.covered(0, 10, [(11, 12), (4, 4)]), 0)

    def test_self_time_subtracts_only_direct_children(self):
        spans = [
            {"id": "q", "parent": None, "start": 0, "end": 10},
            {"id": "c", "parent": "q", "start": 0, "end": 4},
            {"id": "e", "parent": "q", "start": 4, "end": 10},
            {"id": "j1", "parent": "e", "start": 5, "end": 8},
            {"id": "j2", "parent": "e", "start": 7, "end": 9},
            {"id": "s", "parent": "j1", "start": 5, "end": 6},
        ]
        self.assertEqual(stats.self_times(spans),
                         {"q": 0, "c": 4, "e": 2, "j1": 2, "j2": 2, "s": 1})

    def test_layer_self_seconds_from_a_traced_sample(self):
        res = {
            "samples": [{"id": "1:q_a", "name": "q_a", "round": 1, "start_ms": 1000.0,
                         "construct_end_ms": 1100.0, "end_ms": 1500.0}],
            "execs": [{"phases": {"analysis": [1100, 1110], "optimization": [1110, 1130],
                                  "planning": [1130, 1150]}}],
            "jobs": [{"id": 3, "query": "1:q_a", "phase": "execute",
                      "start_ms": 1200, "end_ms": 1450, "stages": [5]}],
            "stages": [{"id": 5, "job": 3, "tasks": 4, "submit_ms": 1210, "end_ms": 1440}],
        }
        got = run.layer_self_seconds(run.build_spans(res, {1}))
        self.assertAlmostEqual(got["construct"], 0.1)
        self.assertAlmostEqual(got["execute"], 0.4 - 0.05 - 0.25)
        self.assertAlmostEqual(got["analysis"], 0.01)
        self.assertAlmostEqual(got["job"], 0.02)
        self.assertAlmostEqual(got["stage"], 0.23)
        self.assertAlmostEqual(got["query"], 0.0)


if __name__ == "__main__":
    unittest.main()
