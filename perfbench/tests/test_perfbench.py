"""Tests of the benchmark's own code: seeded inputs, statistics, span
self times and the output checks. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import checks  # noqa: E402
import datagen  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["adhoc_sql", "tpch", "llm_curate"]


def _files(d):
    return sorted(os.listdir(d))


class SeededInputs(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.data = {}
        for sf in ("0.01", "0.1"):
            d = os.path.join(cls.tmp.name, "sf" + sf)
            datagen.write(d, float(sf))
            cls.data[sf] = d

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def _write(self, workload, seed, tag):
        d = os.path.join(self.tmp.name, f"{workload}-{seed}-{tag}")
        inputs.write(workload, seed, d, self.data["0.1"])
        return d

    def test_base_tables_are_byte_identical(self):
        again = os.path.join(self.tmp.name, "again")
        datagen.write(again, 0.01)
        names = _files(self.data["0.01"])
        self.assertEqual(len(names), len(datagen.TABLES))
        _, mismatch, errors = filecmp.cmpfiles(self.data["0.01"], again, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_same_seed_gives_identical_inputs(self):
        for w in WORKLOADS:
            a, b = self._write(w, 7, "a"), self._write(w, 7, "b")
            names = _files(a)
            self.assertTrue(names)
            _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)

    def test_different_seed_gives_different_inputs(self):
        for w in WORKLOADS:
            a, b = self._write(w, 7, "c"), self._write(w, 8, "c")
            match, _, _ = filecmp.cmpfiles(a, b, _files(a), shallow=False)
            self.assertEqual(match, [], w)

    def test_adhoc_stream_never_repeats_a_text(self):
        qs = inputs.adhoc_queries(3)
        texts = [q["sql"] for q in qs]
        self.assertEqual(len(texts), len(set(texts)))
        dialects = {q["dialect"] for q in qs}
        self.assertTrue({"duckdb", "trino", "snowflake", "postgres", "tsql"} <= dialects)
        self.assertTrue(any(q["check"] for q in qs))
        self.assertFalse(any(q["check"] for q in qs if q["pass"] < 0))

    def test_llm_manifest_matches_corpus(self):
        table, manifest = inputs.llm_corpus(5, os.path.join(self.data["0.1"], "documents.parquet"))
        self.assertEqual(table.num_rows, manifest["docs"])
        flagged = set(manifest["expected_exact_flagged"])
        self.assertTrue(set(manifest["planted_exact"]) <= flagged)
        self.assertEqual(len(manifest["planted_exact"]),
                         int(inputs.CORPUS_BASE_DOCS * inputs.EXACT_DUP_SHARE))

    def test_tpch_order_is_a_permutation_per_pass(self):
        for order in inputs.tpch_order(4):
            self.assertEqual(sorted(order), list(range(1, 23)))


class Statistics(unittest.TestCase):
    def test_percentile_on_known_samples(self):
        xs = list(range(1, 11))
        self.assertEqual(metrics.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 9.1)
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)
        self.assertEqual(metrics.percentile([4.0], 90), 4.0)
        self.assertEqual(metrics.percentile([5, 1], 0), 1)
        self.assertEqual(metrics.percentile([5, 1], 100), 5)
        sample = [12.5, 3.0, 7.25, 9.0, 1.5, 30.0, 4.75, 8.0, 2.0, 11.0, 6.5]
        self.assertAlmostEqual(metrics.percentile(sample, 90),
                               statistics.quantiles(sample, n=10, method="inclusive")[8])
        self.assertAlmostEqual(metrics.percentile(sample, 50), statistics.median(sample))
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)

    def test_self_time_subtracts_covered_child_time_once(self):
        spans = [[0, -1, 0, "op", 0.0, 100.0],
                 [1, 0, 0, "a", 10.0, 30.0],
                 [2, 0, 0, "b", 20.0, 50.0],   # overlaps a
                 [3, 0, 0, "c", 60.0, 70.0],
                 [4, 3, 0, "d", 65.0, 90.0]]   # runs past its parent
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 100.0 - 40.0 - 10.0)
        self.assertEqual(st[1], 20.0)
        self.assertEqual(st[3], 5.0)
        self.assertEqual(st[4], 25.0)

    def test_end_to_end_pools_the_fixed_passes(self):
        def op(p, ms, error=None):
            return {"pass": p, "ms": ms, "traced": False, "error": error}
        raw = {"ops": [op(0, m) for m in (10, 20, 60)] + [op(0, 1000, "boom")]
               + [op(1, m) for m in (12, 18, 30)] + [op(2, m) for m in (1, 2, 3)],
               "pass_ms": [100.0, 80.0, 20.0],
               "setup": {"total_ms": 9000.0},
               "heap_peak_mb": 100.0}
        m = {k: v["value"] for k, v in metrics.end_to_end(raw).items()}
        lat = [10, 20, 60, 12, 18, 30, 1, 2, 3]
        self.assertEqual(m["query_p50_ms"], 12)
        self.assertAlmostEqual(m["query_p90_ms"], metrics.percentile(lat, 90))
        self.assertEqual(m["pass_s"], 0.08)
        self.assertEqual(m["queries_per_s"], 9 / 0.2)
        self.assertEqual(m["setup_s"], 9.0)
        self.assertEqual(m["heap_peak_mb"], 100.0)
        self.assertEqual([n for n, _ in metrics.END_TO_END], list(m))


class OutputChecks(unittest.TestCase):
    def test_rows_equal(self):
        rows = [(1, "a", 2.5, "1996-01-01"), (2, "b", None, "1996-02-01")]
        self.assertTrue(checks.rows_equal(rows, list(rows))[0])
        self.assertTrue(checks.rows_equal([(1.0 + 1e-12,)], [(1,)])[0])
        self.assertFalse(checks.rows_equal([(1.001,)], [(1,)])[0])
        self.assertFalse(checks.rows_equal(rows, rows[:1])[0])
        self.assertFalse(checks.rows_equal(rows, list(reversed(rows)))[0])
        self.assertFalse(checks.rows_equal(rows, checks.corrupt_rows(rows))[0])
        self.assertFalse(checks.rows_equal([], checks.corrupt_rows([]))[0])

    def test_sql_check_against_duckdb_fails_on_wrong_expected(self):
        with tempfile.TemporaryDirectory() as d:
            datagen.write(d, 0.01)
            rows = [json.dumps({"r_name": "AMERICA", "n": 5})]
            sql = "SELECT r_name, 5 AS n FROM region WHERE r_regionkey = 1"
            wrong = "SELECT r_name, 6 AS n FROM region WHERE r_regionkey = 1"
            self.assertEqual(checks.check_sql([("a", rows, sql)], d), {})
            self.assertEqual(list(checks.check_sql([("a", rows, sql)], d, corrupt=True)), ["a"])
            self.assertEqual(list(checks.check_sql([("a", rows, wrong)], d)), ["a"])
            raw = {"ops": [{"id": 0, "name": "t#7", "rows": rows},
                           {"id": 1, "name": "t#8", "rows": None}]}
            queries = [{"index": 7, "oracle": sql}, {"index": 8, "oracle": wrong}]
            self.assertEqual(checks.check_adhoc(raw, queries, d), {})
            self.assertEqual(list(checks.check_adhoc(raw, queries, d, corrupt=True)), [0])
            raw = {"ops": [{"id": 0, "name": "q", "rows": rows},
                           {"id": 1, "name": "q", "rows": None}],
                   "facts": {"oracles": {"q": sql}}}
            self.assertEqual(checks.check_tpch(raw, d), {})
            self.assertEqual(list(checks.check_tpch(raw, d, corrupt=True)), [0])

    def _llm_raw(self, flagged, survivors, read_back):
        ops = [{"id": 0, "pass": 0, "name": "llm.Dedup.exactDedup"},
               {"id": 1, "pass": 0, "name": "Sources.parquet"}]
        return {"ops": ops, "checks": [{"pass": 0, "exact_flagged": flagged,
                                        "survivors": survivors, "read_back": read_back}]}

    def test_llm_checks(self):
        manifest = {"planted_exact": [5, 6], "expected_exact_flagged": [4, 5, 6]}
        good = self._llm_raw([6, 5, 4], [1, 2, 3], [3, 1, 2])
        self.assertEqual(checks.check_llm(good, manifest), {})
        self.assertEqual(sorted(checks.check_llm(good, manifest, corrupt=True)), [0, 1])
        missed = self._llm_raw([4, 5], [1, 2, 3], [1, 2, 3])
        self.assertEqual(list(checks.check_llm(missed, manifest)), [0])
        lost = self._llm_raw([4, 5, 6], [1, 2, 3], [1, 2])
        self.assertEqual(list(checks.check_llm(lost, manifest)), [1])
        doubled = self._llm_raw([4, 5, 6], [1, 2, 3], [1, 2, 3, 3])
        self.assertEqual(list(checks.check_llm(doubled, manifest)), [1])


if __name__ == "__main__":
    unittest.main()
