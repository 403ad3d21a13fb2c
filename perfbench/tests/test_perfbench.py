"""Tests of the benchmark itself. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The two fault-injection tests start the harness JVM (about a minute each,
plus a build on first use).
"""
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import etl_fixtures  # noqa: E402
import run  # noqa: E402
import warehouse  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


class GeneratorTest(unittest.TestCase):
    def test_etl_fixtures_are_deterministic_per_seed(self):
        for workload in etl_fixtures.SHAPES:
            self.assertEqual(etl_fixtures.generate(workload, 7), etl_fixtures.generate(workload, 7))
            self.assertNotEqual(etl_fixtures.generate(workload, 7), etl_fixtures.generate(workload, 8))

    def test_etl_fixtures_cover_the_variants(self):
        for seed in range(1, 4):
            self.check_variants(*etl_fixtures.generate("etl_fleet", seed))

    def check_variants(self, sheets, config, mutations):
        cells = [c for s in sheets for row in s["values"] for c in row]
        header_rows = [s["values"][config[s["spreadsheetId"]][s["sheetName"]]["headerRow"]] for s in sheets]
        jobs = [j for sheets_of in config.values() for j in sheets_of.values()]
        specs = [v for j in jobs for v in j["columnMapping"].values()]
        self.assertTrue(any(c != c.strip() for c in cells), "untrimmed cells")
        self.assertTrue(any(ord(ch) > 127 for h in header_rows for c in h for ch in c), "non-ASCII headers")
        self.assertTrue(any(len(set(h)) < len(h) for h in header_rows), "duplicate headers")
        self.assertTrue(any(j["headerRow"] > 0 for j in jobs), "title rows above the header")
        self.assertTrue(any(isinstance(v, int) for v in specs), "index specifiers")
        self.assertTrue(any(isinstance(v, str) for v in specs), "name specifiers")
        self.assertTrue(any(len(r) < 6 for s in sheets for r in s["values"][2:]), "ragged rows")
        self.assertEqual(len({j["targetTable"] for j in jobs}), etl_fixtures.SHAPES["etl_fleet"]["targets"])
        self.assertTrue(mutations["content"] and mutations["touch"])
        for m in mutations["touch"]:
            base = next(s for s in sheets if s["spreadsheetId"] == m["spreadsheetId"])
            self.assertEqual(base["values"], m["values"])
            self.assertGreater(m["modifiedTime"], max(s["modifiedTime"] for s in sheets))

    def test_warehouse_is_deterministic_per_seed(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            for name, seed in (("a", 5), ("b", 5), ("c", 6)):
                warehouse.generate(os.path.join(d, name), seed, 0.001)
            for t in warehouse.TABLES:
                a, b, c = (pq.read_table(os.path.join(d, n, t + ".parquet")) for n in "abc")
                self.assertTrue(a.equals(b), t)
                if t not in ("region", "nation"):
                    self.assertFalse(a.equals(c), t)


class ExpectedModelTest(unittest.TestCase):
    # FIXTURES.md section 1 grid and section 2 job
    VALUES = [["Name ", "Émail Address", "Status", "Status", "#"],
              ["Alice", " alice@example.com", "DONE", "x"],
              ["Bob", "bob@example.com"],
              ["", "  ", "active", "y", "7"]]
    JOB = {"targetTable": "certification_course_renewals_2019",
           "columnMapping": {"name": "Name", "email": "Émail Address", "flag": 3},
           "headerRow": 0, "skipRows": 1}

    def test_reproduces_the_fixtures_md_target_table(self):
        # FIXTURES.md section 4, _origin_row = list position
        self.assertEqual(etl_fixtures.expected_rows(self.VALUES, self.JOB), [
            {"name": "Alice", "email": "alice@example.com", "flag": "x"},
            {"name": "Bob", "email": "bob@example.com", "flag": None},
            {"name": "", "email": "", "flag": "y"}])

    def test_name_normalization(self):
        self.assertEqual(etl_fixtures.normalize_names(["Émail", "e-mail", "2nd", "#", "col_7", "Größe"]),
                         ["email", "col_2", "_2nd", "_", "col_5", "groe"])

    def test_fingerprint_is_order_independent(self):
        rows = [etl_fixtures.row_digest("g", "s", i, ["a"], {"a": str(i)}) for i in range(5)]
        self.assertEqual(etl_fixtures.table_fingerprint(rows),
                         etl_fixtures.table_fingerprint(list(reversed(rows))))
        self.assertNotEqual(etl_fixtures.row_digest("g", "s", 0, ["a"], {"a": None}),
                            etl_fixtures.row_digest("g", "s", 0, ["a"], {"a": ""}))


class MetricNamesTest(unittest.TestCase):
    def test_names_units_and_benchmark_json_agree(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        for group, names in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
            self.assertEqual([m["name"] for m in spec[group]], names, group)
            for m in spec[group]:
                self.assertRegex(m["name"], NAME)
                self.assertEqual(m["unit"], run.unit_of(m["name"]), m["name"])
        self.assertLessEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))
        self.assertEqual(len(set(run.PER_LAYER)), len(run.PER_LAYER))


class FailureAccountingTest(unittest.TestCase):
    """A failed operation is counted, and its time is never a metric."""

    def test_a_wrong_table_fails_the_tick_and_drops_its_time(self):
        sheets, config, mutations = etl_fixtures.generate("etl_fleet", 3)
        expected = etl_fixtures.expected_tables(sheets, config)
        every = [[s["spreadsheetId"], s["sheetName"]] for s in sheets]
        wrong = {t: dict(v, rows=v["rows"] - 1) for t, v in expected.items()}
        ticks = [dict(kind="cold", error=None, audit_ok=True, loaded=every, rewritten=every,
                      tables=tables, seconds=secs)
                 for tables, secs in ((expected, 10.0), (wrong, 0.001))]
        verdicts = run.etl_checks(ticks, sheets, config, mutations)
        self.assertEqual([ok for _, ok, _ in verdicts], [True, False])
        times = [t["seconds"] for t, ok, _ in verdicts if ok]
        self.assertEqual(times, [10.0])


@unittest.skipUnless(os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft")),
                     "needs the program sources")
class FaultInjectionTest(unittest.TestCase):
    def bench(self, workload, fault):
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                            "--seed", "1", "--seconds", "1", "--trace", "0", "--inject-fault", fault],
                           cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        return json.loads(p.stdout.strip().splitlines()[-1])

    def test_broken_tick_shows_in_error_rate(self):
        r = self.bench("etl_fleet", "tick")
        self.assertFalse(r["correct"])
        self.assertGreater(r["failed"], 0)
        self.assertLessEqual(r["failed"], r["attempted"])
        self.assertNotIn("op_max_s", r["metrics"])

    def test_broken_query_shows_in_error_rate(self):
        r = self.bench("warehouse_queries", "query")
        self.assertFalse(r["correct"])
        self.assertGreater(r["failed"], 0)
        # the broken query has no time, so the roster sum is not reported
        self.assertNotIn("suite_s", r["metrics"])


class EmptyCheckoutTest(unittest.TestCase):
    def test_refuses_without_the_program(self):
        with tempfile.TemporaryDirectory() as d:
            p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", "etl_fleet",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
