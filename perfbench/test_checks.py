"""The benchmark's own test: its output checks accept the oracle's
result and reject a perturbed one.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Runs DuckDB only (no Spark). The curation case needs the library's
oracle SQL, which it reads through the benchmark's build (sbt, on the
first run in a checkout). Inputs go to .bench_build/test at the
repository root. Each case writes outputs in the shape the JVM side
leaves them (T's CSV part files, L's parquet, query rows, the report
file, the pack manifest), checks them, perturbs one value, and checks
again.
"""
import json
import os
import shutil
import unittest

import duckdb

import gen
import oracle
import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "test")


class TlqChecks(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.inputs = os.path.join(WORK, "tlq-inputs")
        shutil.rmtree(cls.inputs, ignore_errors=True)
        gen.generate("tlq_sales", 5, 400, cls.inputs)
        cls.expected = oracle.tlq_oracle(cls.inputs)

    def write_pass(self, perturb_sql=None, perturb_query=False):
        """Write the oracle's own table as a pass's T and L outputs."""
        d = os.path.join(WORK, "tlq-pass")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.join(d, "t"))
        os.makedirs(os.path.join(d, "l"))
        con = duckdb.connect()
        con.execute(f"CREATE TABLE t AS {oracle.transformed_sql(self.inputs)}")
        if perturb_sql:
            con.execute(perturb_sql)
        con.execute(f"COPY t TO '{d}/t/part-00000.csv' (HEADER)")
        con.execute(f"COPY t TO '{d}/l/part-00000.parquet' (FORMAT PARQUET)")
        with open(os.path.join(self.inputs, "queries.json")) as f:
            queries = json.load(f)
        with open(os.path.join(d, "rows.jsonl"), "w") as f:
            for q in queries[:6]:
                cols, rows = oracle.relation(con, q["sql"].replace("SalesData", "t"))
                rows = [list(r) for r in rows]
                if perturb_query and q is queries[0]:
                    rows[0][cols.index("n_orders")] += 1
                f.write(json.dumps({"id": q["id"], "error": None, "columns": cols,
                                    "rows": rows}, default=str) + "\n")
        con.close()
        with open(os.path.join(d, "rows.jsonl")) as f:
            rows = [json.loads(ln) for ln in f]
        return d, rows

    def test_oracle_output_passes(self):
        d, rows = self.write_pass()
        problems, bad = oracle.check_tlq(self.expected, d, rows)
        self.assertEqual(problems, [])
        self.assertEqual(bad, 0)

    def test_perturbed_margin_is_rejected(self):
        d, rows = self.write_pass(
            "UPDATE t SET gross_margin = gross_margin + 1e-6 "
            "WHERE order_id = (SELECT min(order_id) FROM t)")
        problems, bad = oracle.check_tlq(self.expected, d, rows)
        self.assertEqual(len(problems), 2)  # both the CSV and the parquet
        self.assertEqual(bad, 0)

    def test_missing_row_is_rejected(self):
        d, rows = self.write_pass("DELETE FROM t WHERE order_id = (SELECT max(order_id) FROM t)")
        problems, _ = oracle.check_tlq(self.expected, d, rows)
        tables = [p for p in problems if not p.startswith("query")]
        self.assertEqual(len(tables), 2)

    def test_perturbed_query_is_rejected(self):
        d, rows = self.write_pass(perturb_query=True)
        problems, bad = oracle.check_tlq(self.expected, d, rows)
        self.assertEqual(bad, 1)
        self.assertTrue(problems[0].startswith("query q00"))


class FaasChecks(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.inputs = os.path.join(WORK, "faas-inputs")
        shutil.rmtree(cls.inputs, ignore_errors=True)
        gen.generate("faas_report", 5, 30, cls.inputs)
        cls.expected = oracle.faas_oracle(cls.inputs, keep_rows=True)

    def write_report(self, raw_cell=None, group_cell=None, runs_delta=0):
        """Render the oracle's sections in ReportWriter's layout."""
        d = os.path.join(WORK, "faas-pass")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)

        def line(r):
            return ",".join("" if v is None else str(v) for v in r)

        cols, rows = self.expected["raw_rows"]
        rows = [list(r) for r in rows]
        if raw_cell:
            c, v = raw_cell
            rows[0][cols.index(c)] = v
        out = ["Report: perfbench", "", "Raw results of each run:", ",".join(cols)]
        out += [line(r) for r in rows]
        out += [f"Successful Runs: {self.expected['successful_runs'] + runs_delta}", ""]
        for cat, g in sorted(self.expected["groups"].items()):
            grows = [list(r) for r in g["rows"]]
            if group_cell and group_cell[0] == cat:
                ci = g["columns"].index(group_cell[1])
                grows[0][ci] = grows[0][ci] + group_cell[2]
            out += [f"Category {cat}:", ",".join(g["columns"])]
            out += [line(r) for r in grows]
            out += [f"Total number of unique {cat}s: {len(grows)}", ""]
        with open(os.path.join(d, "report.csv"), "w") as f:
            f.write("\n".join(out) + "\n")
        return d

    def test_oracle_report_passes(self):
        self.assertEqual(oracle.check_faas(self.expected, self.write_report()), [])

    def test_perturbed_raw_value_is_rejected(self):
        d = self.write_report(raw_cell=("chain_ms", 1))
        problems = oracle.check_faas(self.expected, d)
        self.assertEqual(len(problems), 1)
        self.assertTrue(problems[0].startswith("raw section"))

    def test_perturbed_average_is_rejected(self):
        d = self.write_report(group_cell=("functionName", "avg_runtime_s", 0.05))
        problems = oracle.check_faas(self.expected, d)
        self.assertEqual(len(problems), 1)
        self.assertIn("avg_runtime_s", problems[0])

    def test_average_within_rounding_passes(self):
        d = self.write_report(group_cell=("memory", "avg_runtime_s", 0.01))
        self.assertEqual(oracle.check_faas(self.expected, d), [])

    def test_wrong_run_count_is_rejected(self):
        d = self.write_report(runs_delta=1)
        self.assertEqual(len(oracle.check_faas(self.expected, d)), 1)


class CurationChecks(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.inputs = os.path.join(WORK, "curation-inputs")
        shutil.rmtree(cls.inputs, ignore_errors=True)
        gen.generate("curation_chain", 5, 200, cls.inputs)
        work = os.path.join(ROOT, ".bench_build")
        sql = run.library_sql(work, run.build(ROOT, work))
        cls.expected = oracle.curation_oracle(cls.inputs, sql, keep_rows=True)

    def manifest(self, edit=None):
        """The oracle's manifest as the JVM side writes it to rows.jsonl."""
        cols, rows = self.expected["manifest_rows"]
        rows = [list(r) for r in rows]
        if edit:
            edit(cols, rows)
        return [{"id": "manifest", "error": None, "columns": cols,
                 "rows": json.loads(json.dumps(rows, default=str))}]

    def test_oracle_manifest_passes(self):
        self.assertGreater(self.expected["manifest"]["rows"], 0)
        self.assertEqual(oracle.check_rows(self.expected, self.manifest()), [])

    def test_perturbed_manifest_is_rejected(self):
        def bump(cols, rows):
            c = next(i for i, v in enumerate(rows[0]) if isinstance(v, int))
            rows[0][c] += 1
        self.assertEqual(len(oracle.check_rows(self.expected, self.manifest(bump))), 1)

    def test_missing_manifest_row_is_rejected(self):
        got = self.manifest(lambda cols, rows: rows.pop())
        self.assertEqual(len(oracle.check_rows(self.expected, got)), 1)

    def test_failed_pass_is_rejected(self):
        got = [{"id": "manifest", "error": "boom", "columns": [], "rows": []}]
        self.assertEqual(len(oracle.check_rows(self.expected, got)), 1)


class CanonicalForm(unittest.TestCase):

    def test_engines_agree_on_number_text(self):
        # Spark prints doubles like 1.0E-4 and longs plainly; DuckDB and
        # Python give floats and ints: all read the same once canonical
        self.assertEqual(oracle.canon("1.0E-4"), oracle.canon(0.0001))
        self.assertEqual(oracle.canon("12.0"), oracle.canon(12))
        self.assertEqual(oracle.canon(""), oracle.canon(None))
        self.assertNotEqual(oracle.canon("0.1000001"), oracle.canon(0.1))

    def test_row_order_does_not_matter(self):
        a = oracle.digest(["x", "y"], [[1, "a"], [2, "b"]])
        b = oracle.digest(["y", "x"], [["b", 2], ["a", 1]])
        self.assertEqual(a, b)


if __name__ == "__main__":
    unittest.main()
