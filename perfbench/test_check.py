"""The benchmark's output check catches a tampered result.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Results written by DuckDB from the oracle SQL itself stand in for the
engine's output: untouched they pass, and a changed value, a dropped row or
an empty result with no oracle each come back as a failed query, which
run.py counts in `failed`.
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import run  # noqa: E402

ORACLES = {
    "user_totals": "SELECT user_id, count(*) AS n, sum(value) AS total "
                   "FROM events GROUP BY user_id",
    "doc_lengths": "SELECT doc_id, n_chars FROM documents",
}


class OutputCheckTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(run.WORK, exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=run.WORK)
        self.data = os.path.join(self.dir, "data")
        self.results = os.path.join(self.dir, "results")
        gen.generate(self.data, 3, 2_000, 40, 60)
        con = duckdb.connect()
        for t in ("events", "documents"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data}/{t}.parquet')")
        for name, sql in ORACLES.items():
            os.makedirs(os.path.join(self.results, name))
            con.execute(f"COPY ({sql}) TO '{self.part(name)}' (FORMAT parquet)")
        with open(os.path.join(self.results, "oracle_sql.json"), "w") as f:
            json.dump(ORACLES, f)

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def part(self, name):
        return os.path.join(self.results, name, "part-0.parquet")

    def failed(self):
        failed, _ = run.check(self.data, self.results)
        return failed

    def test_untouched_results_pass(self):
        self.assertEqual(self.failed(), {})

    def test_changed_value_is_caught(self):
        t = pq.read_table(self.part("user_totals"))
        i = t.schema.get_field_index("total")
        bumped = pc.add(t.column("total"), 0.01)
        pq.write_table(t.set_column(i, "total", bumped), self.part("user_totals"))
        self.assertEqual(set(self.failed()), {"user_totals"})

    def test_dropped_row_is_caught(self):
        t = pq.read_table(self.part("doc_lengths"))
        pq.write_table(t.slice(1), self.part("doc_lengths"))
        self.assertEqual(set(self.failed()), {"doc_lengths"})

    def test_empty_result_without_oracle_is_caught(self):
        t = pq.read_table(self.part("doc_lengths"))
        os.makedirs(os.path.join(self.results, "no_oracle"))
        pq.write_table(t.slice(0, 0), self.part("no_oracle"))
        self.assertEqual(set(self.failed()), {"no_oracle"})


if __name__ == "__main__":
    unittest.main()
