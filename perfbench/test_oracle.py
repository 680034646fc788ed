"""The query_mix oracle check accepts an equal output and rejects a perturbed one.

    python3 perfbench/test_oracle.py
"""
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import oracle  # noqa: E402

SQL = "SELECT doc_id, length(text) AS n FROM documents WHERE doc_id % 2 = 0"


class OracleCheckTest(unittest.TestCase):
    def setUp(self):
        import duckdb
        os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
        self.work = tempfile.mkdtemp(dir=os.path.join(HERE, ".work"))
        self.cache = tempfile.mkdtemp(dir=os.path.join(HERE, ".work"))
        oracle.CACHE = self.cache
        self.con = duckdb.connect()
        fixture = os.path.join(self.work, "data")
        for t, q in [("documents", "SELECT range AS doc_id, repeat('ab', range) AS text "
                                   "FROM range(40)"),
                     ("orders", "SELECT range AS o_orderkey FROM range(5)")]:
            os.makedirs(os.path.join(fixture, f"{t}.parquet"))
            self.con.execute(f"COPY ({q}) TO '{fixture}/{t}.parquet/part-0.parquet' "
                             "(FORMAT parquet)")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{fixture}/{t}.parquet/*.parquet')")
        self.fixture = fixture

    def tearDown(self):
        shutil.rmtree(self.work, ignore_errors=True)
        shutil.rmtree(self.cache, ignore_errors=True)

    def output(self, sql):
        out = tempfile.mkdtemp(dir=self.work)
        self.con.execute(f"COPY ({sql}) TO '{out}/part-0.parquet' (FORMAT parquet)")
        return out

    def check(self, sql):
        return oracle.mismatch(self.con, self.output(sql), SQL, self.fixture)

    def test_equal_output_passes_twice_through_the_cache(self):
        self.assertIsNone(self.check(SQL))
        self.assertIsNone(self.check(f"SELECT n, doc_id FROM ({SQL}) ORDER BY n DESC"))
        self.assertEqual(len(os.listdir(self.cache)), 1)

    def test_perturbed_outputs_fail(self):
        self.assertIsNotNone(self.check(
            f"SELECT doc_id, CASE WHEN doc_id = 4 THEN n + 1 ELSE n END AS n FROM ({SQL})"))
        self.assertIsNotNone(self.check(f"SELECT * FROM ({SQL}) WHERE doc_id <> 4"))
        self.assertIsNotNone(self.check(f"SELECT doc_id, CAST(n AS DOUBLE) AS n FROM ({SQL})"))
        self.assertIsNotNone(self.check(f"SELECT doc_id AS id, n FROM ({SQL})"))


if __name__ == "__main__":
    unittest.main()
