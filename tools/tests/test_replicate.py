"""tools/replicate.py on a 2x replica of the sf0.01 corpus that the
benchmark keeps in the checkout (`perfbench/corpus`).

Run: python3 -m unittest discover -s tools/tests
"""
import os
import sys
import tempfile
import unittest

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import replicate  # noqa: E402

SRC = os.path.join(os.path.dirname(__file__), "..", "..", "perfbench", "corpus")
N = 2


class ReplicateTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory(prefix="graft_replica_")
        cls.out = cls.tmp.name
        replicate.main(["replicate.py", SRC, str(N), cls.out])
        cls.db = duckdb.connect()
        # file_row_number places each replica row: replica r holds rows
        # [r * source rows, (r + 1) * source rows)
        for side, d in (("src", SRC), ("rep", cls.out)):
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    cls.db.execute(f"CREATE VIEW {side}_{f[:-8]} AS SELECT * FROM "
                                   f"read_parquet('{os.path.join(d, f)}', file_row_number=true)")

    @classmethod
    def tearDownClass(cls):
        cls.db.close()
        cls.tmp.cleanup()

    def one(self, sql):
        return self.db.execute(sql).fetchone()[0]

    def tables(self):
        return sorted(f[:-8] for f in os.listdir(SRC) if f.endswith(".parquet"))

    def test_every_table_written_with_the_source_schema(self):
        self.assertEqual(sorted(os.listdir(self.out)),
                         sorted(f"{t}.parquet" for t in self.tables()))
        for t in self.tables():
            src = pq.read_schema(os.path.join(SRC, f"{t}.parquet"))
            rep = pq.read_schema(os.path.join(self.out, f"{t}.parquet"))
            self.assertTrue(rep.equals(src, check_metadata=True), t)
        ts = pq.ParquetFile(os.path.join(self.out, "events.parquet")).schema.column(1)
        self.assertEqual(ts.name, "ts")
        self.assertEqual(str(ts.logical_type),
                         str(pq.ParquetFile(os.path.join(SRC, "events.parquet"))
                             .schema.column(1).logical_type))

    def test_keyed_tables_n_times_dimensions_once(self):
        for t in self.tables():
            src = self.one(f"SELECT count(*) FROM src_{t}")
            want = src * N if t in replicate.KEYS else src
            self.assertEqual(self.one(f"SELECT count(*) FROM rep_{t}"), want, t)

    def test_per_replica_key_ranges_are_disjoint(self):
        for t, keys in replicate.KEYS.items():
            for k in keys:
                src = self.one(f"SELECT count(*) FROM src_{t}")
                per = self.db.execute(
                    f"SELECT {k} // {replicate.OFFSET} AS r, count(*), "
                    f"min({k} % {replicate.OFFSET}), max({k} % {replicate.OFFSET}) "
                    f"FROM rep_{t} GROUP BY r ORDER BY r").fetchall()
                lo, hi = self.db.execute(f"SELECT min({k}), max({k}) FROM src_{t}").fetchone()
                self.assertEqual(per, [(r, src, lo, hi) for r in range(N)], f"{t}.{k}")

    def test_foreign_keys_resolve_within_their_replica(self):
        for child, fk, parent, pk in (("orders", "o_custkey", "customer", "c_custkey"),
                                      ("lineitem", "l_orderkey", "orders", "o_orderkey")):
            src = self.one(f"SELECT count(*) FROM src_{child} c JOIN src_{parent} p "
                           f"ON c.{fk} = p.{pk}")
            rows = self.one(f"SELECT count(*) FROM src_{child}")
            self.assertEqual(src, rows, f"source {child}.{fk} has dangling keys")
            parent_rows = self.one(f"SELECT count(*) FROM src_{parent}")
            # each child row finds one parent row, and it is in its replica
            rep = self.db.execute(
                f"SELECT count(*), count_if(c.file_row_number // {rows} "
                f"= p.file_row_number // {parent_rows}) "
                f"FROM rep_{child} c JOIN rep_{parent} p ON c.{fk} = p.{pk}").fetchone()
            self.assertEqual(rep, (src * N, src * N), f"{child}.{fk}")

    def test_user_folds_fall_the_same_way_in_every_replica(self):
        src = self.db.execute("SELECT user_id % 5 AS f, count(*) FROM src_events "
                              "GROUP BY f ORDER BY f").fetchall()
        for r in range(N):
            got = self.db.execute(
                f"SELECT user_id % 5 AS f, count(*) FROM rep_events "
                f"WHERE user_id // {replicate.OFFSET} = {r} GROUP BY f ORDER BY f").fetchall()
            self.assertEqual(got, src, f"replica {r}")


if __name__ == "__main__":
    unittest.main()
