"""Tests of the benchmark's own helpers (no engine build needed).

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import math
import os
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import measure  # noqa: E402
import oracle  # noqa: E402

SMALL_INGEST = {"CUSTOMER": 200, "CART": 600, "CARTDETAILS": 1500, "BILL": 1500}


def digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class GeneratorsAreSeeded(unittest.TestCase):
    def test_star_tables_byte_identical_per_seed(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            gen.write_star(a, 7, 0.001)
            gen.write_star(b, 7, 0.001)
            gen.write_star(c, 8, 0.001)
            self.assertEqual(digest(a), digest(b))
            self.assertNotEqual(digest(a), digest(c))

    def test_ingest_sets_byte_identical_per_seed(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            gen.write_ingest(a, 7, SMALL_INGEST)
            gen.write_ingest(b, 7, SMALL_INGEST)
            gen.write_ingest(c, 8, SMALL_INGEST)
            self.assertEqual(digest(a), digest(b))
            self.assertNotEqual(digest(a), digest(c))

    def test_serve_stream_identical_per_seed(self):
        self.assertEqual(gen.serve_pool(7), gen.serve_pool(7))
        self.assertEqual(gen.serve_stream(), gen.serve_stream())
        self.assertEqual(gen.serve_warmup(7), gen.serve_warmup(7))
        self.assertNotEqual(gen.serve_pool(7), gen.serve_pool(8))
        self.assertNotEqual(gen.serve_stream(phase="u"), gen.serve_stream(phase="t"))
        self.assertNotEqual(gen.serve_pool(7, phase="u"), gen.serve_pool(7, phase="t"))

    def test_serve_stream_repeats_some_texts(self):
        share = measure.repeat_share(gen.serve_stream()[:100])
        self.assertGreater(share, 0.1)
        self.assertLess(share, 0.9)


class Percentiles(unittest.TestCase):
    def test_refuses_without_ten_samples_beyond(self):
        with self.assertRaises(ValueError):
            measure.percentile(list(range(99)), 90)  # 9 beyond
        self.assertEqual(measure.percentile(list(range(1, 101)), 90), 90)  # 10 beyond
        with self.assertRaises(ValueError):
            measure.percentile(list(range(1000)), 99.9)

    def test_tail_picks_highest_supported(self):
        self.assertEqual(measure.tail(list(range(1, 101)))[0], 90)
        self.assertEqual(measure.tail(list(range(1, 1001)))[0], 99)
        self.assertIsNone(measure.tail(list(range(20))))

    def test_failures_count_as_missing_the_limit(self):
        lat = [1.0] * 80 + [math.inf] * 20
        self.assertEqual(measure.percentile(lat, 90), math.inf)

    def test_self_time_subtracts_children(self):
        spans = [{"id": 1, "parent": 0, "name": "q", "t0": 0, "t1": 10_000_000},
                 {"id": 2, "parent": 1, "name": "a", "t0": 1_000_000, "t1": 4_000_000},
                 {"id": 3, "parent": 1, "name": "b", "t0": 3_000_000, "t1": 6_000_000}]
        st = measure.self_times(spans)
        self.assertAlmostEqual(st["q"][1], 5.0)
        self.assertAlmostEqual(st["a"][1], 3.0)


class OracleChecksBite(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.star = os.path.join(cls.tmp.name, "star")
        gen.write_star(cls.star, 3, 0.01)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def truth(self, sql):
        return [list(r) for r in oracle._star(self.star).execute(sql).fetchall()]

    def test_serve_check_flags_perturbed_result(self):
        pool = gen.serve_pool(3, size=60)
        for k in (0, 1, 3, 5):  # ordered select, join, aggregate, distinct desc
            i = next(i for i, q in enumerate(pool) if q["template"] == k)
            rows = self.truth(pool[i]["sql"])
            self.assertTrue(rows, pool[i]["text"])
            self.assertEqual(oracle.check_serve(self.star, pool, {i: rows}), {})
            bad = [list(r) for r in rows]
            bad[0][-1] = bad[0][-1] + 1 if not isinstance(bad[0][-1], str) else bad[0][-1] + "x"
            self.assertIn(i, oracle.check_serve(self.star, pool, {i: bad}))
            self.assertIn(i, oracle.check_serve(self.star, pool, {i: rows[1:]}))
            if pool[i]["order"] and len(rows) > 1 and rows[0] != rows[-1]:
                self.assertIn(i, oracle.check_serve(self.star, pool, {i: rows[::-1]}))

    def test_analytic_check_flags_perturbed_result(self):
        dump = os.path.join(self.tmp.name, "dump")
        os.makedirs(os.path.join(dump, "q_test"), exist_ok=True)
        sql = ("SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n FROM lineitem "
               "GROUP BY 1 ORDER BY 1")
        with open(os.path.join(dump, "oracle_sql.json"), "w") as f:
            json.dump({"q_test": sql}, f)
        good = duckdb.connect().execute(
            f"SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n FROM "
            f"read_parquet('{self.star}/lineitem.parquet') GROUP BY 1 ORDER BY 1").arrow()
        path = os.path.join(dump, "q_test", "part-0.parquet")
        pq.write_table(good, path)
        self.assertEqual(oracle.check_analytic(ROOT, self.star, dump), {})
        n = good.column("n").to_pylist()
        n[0] += 1
        pq.write_table(good.set_column(1, "n", pa.array(n, pa.int64())), path)
        self.assertIn("q_test", oracle.check_analytic(ROOT, self.star, dump))

    def test_ingest_check_flags_perturbed_result(self):
        ds = os.path.join(self.tmp.name, "ingest")
        conv = os.path.join(self.tmp.name, "conv")
        rows = gen.write_ingest(ds, 5, SMALL_INGEST)
        schemas = gen.ingest_schemas(SMALL_INGEST)
        for table, n in rows.items():
            os.makedirs(os.path.join(conv, f"{table}.parquet"), exist_ok=True)
            pq.write_table(pa.table({"x": list(range(n))}),
                           os.path.join(conv, f"{table}.parquet", "part-0.parquet"))
        con = duckdb.connect()
        for table, cols in schemas.items():
            con.register(table, oracle._read_txt(ds, table, cols))
        want = con.execute(gen.INGEST_SQL).fetchall()
        result = os.path.join(self.tmp.name, "result.txt")

        def write(rs):
            with open(result, "w") as f:
                f.write("header  \n" + "".join("".join(f"{v}\t" for v in r) + "\n" for r in rs))

        write(want)
        self.assertEqual(oracle.check_ingest(ds, conv, result, schemas, rows, gen.INGEST_SQL), [])
        write([(want[0][0], want[0][1], want[0][2] + 1, want[0][3])] + want[1:])
        self.assertTrue(oracle.check_ingest(ds, conv, result, schemas, rows, gen.INGEST_SQL))
        write(want)
        short = dict(rows, BILL=rows["BILL"] + 1)
        self.assertTrue(oracle.check_ingest(ds, conv, result, schemas, short, gen.INGEST_SQL))


if __name__ == "__main__":
    unittest.main()
