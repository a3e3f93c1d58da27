"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests

The JVM-side checks (generator determinism, the Scala correctness
checkers) run through perfbench.SelfTest and need the build, which
run.build() makes on first use.
"""
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import oracle  # noqa: E402
import summary  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        value, pct, n = summary.tail(range(1, 21))
        self.assertEqual((value, pct, n), (10, 50.0, 20))

    def test_hundred_samples_give_p90(self):
        value, pct, n = summary.tail([float(x) for x in range(100, 0, -1)])
        self.assertEqual((value, pct, n), (90.0, 90.0, 100))

    def test_eleven_samples_is_the_minimum(self):
        self.assertIsNone(summary.tail(range(10)))
        value, pct, n = summary.tail(range(11))
        self.assertEqual((value, n), (0, 11))
        self.assertAlmostEqual(pct, 100.0 / 11)


def span(i, parent, start, end, layer="core", name="s"):
    return {"id": i, "parent": parent, "trace": 1, "name": name,
            "layer": layer, "start_ns": start, "end_ns": end}


class SelfTime(unittest.TestCase):
    spans = [span(1, 0, 0, 100, "analytics"),
             span(2, 1, 10, 30, "lake"),
             span(3, 1, 40, 90, "serve"),
             span(4, 3, 50, 60, "core")]

    def test_duration_minus_children(self):
        self.assertEqual(summary.self_times(self.spans),
                         {1: 30, 2: 20, 3: 40, 4: 10})

    def test_self_times_add_up_to_the_root(self):
        self.assertEqual(sum(summary.self_times(self.spans).values()), 100)

    def test_by_layer(self):
        by = summary.self_by_layer(self.spans)
        self.assertAlmostEqual(by["analytics"], 30e-9)
        self.assertAlmostEqual(by["serve"], 40e-9)
        self.assertEqual(by["datagen"], 0.0)


class Oracle(unittest.TestCase):
    def test_rejects_a_planted_wrong_row(self):
        import duckdb
        with tempfile.TemporaryDirectory() as d:
            con = duckdb.connect()
            con.execute("CREATE TABLE t AS SELECT range AS k, range * 0.5 AS v "
                        "FROM range(20)")
            good = os.path.join(d, "good.parquet")
            bad = os.path.join(d, "bad.parquet")
            con.execute(f"COPY t TO '{good}' (FORMAT parquet)")
            con.execute("UPDATE t SET v = 99 WHERE k = 7")
            con.execute(f"COPY t TO '{bad}' (FORMAT parquet)")
            sql = "SELECT range AS k, range * 0.5 AS v FROM range(20)"
            self.assertIsNone(oracle.compare(con, [good], sql))
            self.assertIn("differ", oracle.compare(con, [bad], sql))
            self.assertIsNotNone(oracle.compare(con, [], sql))

    def test_ignores_row_and_column_order(self):
        import duckdb
        with tempfile.TemporaryDirectory() as d:
            con = duckdb.connect()
            out = os.path.join(d, "out.parquet")
            con.execute("COPY (SELECT 2.0000001::DOUBLE AS b, 1 AS a UNION ALL "
                        f"SELECT 4.0::DOUBLE, 3) TO '{out}' (FORMAT parquet)")
            sql = "SELECT 3 AS a, 4.0::DOUBLE AS b UNION ALL SELECT 1, 2.0::DOUBLE"
            self.assertIsNone(oracle.compare(con, [out], sql))


class JvmSelfTest(unittest.TestCase):
    def test_generators_and_checkers(self):
        import run
        run.build()
        with tempfile.TemporaryDirectory() as d:
            cmd = ["java"] + [x for p in run.ADD_OPENS
                              for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
                "-Xmx1g", "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + d,
                "-cp", run.CLASSES + os.pathsep +
                os.path.join(run.spark_home(), "jars", "*"), "perfbench.SelfTest"]
            p = subprocess.run(cmd, cwd=d, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True,
                               env=dict(os.environ, SPARK_LOCAL_DIRS=d),
                               timeout=300)
        print(p.stdout)
        self.assertEqual(p.returncode, 0, p.stdout)
        self.assertNotIn("FAIL", p.stdout)


if __name__ == "__main__":
    unittest.main()
