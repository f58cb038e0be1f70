"""The benchmark's own tests. `FingerprintTest` runs the harness in one
JVM (and compiles it on first use); the rest need no JVM:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import random
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
import workloads  # noqa: E402


class TailTest(unittest.TestCase):
    def test_percentile_at_the_sample_counts_where_it_changes(self):
        # 10 or fewer samples: nothing has 10 beyond it, so the maximum
        self.assertEqual(run.tail(list(range(10))), (9, 100.0, 10))
        self.assertEqual(run.tail([3.0]), (3.0, 100.0, 1))
        # from 11 samples on: the percentile with exactly 10 samples above it
        for n, pct in [(11, 100.0 / 11), (20, 50.0), (30, 100.0 * 2 / 3), (100, 90.0), (1000, 99.0)]:
            value, p, count = run.tail(list(range(n)))
            self.assertEqual(count, n)
            self.assertAlmostEqual(p, pct)

    def test_tail_sits_at_its_rank(self):
        # with samples 0..n-1 the (n-10)-th smallest is n-11; the estimate
        # stays within a rank of it, so 10 samples lie beyond it
        for n in range(11, 120):
            xs = [float(i) for i in range(n)]
            random.Random(n).shuffle(xs)
            value = run.tail(xs)[0]
            self.assertLess(abs(value - (n - 11)), 1.0, n)

    def test_quantile_estimator(self):
        self.assertAlmostEqual(run.quantile(list(range(31)), 0.5), 15.0, places=6)
        self.assertAlmostEqual(run.quantile([2.5] * 12, 0.3), 2.5, places=9)
        self.assertEqual(run.quantile([7.0], 0.5), 7.0)
        rng = random.Random(1)
        xs = [rng.random() for _ in range(40)]
        qs = [run.quantile(xs, p / 10) for p in range(1, 10)]
        self.assertEqual(qs, sorted(qs))
        # a gap between two clusters: the estimate moves smoothly across it
        # instead of jumping from one cluster to the other
        low, high = [1.0] * 15, [2.0] * 15
        self.assertTrue(1.3 < run.quantile(low + high, 0.5) < 1.7)


FP = "3:5f0e3ac44b8e2b31:9d1f30ab6e3e1d2c"


class CheckTest(unittest.TestCase):
    def test_wrong_fingerprint_fails_the_check(self):
        expected = {"queries": {"q": FP}}
        good = [{"kind": "op", "pass": 1, "name": "q", "s": 0.1, "rows": 3, "fp": FP, "err": None}]
        self.assertEqual(run.check_ops(good, expected), (1, []))
        for bad_fp in ("3:5f0e3ac44b8e2b32:9d1f30ab6e3e1d2c", "2:5f0e3ac44b8e2b31:9d1f30ab6e3e1d2c", None):
            attempted, failures = run.check_ops([dict(good[0], fp=bad_fp)], expected)
            self.assertEqual((attempted, len(failures)), (1, 1))

    def test_failed_and_unknown_ops_count_as_failures(self):
        expected = {"queries": {"q": FP}}
        recs = [{"kind": "op", "pass": 1, "name": "q", "s": 0.1, "rows": -1, "fp": None,
                 "err": "java.lang.RuntimeException: boom"},
                {"kind": "op", "pass": 1, "name": "other", "s": 0.1, "rows": 3,
                 "fp": FP, "err": None}]
        self.assertEqual(len(run.check_ops(recs, expected)[1]), 2)

    def test_etl_row_counts_and_read_back(self):
        expected = {"etl": {"rows": {"transactions": 5, "daily_sales": 2},
                            "fp": {"parquet:daily_sales": "2:ab:cd"}}}
        recs = [{"kind": "op", "pass": 1, "name": "etl:clean", "s": 1, "rows": 5, "err": None},
                {"kind": "op", "pass": 1, "name": "etl:count:daily_sales", "s": 1, "rows": 3,
                 "err": None},
                {"kind": "readback", "sink": "parquet", "table": "daily_sales", "rows": 2,
                 "fp": "2:ab:ce", "err": None, "bytes": 1},
                {"kind": "readback", "sink": "csv", "table": "daily_sales", "rows": 2,
                 "fp": None, "err": None, "bytes": 1}]
        attempted, failures = run.check_ops(recs, expected)
        self.assertEqual(attempted, 4)
        self.assertEqual(len(failures), 2)


def _engine_available():
    try:
        import duckdb  # noqa: F401
        run.spark_jars()
        return shutil.which("java") is not None
    except (ImportError, run.BenchError):
        return False


@unittest.skipUnless(_engine_available(), "needs java, Spark's jars and duckdb")
class FingerprintTest(unittest.TestCase):
    """The harness's `Fingerprint`, on small results DuckDB writes to
    parquet (the way `--record` passes the oracle's results in). One JVM
    fingerprints every table; the first call compiles the harness."""
    TABLES = {
        "base": "SELECT * FROM (VALUES (1, 'x', 0.1::DOUBLE), (2, 'y', NULL), (3, 'z', 1e-7)) t(b, a, c)",
        "reordered": "SELECT * FROM (VALUES (3, 'z', 1e-7::DOUBLE), (1, 'x', 0.1), (2, 'y', NULL)) t(b, a, c)",
        "columns_swapped": "SELECT a, c, b FROM (VALUES (1, 'x', 0.1::DOUBLE), (2, 'y', NULL), (3, 'z', 1e-7)) t(b, a, c)",
        "one_value": "SELECT * FROM (VALUES (1, 'x', 0.1::DOUBLE), (2, 'y', NULL), (3, 'z', 2e-7)) t(b, a, c)",
        "lost_row": "SELECT * FROM (VALUES (1, 'x', 0.1::DOUBLE), (2, 'y', NULL)) t(b, a, c)",
        "duplicate": "SELECT * FROM (VALUES (1, 'x', 0.1::DOUBLE), (2, 'y', NULL), (3, 'z', 1e-7), (1, 'x', 0.1)) t(b, a, c)",
        "as_double": "SELECT 1234.0::DOUBLE AS v, 0.3::DOUBLE AS w, TIMESTAMP '1970-01-01 00:00:01.000005' AS t",
        "as_decimal": "SELECT 1234.0000::DECIMAL(10, 4) AS v, (0.1::DOUBLE + 0.2) AS w, TIMESTAMPTZ '1970-01-01 00:00:01.000005+00' AS t",
    }

    @classmethod
    def setUpClass(cls):
        import duckdb
        cls.tmp = tempfile.mkdtemp()
        con = duckdb.connect()
        files = []
        for name, sql in cls.TABLES.items():
            path = os.path.join(cls.tmp, name + ".parquet")
            con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
            files.append((name, path))
        con.close()
        jars = run.spark_jars()
        recs, _ = run.run_jvm(run.build(jars), jars, [], os.path.join(cls.tmp, "run"), 0,
                              files=files)
        cls.fp = {r["name"]: r["fp"] for r in recs if r["kind"] == "file"}

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def test_order_independent(self):
        self.assertTrue(self.fp["base"].startswith("3:"))
        self.assertEqual(self.fp["base"], self.fp["reordered"])
        self.assertEqual(self.fp["base"], self.fp["columns_swapped"])

    def test_engine_neutral_values(self):
        self.assertEqual(self.fp["as_double"], self.fp["as_decimal"])

    def test_corrupted_result_fails_the_check(self):
        expected = {"queries": {"q": self.fp["base"]}}
        for bad in ("one_value", "lost_row", "duplicate"):
            rec = {"kind": "op", "pass": 1, "name": "q", "s": 0.1, "rows": 3,
                   "fp": self.fp[bad], "err": None}
            self.assertEqual(len(run.check_ops([rec], expected)[1]), 1, bad)


class IsolationTest(unittest.TestCase):
    def test_run_starts_with_empty_roots(self):
        with tempfile.TemporaryDirectory() as d:
            run_dir = os.path.join(d, "run")
            roots = run.fresh_roots(run_dir)
            # what an earlier run could leave behind: a persisted index
            stale = os.path.join(roots["ivf"], "idx_0123", "part-0.parquet")
            os.makedirs(os.path.dirname(stale))
            with open(stale, "w") as f:
                f.write("stale")
            with open(os.path.join(roots["warehouse"], "t"), "w") as f:
                f.write("stale")
            roots = run.fresh_roots(run_dir)
            self.assertEqual(sorted(roots), sorted(run.ROOT_NAMES))
            for p in roots.values():
                self.assertEqual(os.listdir(p), [])

    def test_engine_switches_do_not_reach_the_harness(self):
        roots = {n: f"/r/{n}" for n in run.ROOT_NAMES}
        saved = dict(os.environ)
        try:
            os.environ.update({"SPARK_GRAFT_CODEC": "zstd", "SPARK_GRAFT_SHUFFLE": "x",
                               "SPARK_GRAFT_IVF_DIR": "/old/ivf"})
            env = run.child_env(roots)
        finally:
            os.environ.clear()
            os.environ.update(saved)
        self.assertEqual(sorted(k for k in env if k.startswith("SPARK_GRAFT_")),
                         ["SPARK_GRAFT_AGG_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_IVF_DIR"])
        self.assertEqual(env["SPARK_GRAFT_IVF_DIR"], "/r/ivf")

    def test_non_empty_roots_fail_the_run(self):
        recs = [{"kind": "roots", "empty": False}]
        self.assertEqual(len(run.check_ops(recs, {})[1]), 1)

    def test_refuses_a_directory_without_the_engine(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__", "data"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "query_board",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout, "")


class PlanTest(unittest.TestCase):
    def test_seed_permutes_and_reproduces(self):
        a = workloads.passes("query_board", 1, 2)
        self.assertEqual(a, workloads.passes("query_board", 1, 2))
        b = workloads.passes("query_board", 2, 2)
        self.assertNotEqual(a[0], b[0])
        # warm passes run in one fixed order, whatever the seed
        self.assertEqual(a[1:], b[1:])
        self.assertEqual(a[1], a[2])
        self.assertEqual(len(a), 3)
        for ops in a:
            self.assertEqual(sorted(ops), sorted(a[0]))

    def test_fixed_plan_does_not_depend_on_the_seed(self):
        # traced runs: the same op pays for each substrate's first build
        a = run.plan_for("query_board", 1, run.RUN_SECONDS, fixed=True)
        self.assertEqual(a, run.plan_for("query_board", 2, run.RUN_SECONDS, fixed=True))
        cold = [op for p, op in a if p == 1]
        self.assertEqual(cold, [op for p, op in a if p == 2])

    def test_stream_twins_stay_adjacent(self):
        for seed in range(20):
            for ops in workloads.passes("query_board", seed, 1):
                for s, b in workloads.WORKLOADS["query_board"]["twins"].items():
                    self.assertEqual(abs(ops.index(s) - ops.index(b)), 1)

    def test_every_board_query_has_a_module(self):
        w = workloads.WORKLOADS["query_board"]
        for q in w["queries"] + [q for pair in w["twins"].items() for q in pair]:
            self.assertIn(workloads.MODULE[q], workloads.MODULES)

    def test_etl_pass_is_the_whole_pipeline(self):
        ops = workloads.passes("etl_nightly", 3, 1)[0]
        self.assertEqual(ops[0], "etl:clean")
        for sink in workloads.SINKS:
            self.assertEqual(sorted(o.split(":")[2] for o in ops if o.startswith(f"etl:{sink}:")),
                             sorted(workloads.ETL_TABLES))


if __name__ == "__main__":
    unittest.main()
