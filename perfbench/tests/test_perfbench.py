"""Tests of the benchmark's own code.

    python3 -m unittest discover -s perfbench/tests -v

The dump-generator and ingest-check tests compile the program and the
harness on first use (about half a minute) and start a JVM.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen_tables  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class TablesTest(unittest.TestCase):
    def snapshot(self, seed):
        return {name: t.to_pandas() for name, t in gen_tables.tables(seed, 0.001)}

    def test_same_seed_same_tables_other_seed_other_tables(self):
        a, b, c = self.snapshot(3), self.snapshot(3), self.snapshot(4)
        self.assertEqual(sorted(a), sorted(gen_tables.TABLES))
        for name in gen_tables.TABLES:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))
        self.assertFalse(a["documents"].equals(c["documents"]))


class OracleTest(unittest.TestCase):
    def test_planted_wrong_result_is_caught(self):
        sql = {"totals": "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY 1"}
        with tempfile.TemporaryDirectory() as d:
            tables = os.path.join(d, "tables")
            gen_tables.write(tables, 5, 0.001)
            right = oracle.duckdb.connect().execute(
                f"SELECT o_orderstatus, count(*) AS n FROM '{tables}/orders.parquet' GROUP BY 1"
            ).df()
            wrong = right.copy()
            wrong.loc[0, "n"] += 1
            for label, df in (("right", right), ("wrong", wrong)):
                os.makedirs(os.path.join(d, label, "totals"))
                df.to_parquet(os.path.join(d, label, "totals", "part-0.parquet"))
            self.assertEqual(oracle.compare(tables, os.path.join(d, "right"), sql), [])
            bad = oracle.compare(tables, os.path.join(d, "wrong"), sql)
            self.assertEqual(len(bad), 1)
            self.assertIn("totals", bad[0])
            # a missing result is a failure too
            self.assertEqual(len(oracle.compare(tables, os.path.join(d, "none"), sql)), 1)

    def test_row_order_and_int_width_do_not_matter(self):
        a = pd.DataFrame({"k": [2, 1], "v": [0.5, 0.25]})
        b = pd.DataFrame({"v": [0.25, 0.5], "k": pd.Series([1, 2], dtype="int32")})
        self.assertTrue(oracle.same(a, b))
        self.assertFalse(oracle.same(a, b.assign(v=[0.25, 0.75])))


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        self.bench = run.spec()

    def test_end_to_end_names_match(self):
        rec = {"walls": [2.0, 3.0], "cpus": [5.0, 6.0], "session_s": [1.0, 0.5, 0.4],
               "warmup_s": 4.0, "latencies": [0.1, 0.2, 0.3, 0.4],
               "op_cpus": [1.0, 2.0, 3.0, 4.0],
               "ops": ["a", "b", "a", "b"], "heap_mb": 64.0}
        values = run.end_to_end(rec, 1048576, 0.01)
        self.assertEqual(set(values), {m["name"] for m in self.bench["end_to_end"]})
        # a pass is the sum of each operation's median: a 0.2 + b 0.3
        self.assertAlmostEqual(values["wall_s"], 0.5)
        self.assertAlmostEqual(values["cpu_s"], 5.0)
        out = run.result(self.bench, values, 0, True, 3, 0)
        self.assertEqual(list(out), ["correct", "attempted", "failed", "metrics"])
        self.assertEqual([(k, v["unit"]) for k, v in out["metrics"].items()],
                         [(m["name"], m["unit"]) for m in self.bench["end_to_end"]])

    def test_per_layer_names_match_what_the_harness_reports(self):
        src = open(os.path.join(BENCH, "src/perfbench/Layers.scala")).read()
        main = open(os.path.join(BENCH, "src/perfbench/Main.scala")).read()
        heavy = re.findall(r'"(\w+)"', re.search(r"val Heavy.*?\)", main, re.S).group(0))
        names = set()
        for n in re.findall(r'm\(s?"([^"]+)"\)', src):
            if "$prefix" in n:
                names |= {n.replace("$prefix", p) for p in ("sources", "sources.bz2")}
            elif "$n" in n:
                names |= {n.replace("$n", q) for q in heavy}
            else:
                names.add(n)
        self.assertEqual(names, {m["name"] for m in self.bench["per_layer"]})

    def test_unlisted_metric_is_an_error(self):
        with self.assertRaises(run.BenchError):
            run.result(self.bench, {"no.such_metric": 1.0}, 1, True, 1, 0)


class BareDirectoryTest(unittest.TestCase):
    def test_fails_without_program_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ingest",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"correct"', r.stdout)


class JvmTest(unittest.TestCase):
    """Dump generator and ingest checks, through the compiled harness."""

    @classmethod
    def setUpClass(cls):
        cls.out = os.path.join(ROOT, ".bench_build")
        os.makedirs(cls.out, exist_ok=True)
        cls.classes = run.build(cls.out)
        cls.tmp = tempfile.mkdtemp(dir=cls.out)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def java(self, main, *args):
        cmd = run.java_cmd(self.out, self.classes, main, list(args))
        return subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)

    def dump(self, name, seed):
        d = os.path.join(self.tmp, name)
        os.makedirs(d)
        r = self.java("perfbench.DumpGen", d, seed, 1)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        return d

    def test_dump_is_deterministic_per_seed(self):
        a, b, c = self.dump("a", 7), self.dump("b", 7), self.dump("c", 8)
        for f in ("dump.xml", "dump.xml.bz2", "tally.txt"):
            self.assertEqual(digest(os.path.join(a, f)), digest(os.path.join(b, f)), f)
        self.assertNotEqual(digest(os.path.join(a, "dump.xml")),
                            digest(os.path.join(c, "dump.xml")))
        tally = dict(l.split("=", 1) for l in open(os.path.join(a, "tally.txt")).read().split())
        # every sampler branch fires: some eligible rows are dropped, some kept
        self.assertLess(int(tally["kept"]), int(tally["eligible"]))
        self.assertLess(int(tally["eligible"]), int(tally["rows"]))
        self.assertGreater(int(tally["kept_links"]), 0)

    def test_ingest_checks_catch_planted_errors(self):
        d = self.dump("selftest", 9)
        r = self.java("perfbench.SelfTest", d, os.path.join(self.tmp, "work"))
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        self.assertIn("SELFTEST ok", r.stdout)


if __name__ == "__main__":
    unittest.main()
