#!/usr/bin/env python3
"""Self-tests of the benchmark's own machinery (no JVM unless --e2e):

- the generator: the same seed gives byte-identical files, another does not,
  and the recorded shares follow the parameters;
- the per-layer annotations name BENCHMARK.json's per-layer metrics;
- the driver-time arithmetic (union of overlapping job intervals) and the
  tail-percentile choice;
- the output checks: correct tables pass, one wrong silver row fails and
  fails every wave op;
- with --e2e, a real daily_incremental run with one silver row corrupted
  after the run reports failed ops.

    python3 perfbench/selftest.py [--e2e]      (from the repository root)
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

SCRATCH = os.path.join(os.getcwd(), ".perfbench", "selftest")


def generated(seed):
    d = os.path.join(SCRATCH, f"daily-{seed}")
    if not os.path.exists(os.path.join(d, "meta.json")):
        gen.generate("daily_incremental", seed, d)
    return d


def tree_files(d):
    return sorted(os.path.relpath(os.path.join(p, f), d) for p, _, fs in os.walk(d) for f in fs)


class Generator(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_differs(self):
        a, b = generated(5), os.path.join(SCRATCH, "daily-5-again")
        shutil.rmtree(b, ignore_errors=True)
        gen.generate("daily_incremental", 5, b)
        self.assertEqual(tree_files(a), tree_files(b))
        _, mismatch, errors = filecmp.cmpfiles(a, b, tree_files(a), shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        c = generated(6)
        _, mismatch, _ = filecmp.cmpfiles(a, c, tree_files(a), shallow=False)
        self.assertIn("setup/h0000.parquet", mismatch)

    def test_shares_follow_the_parameters(self):
        sh = json.load(open(os.path.join(generated(5), "meta.json")))["shares"]
        p = gen.WORKLOADS["daily_incremental"]
        self.assertEqual(sh["drops"], p["waves"])
        # every wave re-fetches `lookback` days of every symbol
        self.assertAlmostEqual(sh["lookback_duplicate_share"] * sh["rows_per_drop"],
                               p["lookback"] * p["symbols"])
        self.assertAlmostEqual(sh["dq_violation_share"] * sh["rows_per_drop"],
                               p["null_date"] + p["neg_volume"])


class Layers(unittest.TestCase):
    def test_annotations_name_the_per_layer_metrics(self):
        import run
        notes = json.load(open(os.path.join(HERE, "layers.json")))["metrics"]
        self.assertEqual(set(notes), set(run.LAYER_UNITS))
        e2e = set(run.E2E_UNITS)
        for name, n in notes.items():
            for metric, workload in n["should_move"] + n.get("flat_on", []):
                self.assertIn(metric, e2e, name)
                self.assertIn(workload, gen.WORKLOADS, name)


class Arithmetic(unittest.TestCase):
    def test_union_length(self):
        u = metrics.union_length
        self.assertEqual(u([], 0, 10), 0)
        self.assertEqual(u([(0, 10)], 5, 20), 5)
        self.assertEqual(u([(0, 5), (3, 8)], 0, 100), 8)
        self.assertEqual(u([(0, 10), (2, 3)], 0, 100), 10)
        self.assertEqual(u([(0, 1), (2, 3)], 0, 100), 2)
        self.assertEqual(u([(5, 6), (0, 2), (1, 4)], 0, 100), 5)
        self.assertEqual(u([(20, 30)], 0, 10), 0)

    def test_driver_time_is_span_minus_job_union(self):
        raw = {"ops": [{"i": 0, "traced": True}],
               "spans": [["op", 0, 0, 1000, 1.0], ["silver", 0, 0, 1000, 1.0]],
               "jobs": [[1, 100, 400, [1]], [2, 300, 600, [2]], [3, 800, 900, [3]],
                        [4, 1500, 1600, [4]]],
               "stages": [[1, 0, 4, 10, 0, 0, 0, 0], [2, 0, 2, 10, 0, 0, 0, 0],
                          [3, 0, 1, 10, 0, 0, 0, 0]],
               "plans": [], "progress": []}
        st = metrics.Trace(raw).span_stats("silver")
        self.assertAlmostEqual(st["driver_s"], 0.4)
        self.assertEqual((st["jobs"], st["stages"], st["tasks"]), (3, 3, 7))

    def test_tail_percentile(self):
        t = metrics.tail_percentile
        self.assertEqual([t(n) for n in (5, 19, 20, 39, 40, 100, 200, 1000, 10000)],
                         [50.0, 50.0, 50.0, 50.0, 75.0, 90.0, 95.0, 99.0, 99.9])
        self.assertAlmostEqual(metrics.percentile([1, 2, 3, 4], 50), 2.5)


class Checks(unittest.TestCase):
    def setUp(self):
        self.input = generated(5)
        self.landed = ["setup/h0000.parquet", "ops/w0000.parquet", "ops/w0001.parquet"]
        self.export = tempfile.mkdtemp(dir=SCRATCH)
        con = checks.connect()
        files = [os.path.join(self.input, f) for f in self.landed]
        silver = checks.silver_oracle_sql(files).replace(
            "epoch_us(fetched_at) AS fetched_us", "fetched_at")
        for t in ("silver_v000", "gold", "quarantine"):
            os.makedirs(os.path.join(self.export, t))
        con.sql(f"COPY ({silver}) TO '{self.export}/silver_v000/part-0.parquet' (FORMAT parquet)")
        con.sql(f"CREATE VIEW s AS SELECT * FROM '{self.export}/silver_v000/part-0.parquet'")
        con.sql(f"COPY ({checks.gold_oracle_sql('s')}) TO "
                f"'{self.export}/gold/part-0.parquet' (FORMAT parquet)")
        names = ", ".join(f"'{f}'" for f in self.landed)
        con.sql(f"COPY (SELECT symbol, as_of_date, volume, fetched_at, dq_reason FROM "
                f"'{self.input}/violations.parquet' WHERE file IN ({names})) TO "
                f"'{self.export}/quarantine/part-0.parquet' (FORMAT parquet)")

    def tearDown(self):
        shutil.rmtree(self.export, ignore_errors=True)

    def results(self):
        return checks.check_tables(checks.connect(), self.input, self.landed, self.export)

    def test_correct_tables_pass(self):
        self.assertEqual([(n, ok) for n, ok, _ in self.results()],
                         [("silver", True), ("gold", True), ("quarantine", True)])

    def test_wrong_silver_row_is_caught_and_fails_every_wave(self):
        import run
        run.inject_silver_row(self.export)
        res = self.results()
        self.assertFalse(dict((n, ok) for n, ok, _ in res)["silver"])
        raw = {"ops": [{"i": 0, "kind": "wave", "name": "w0000", "ok": True},
                       {"i": 1, "kind": "read", "name": "gold_range", "ok": True},
                       {"i": 2, "kind": "wave", "name": "w0001", "ok": True}]}
        self.assertEqual(run.failed_ops(raw, "daily_incremental", res), {0, 2})


class EndToEnd(unittest.TestCase):
    def test_injected_wrong_row_raises_failed_share(self):
        out = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                              "--workload", "daily_incremental", "--seed", "1", "--seconds", "1",
                              "--trace", "0", "--inject-fault", "silver_row"],
                             capture_output=True, text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        res = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)


if __name__ == "__main__":
    e2e = "--e2e" in sys.argv
    os.makedirs(SCRATCH, exist_ok=True)
    loader = unittest.TestLoader()
    suite = unittest.TestSuite()
    for case in (Generator, Layers, Arithmetic, Checks) + ((EndToEnd,) if e2e else ()):
        suite.addTests(loader.loadTestsFromTestCase(case))
    ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
    shutil.rmtree(SCRATCH, ignore_errors=True)
    sys.exit(0 if ok else 1)
