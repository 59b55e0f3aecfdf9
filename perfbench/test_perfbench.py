"""Tests of the benchmark itself.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'

The injection tests start the JVM (about a minute each on 4 cores);
everything else is pure Python.
"""
import io
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest
from contextlib import redirect_stderr, redirect_stdout

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import aa  # noqa: E402
import build  # noqa: E402
import run  # noqa: E402

POOL = ["a1_x", "b2_y", "c3_z", "d4_w"]
# temporary files of the tests stay inside the benchmark's work directory
os.makedirs(build.WORK, exist_ok=True)


class ScheduleTest(unittest.TestCase):
    def test_same_inputs_same_schedule(self):
        self.assertEqual(run.schedule(7, "w", POOL, 3, 5), run.schedule(7, "w", POOL, 3, 5))

    def test_pool_order_does_not_matter(self):
        self.assertEqual(run.schedule(7, "w", POOL, 2, 4), run.schedule(7, "w", POOL[::-1], 2, 4))

    def test_seed_and_clients_change_the_order(self):
        base = run.schedule(7, "w", POOL, 3, 5)
        self.assertNotEqual(base, run.schedule(8, "w", POOL, 3, 5))
        self.assertNotEqual(base[0], base[1])
        self.assertEqual(run.schedule(7, "w", POOL, 4, 5)[:3], base)

    def test_every_pass_is_a_permutation_of_the_pool(self):
        for seq in run.schedule(3, "w", POOL, 2, 6):
            self.assertEqual(len(seq), 6 * len(POOL))
            for p in range(6):
                self.assertEqual(sorted(seq[p * 4:(p + 1) * 4]), sorted(POOL))


class PoolTest(unittest.TestCase):
    COSTS = {f"a{i}": ("A", float(i)) for i in range(1, 18)}
    COSTS.update({"b1": ("B", 5.0), "b2": ("B", 1.0), "c1": ("C", 0.5)})

    def test_one_gate_per_stratum_of_each_module(self):
        # A: 17 gates -> 3 strata, middle cost ranks 2, 8, 14; B: 2 gates -> 1 stratum, rank 1
        self.assertEqual(run.stratified_pool(self.COSTS, ["A", "B"], per_pick=8), ["a15", "a3", "a9", "b1"])

    def test_cheapest_share_leaves_the_expensive_gates_out(self):
        # A: the 9 cheapest of 17, one stratum, rank 4; B: the cheaper 1 of 2
        self.assertEqual(run.stratified_pool(self.COSTS, ["A", "B"], per_pick=26, cheapest=0.5), ["a5", "b2"])

    def test_a_module_without_measured_gates_fails_by_name(self):
        with self.assertRaisesRegex(run.BenchError, "no measured gate of module D"):
            run.stratified_pool(self.COSTS, ["A", "D"], per_pick=8)

    def test_committed_costs_give_both_pools(self):
        costs = run.load_costs()
        for name, wl in run.WORKLOADS.items():
            pool = run.stratified_pool(costs, wl["modules"], wl["per_pick"], wl["cheapest"])
            self.assertEqual(sorted({costs[g][0] for g in pool}), sorted(wl["modules"]), name)
            self.assertFalse(set(pool) & run.SELF_OVERLAP_UNSAFE, name)


class TablesTest(unittest.TestCase):
    def test_committed_tables_match_their_checksums(self):
        self.assertEqual(run.tables_dir(), run.TABLES)

    def test_a_changed_table_fails_by_name(self):
        with tempfile.TemporaryDirectory(dir=build.WORK) as d:
            shutil.copy(os.path.join(run.TABLES, "SHA256SUMS"), d)
            for f in os.listdir(run.TABLES):
                shutil.copy(os.path.join(run.TABLES, f), d)
            with open(os.path.join(d, "region.parquet"), "ab") as fh:
                fh.write(b"x")
            with self.assertRaisesRegex(run.BenchError, "region.parquet: content differs"):
                run.tables_dir(d)


class P90Test(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        with self.assertRaisesRegex(run.BenchError, "query_p90_s: only 9 of 99"):
            run.p90_with_samples([float(i) for i in range(99)])

    def test_hundred_samples(self):
        v, beyond = run.p90_with_samples([float(i) for i in range(100, 0, -1)])
        self.assertEqual((v, beyond), (90.0, 10))


def fake_result(execs, setup_rows, errors=None):
    return {"setup_rows": setup_rows, "setup_errors": errors or {}, "setup_s": [3.0, 1.0, 2.0],
            "vmhwm_kb": 2048, "heap_peak_b": 3 * 2**20, "phases": [{"start_s": 0.0, "window_s": 10.0, "execs": execs}]}


class AccountingTest(unittest.TestCase):
    def test_failures_are_counted_by_cause(self):
        execs = [[1, 0, "g1", 0.0, 0.1, 0.5, 3, 0.0, ""],
                 [2, 0, "g1", 0.5, 0.6, 1.0, 4, 0.0, ""],
                 [3, 1, "g2", 0.0, -1, 0.2, -1, 0.0, "boom"],
                 [4, 1, "g3", 0.2, 0.3, 0.4, 9, 0.0, ""],
                 [5, 1, "g1", 9.0, 9.5, 11.0, 3, 0.0, ""]]
        res = fake_result(execs, {"g1": 3, "g2": 1, "g3": 9})
        [(ph, ok, failed)] = run.tally_execs(res, {"g3": "rows spark=9 duckdb=8"})
        self.assertEqual([e["id"] for e in ok], [1, 5])
        self.assertEqual(sorted(e["id"] for e, _ in failed), [2, 3, 4])
        self.assertAlmostEqual(run.qps(ph, ok), 0.2)

    def test_end_to_end_units_and_values(self):
        execs = [[i, i % 4, "g", float(i), float(i) + 0.1, float(i) + 0.5 + i / 1000, 1, 0.0, ""]
                 for i in range(120)]
        res = fake_result(execs, {"g": 1})
        res["phases"][0]["window_s"] = 200.0
        m, note = run.end_to_end(res, run.tally_execs(res, {}))
        self.assertEqual(m["setup_s"], 2.0)
        self.assertEqual(run.memory(res), {"peak_rss_mb": 2.0, "peak_heap_mb": 3.0})
        self.assertAlmostEqual(m["qps"], 120 / 200)
        self.assertEqual(note, {"samples": 120, "beyond_p90": 12})
        self.assertEqual([k for k, _ in run.END_TO_END], list(m))


class ArgumentTest(unittest.TestCase):
    def run_main(self, argv):
        err = io.StringIO()
        with redirect_stderr(err), redirect_stdout(io.StringIO()):
            try:
                return run.main(argv), err.getvalue()
            except SystemExit as e:
                return e.code, err.getvalue()

    def test_malformed_arguments_fail_by_name(self):
        base = ["--workload", "yt_interactive", "--seed", "1", "--seconds", "5", "--trace", "0"]
        for i, bad, name in [(3, "x", "--seed"), (5, "0", "--seconds"), (7, "2", "--trace"),
                             (1, "nope", "--workload"), (3, "-4", "--seed")]:
            argv = list(base)
            argv[i] = bad
            code, err = self.run_main(argv)
            self.assertEqual(code, 2, argv)
            self.assertIn(name, err)

    def test_malformed_env_fails_by_name(self):
        with self.assertRaisesRegex(run.BenchError, "SPARK_GRAFT_CPUS: expected a positive integer"):
            os.environ["SPARK_GRAFT_CPUS"] = "four"
            try:
                run.positive_int_env("SPARK_GRAFT_CPUS")
            finally:
                del os.environ["SPARK_GRAFT_CPUS"]

    def test_jvm_arguments_fail_by_name(self):
        classes = build.build()
        cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
        for args, name in [(["--rounds", "1"], "--rounds"), (["--cpus", "x"], "--cpus"),
                           (["--inject", "explode:q1_agg"], "--inject"), (["--bogus", "1"], "--bogus")]:
            with tempfile.TemporaryDirectory(dir=build.WORK) as d:
                sched = os.path.join(d, "s.txt")
                with open(sched, "w") as fh:
                    fh.write("q1_agg\n")
                kv = {"--sf-dir": d, "--pool": "q1_agg", "--schedule": sched, "--cpus": "4",
                      "--seconds": "1", "--min-passes": "1", "--max-seconds": "2", "--rounds": "2",
                      "--trace": "0", "--dump-dir": d, "--out": os.path.join(d, "o.json")}
                kv.update(dict(zip(args[::2], args[1::2])))
                cmd = [build.java(), "-cp", cp, "perfbench.Main"] + [x for p in kv.items() for x in p]
                r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
                self.assertEqual(r.returncode, 2, r.stderr)
                self.assertIn(name, r.stderr)

    def test_fails_without_the_program_sources(self):
        root = os.path.dirname(HERE)
        with tempfile.TemporaryDirectory(dir=build.WORK) as d:
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".work", "__pycache__"))
            shutil.copy(os.path.join(root, "BENCHMARK.json"), d)
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "lake_writes",
                                "--seed", "1", "--seconds", "5", "--trace", "0"],
                               cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=120)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout, "")
            self.assertIn("src/main/scala", r.stderr)


class InjectionTest(unittest.TestCase):
    """A failing gate and a wrong-result gate each raise failed_ratio and
    the exit status. Runs a two-gate pool so the JVM part stays short."""

    def run_injected(self, inject):
        saved = dict(run.WORKLOADS["yt_interactive"]), run.load_costs
        run.WORKLOADS["yt_interactive"] = {"clients": 2, "modules": ["Connector", "Relational"],
                                           "per_pick": 8, "cheapest": 1.0}
        run.load_costs = lambda: {"s6_connector_group_agg": ("Connector", 1.0),
                                  "q4_topn_window": ("Relational", 1.0)}
        out, err = io.StringIO(), io.StringIO()
        try:
            with redirect_stdout(out), redirect_stderr(err):
                code = run.main(["--workload", "yt_interactive", "--seed", "424242", "--seconds", "2",
                                 "--trace", "0", "--inject", inject])
        finally:
            run.WORKLOADS["yt_interactive"], run.load_costs = saved
        return code, json.loads(out.getvalue().splitlines()[-1]), err.getvalue()

    def test_failing_gate(self):
        code, res, err = self.run_injected("fail:q4_topn_window")
        self.assertEqual(code, 1)
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)
        self.assertIn("FAIL gate q4_topn_window: ", err)
        self.assertIn("injected failure in q4_topn_window", err)

    def test_wrong_result_gate(self):
        code, res, err = self.run_injected("wrong:q4_topn_window")
        self.assertEqual(code, 1)
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)
        self.assertIn("FAIL gate q4_topn_window: rows spark=", err)


class AaTest(unittest.TestCase):
    def test_verdicts(self):
        a = {("w", "qps"): [10.0, 10.1, 9.9, 10.0, 10.2], ("w", "query_p50_s"): [1.0, 2.0, 1.5, 0.5, 1.2]}
        b = {("w", "qps"): [10.1, 10.0, 10.0, 9.8, 10.1], ("w", "query_p50_s"): [1.0, 1.1, 1.0, 1.0, 1.1]}
        rows = {r[1]: r[10] for r in aa.compare(a, b, {"qps": 0.1, "query_p50_s": 0.1})}
        self.assertEqual(rows, {"qps": "agree", "query_p50_s": "unresolved"})
        far = {("w", "qps"): [5.0, 5.1, 5.0, 4.9, 5.0]}
        self.assertEqual(aa.compare(a, far, {"qps": 0.1})[0][10], "differ")

    def test_setup_s_is_held_to_its_bound_too(self):
        a = {("w", "setup_s"): [10.0, 14.0, 10.0, 6.0, 12.0]}
        self.assertEqual(aa.compare(a, a, {"setup_s": 0.25})[0][10], "unresolved")


if __name__ == "__main__":
    unittest.main()
