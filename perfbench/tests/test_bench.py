"""The benchmark's own tests, at sf0.001 with small call counts.

    python3 -m unittest discover -s perfbench/tests -v

Each test runs `perfbench/run.py` end to end (the first one builds graft
and the harness if perfbench/.work/ holds no current build).
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import oracle  # noqa: E402
import run  # noqa: E402


def bench(*args):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--sf", "0.001", "--warmup", "1",
                        "--window", "2", *args], cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    if p.returncode != 0:
        raise AssertionError(p.stderr[-3000:])
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


class SmokeTest(unittest.TestCase):
    def test_end_to_end_metrics_named_with_units(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        for w in ("autoapi_list", "etl_batch"):
            record, out = bench("--workload", w, "--seed", "5", "--trace", "0")
            self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(out["correct"], record["failed_calls"])
            self.assertEqual(out["failed"], 0)
            self.assertEqual(out["attempted"], record["cold_calls"] + record["warmup_calls"]
                             + record["window_calls"])
            for m in spec["end_to_end"]:
                self.assertEqual(out["metrics"][m["name"]]["unit"], m["unit"])
                self.assertGreater(out["metrics"][m["name"]]["value"], 0)
            self.assertEqual(record["seed"], 5)
            for k in ("master", "task_slots", "max_heap_bytes", "host_steal_pct",
                      "window_jit_ms", "window_gc_ms", "warmup_calls", "window_calls"):
                self.assertIn(k, record)

    def test_wrong_expected_hash_counts_as_failed(self):
        record, out = bench("--workload", "autoapi_list", "--seed", "5", "--trace", "0",
                            "--wrong-hash", "3")
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1)
        self.assertEqual(record["failed_calls"], [3])

    def test_wrong_expected_hash_of_a_window_commit_counts_as_failed(self):
        # passes 0-3 of 8 jobs each: call 29 is a commit of the last window pass
        record, out = bench("--workload", "etl_batch", "--seed", "5", "--trace", "0",
                            "--wrong-hash", "29")
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1)
        self.assertEqual(record["failed_calls"], [29])

    def test_traced_counts_repeat_for_a_seed(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        runs = [bench("--workload", "autoapi_list", "--seed", "9", "--trace", "1")[1]
                for _ in range(2)]
        for out in runs:
            self.assertTrue(out["correct"])
            for m in spec["per_layer"]:
                self.assertEqual(out["metrics"][m["name"]]["unit"], m["unit"])
        for name in ("sched.jobs_per_call", "sched.tasks_per_call", "codegen.compiles_per_call"):
            a, b = (r["metrics"][name]["value"] for r in runs)
            self.assertGreater(a, 0, name)
            self.assertAlmostEqual(a, b, delta=0.01 * a, msg=name)


class OracleTest(unittest.TestCase):
    def test_render_matches_the_harness_conventions(self):
        self.assertEqual(oracle.render(0.125), "0.125000")
        self.assertEqual(oracle.render(2.0000005), "2.000001")  # its binary value is above the half
        self.assertEqual(oracle.render(-1e-9), "0.000000")
        self.assertEqual(oracle.render(None), "\\N")
        self.assertEqual(oracle.render([1, 2.5]), "[1,2.500000]")

    def test_hash_ignores_row_and_column_order(self):
        a = oracle.result_hash(["b", "a"], [["1", "x"], ["2", "y"]])
        b = oracle.result_hash(["a", "b"], [["y", "2"], ["x", "1"]])
        self.assertEqual(a, b)
        self.assertNotEqual(a, oracle.result_hash(["a", "b"], [["y", "2"]]))

    def test_union_and_percentile(self):
        self.assertEqual(run.union_ms([(0, 2), (1, 3), (5, 6)], 0, 10), 4)
        self.assertEqual(run.union_ms([(0, 20)], 5, 10), 5)
        self.assertAlmostEqual(run.percentile(list(range(1, 102)), 0.5), 51, delta=1e-6)
        self.assertTrue(90 < run.percentile(list(range(1, 102)), 0.9) < 93)
        self.assertAlmostEqual(run.percentile([5.0] * 20, 0.9), 5.0)


if __name__ == "__main__":
    unittest.main()
