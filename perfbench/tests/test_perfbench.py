"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests -v

The last three tests build the engine (about 30 s the first time) and start
Spark; the whole file takes about two minutes.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class TailRule(unittest.TestCase):
    def test_hundred_samples_give_p90(self):
        self.assertEqual(run.tail(list(range(1, 101))), (90, 90, 10))

    def test_thousand_samples_give_p99(self):
        self.assertEqual(run.tail(list(range(1, 1001))), (99, 990, 10))

    def test_ten_thousand_samples_give_p99_9(self):
        self.assertEqual(run.tail(list(range(1, 10001))), (99.9, 9990, 10))

    def test_twenty_one_samples_give_the_percentile_with_ten_beyond(self):
        self.assertEqual(run.tail(list(range(1, 22))), (52, 11, 10))

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(run.tail(list(range(1, 16))), (50, 8, 7))

    def test_input_order_does_not_matter(self):
        xs = [(i * 37) % 101 for i in range(101)]
        self.assertEqual(run.tail(xs), run.tail(sorted(xs)))


class MixEstimators(unittest.TestCase):
    OPS = [{"kind": "a", "ms": 10.0, "rows": 1}] * 4 + [{"kind": "b", "ms": 20.0, "rows": 5}]

    def test_mean_weighs_kinds_by_their_cycle_counts(self):
        self.assertAlmostEqual(run.mix_mean(self.OPS, {"a": 1, "b": 3}, "ms"), 17.5)
        self.assertAlmostEqual(run.mix_mean(self.OPS, {"a": 1, "b": 3}, "rows"), 4.0)

    def test_kinds_missing_from_the_window_are_left_out(self):
        self.assertAlmostEqual(run.mix_mean(self.OPS, {"a": 1, "b": 3, "c": 9}, "ms"), 17.5)

    def test_median_takes_each_kind_at_its_own_median(self):
        ops = [{"kind": "a", "ms": x} for x in (10.0, 11.0, 90.0)] + \
            [{"kind": "b", "ms": x} for x in (20.0, 21.0, 22.0)]
        self.assertEqual(run.mix_median(ops, {"a": 3, "b": 1}), 11.0)
        self.assertEqual(run.mix_median(ops, {"a": 1, "b": 3}), 21.0)

    def test_quantile_follows_the_cycle_mix(self):
        self.assertEqual(run.mix_quantile(self.OPS, {"a": 1, "b": 3}, 50), 20.0)
        self.assertEqual(run.mix_quantile(self.OPS, {"a": 3, "b": 1}, 50), 10.0)


class Spec(unittest.TestCase):
    def setUp(self):
        self.spec = run.spec()

    def test_keys_and_names(self):
        s = self.spec
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        names = [w["name"] for w in s["workloads"]] + \
            [m["name"] for m in s["end_to_end"] + s["per_layer"]]
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))
        self.assertEqual([w["name"] for w in s["workloads"]], run.WORKLOADS)

    def test_metrics_have_units_and_bounds(self):
        s = self.spec
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("higher", "lower"))
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertRegex(m["unit"], UNIT)
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in s["end_to_end"]))


class Generator(unittest.TestCase):
    def digest(self, seed):
        classes, jars = run.build()
        out = subprocess.run(["java", "-cp", classes + os.pathsep + os.path.join(jars, "*"),
                              "graftbench.GenDigest", str(seed)],
                             capture_output=True, text=True, check=True)
        return out.stdout.strip()

    def test_same_seed_same_inputs(self):
        a, b, c = self.digest(7), self.digest(7), self.digest(8)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


class OneCommand(unittest.TestCase):
    def run_bench(self, trace):
        out = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload",
                              "session_reuse", "--seed", "3", "--seconds", "2",
                              "--trace", str(trace)], capture_output=True, text=True, cwd=ROOT)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_prints_every_metric_with_its_unit(self):
        spec = run.spec()
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            res = self.run_bench(trace)
            self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(res["correct"])
            want = {m["name"]: m["unit"] for m in spec[group]}
            self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, want)

    def test_exits_nonzero_without_the_engine(self):
        bare = os.path.join(run.BUILD, "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(run.SPEC_PATH, bare)
            shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "table_rw",
                                  "--seed", "1", "--seconds", "1", "--trace", "0"],
                                 capture_output=True, text=True, cwd=bare, timeout=180)
            self.assertNotEqual(out.returncode, 0)
            self.assertEqual(out.stdout.strip(), "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
