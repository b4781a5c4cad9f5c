#!/usr/bin/env python3
"""The benchmark's own tests, on tiny inputs (--quick 1).

    python3 perfbench/test_quick.py

Run from the repository root. Checks that every workload emits every
metric BENCHMARK.json names, with its unit, in both the untraced and the
traced run; that every correctness gate passes; that the extra lake_query
workload answers its whole query mix correctly; and that a deliberately
wrong answer is counted as failed.
"""
import json
import pathlib
import subprocess
import sys
import unittest

ROOT = pathlib.Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace="0", inject_wrong="0"):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", trace, "--quick", "1", "--inject-wrong", inject_wrong],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{workload} exited {p.returncode}:\n{p.stderr[-4000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class QuickTest(unittest.TestCase):

    def check(self, result, section, positive):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        declared = {m["name"]: m["unit"] for m in SPEC[section]}
        self.assertEqual(set(result["metrics"]), set(declared))
        for name, m in result["metrics"].items():
            self.assertEqual(m["unit"], declared[name], name)
            self.assertIsInstance(m["value"], (int, float), name)
            if positive:
                self.assertGreater(m["value"], 0, name)

    def test_every_metric_with_its_unit(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"], trace=0):
                self.check(run(w["name"]), "end_to_end", positive=True)
            with self.subTest(workload=w["name"], trace=1):
                self.check(run(w["name"], trace="1"), "per_layer", positive=False)

    def test_lake_query_mix_is_correct(self):
        self.check(run("lake_query"), "end_to_end", positive=True)

    def test_wrong_answer_counts_as_failed(self):
        r = run(SPEC["workloads"][0]["name"], inject_wrong="1")
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], 1)


if __name__ == "__main__":
    unittest.main(verbosity=2)
