"""Self-test of the graft benchmark.

Run from the repository root (takes several minutes; it builds on
first use and starts the benchmark JVM a dozen times):

    python3 -m unittest discover -s perfbench/tests -v

Checks that the seed alone decides the inputs (same seed, same digest;
another seed, another digest), that every result row carries every
named metric with its unit, and that a wrong expected result makes a
check fail and the run exit non-zero.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import checks  # noqa: E402
import metrics  # noqa: E402

GATED = [w["name"] for w in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["workloads"]]


def bench(*args):
    r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = [json.loads(x) for x in r.stdout.splitlines() if x.startswith("{")]
    return r.returncode, lines


class SeedTest(unittest.TestCase):
    def test_digest_follows_the_seed(self):
        for w in GATED:
            digest = lambda seed: bench("--workload", w, "--seed", str(seed),  # noqa: E731
                                        "--gen-only")[1][-1]["inputs_digest"]
            a, b, c = digest(11), digest(11), digest(12)
            self.assertEqual(a, b, f"{w}: one seed gave two digests")
            self.assertNotEqual(a, c, f"{w}: two seeds gave one digest")


class RowTest(unittest.TestCase):
    def test_rows_carry_every_metric_with_its_unit(self):
        for w in GATED:
            for trace, names in ((0, metrics.END_TO_END), (1, metrics.PER_LAYER)):
                code, lines = bench("--workload", w, "--seed", "3", "--seconds", "3",
                                    "--trace", str(trace))
                self.assertEqual(code, 0, f"{w} trace={trace} failed")
                row, summary = lines[-2], lines[-1]
                self.assertEqual(set(summary), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(summary["correct"])
                self.assertEqual(set(summary["metrics"]), set(names))
                for k, m in summary["metrics"].items():
                    self.assertEqual(m["unit"], names[k])
                    self.assertIsInstance(m["value"], (int, float), k)
                self.assertEqual(set(row["metrics"]), set(metrics.ROW_METRICS[w]))
                for k, m in row["metrics"].items():
                    self.assertEqual(m["unit"], metrics.UNITS[k])
                    self.assertIn("n", m)
                for k in ("nproc", "loadavg_at_launch", "java", "spark", "sizes"):
                    self.assertIn(k, row["env"])


class WrongExpectedTest(unittest.TestCase):
    def test_row_comparison_rejects_a_changed_value(self):
        rows = [(1, "a", 2.5), (2, "b", None)]
        self.assertTrue(checks.same_rows(rows, list(reversed(rows)))[0])
        self.assertFalse(checks.same_rows(rows, [(1, "a", 2.51), (2, "b", None)])[0])
        self.assertFalse(checks.same_rows(rows, rows[:1])[0])

    def test_a_wrong_expected_result_fails_the_run(self):
        for w in GATED:
            code, lines = bench("--workload", w, "--seed", "5", "--seconds", "3",
                                "--corrupt-expected")
            self.assertNotEqual(code, 0, f"{w}: corrupted expectation passed")
            self.assertFalse(lines[-1]["correct"])
            self.assertGreater(lines[-1]["failed"], 0)


if __name__ == "__main__":
    unittest.main()
