"""Tests of the benchmark harness itself.

    python3 -m unittest discover -s perfbench/tests

The metric-name test runs each workload once for a second (untraced and
traced), so the suite takes a few minutes. It also checks that every
per-layer metric BENCHMARK.json declares is measured, non-zero, by one of
the workloads' traced runs.
"""
import json
import pathlib
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = pathlib.Path(__file__).resolve().parent
BENCH_DIR = HERE.parent
ROOT = BENCH_DIR.parent
sys.path.insert(0, str(BENCH_DIR))

import build  # noqa: E402
import run  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def harness(*args):
    build.build()
    with tempfile.TemporaryDirectory(dir=BENCH_DIR) as work:
        code, lines = run.call(list(args), pathlib.Path(work))
    return code, lines


class InputDigest(unittest.TestCase):
    def test_same_seed_same_inputs_next_seed_different(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                digests = [harness("--mode", "digest", "--workload", w, "--seed", str(s))
                           for s in (7, 7, 8)]
                self.assertTrue(all(code == 0 for code, _ in digests))
                (_, a), (_, b), (_, c) = digests
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)


class Checkers(unittest.TestCase):
    def test_each_checker_rejects_a_corrupted_result(self):
        code, lines = harness("--mode", "selftest")
        self.assertGreaterEqual(len(lines), 7)
        for line in lines:
            with self.subTest(checker=line.split()[0]):
                self.assertIn("accepts_good=true", line)
                self.assertIn("rejects_bad=true", line)
        self.assertEqual(code, 0)


class MetricNames(unittest.TestCase):
    def declared(self):
        return ({m["name"]: m["unit"] for m in BENCH["end_to_end"]},
                {m["name"]: m["unit"] for m in BENCH["per_layer"]})

    def test_every_printed_metric_is_declared_with_its_unit(self):
        e2e, layer = self.declared()
        measured = set()
        for w in WORKLOADS:
            for trace, declared in (("0", e2e), ("1", layer)):
                with self.subTest(workload=w, trace=trace):
                    p = subprocess.run(
                        BENCH["command"] + ["--workload", w, "--seed", "3", "--seconds", "1",
                                            "--trace", trace],
                        cwd=ROOT, capture_output=True, text=True, timeout=400)
                    self.assertEqual(p.returncode, 0, p.stderr[-2000:])
                    result = json.loads(p.stdout.splitlines()[-1])
                    self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(result["correct"])
                    self.assertEqual(result["failed"], 0)
                    got = {n: m["unit"] for n, m in result["metrics"].items()}
                    self.assertEqual(got, declared)
                    if trace == "1":
                        measured |= {n for n, m in result["metrics"].items() if m["value"]}
        # a per-layer metric no workload measures is a misspelt or dead
        # name; a vector search is a scan and a top-k, with no exchange,
        # and a one-second window may see no collection
        unmeasured = {n for n in set(layer) - measured if not n.startswith("spark.gc_ms.")}
        self.assertEqual(unmeasured, {"spark.shuffle_bytes.vector"})


class BareDirectory(unittest.TestCase):
    def test_fails_without_a_result_when_the_program_is_absent(self):
        with tempfile.TemporaryDirectory(dir=BENCH_DIR) as d:
            bare = pathlib.Path(d)
            shutil.copy(ROOT / "BENCHMARK.json", bare)
            shutil.copytree(BENCH_DIR, bare / BENCH_DIR.name,
                            ignore=shutil.ignore_patterns("build", "work", "out", "tmp*",
                                                          "__pycache__"))
            p = subprocess.run(BENCH["command"] + ["--workload", WORKLOADS[0], "--seed", "1",
                                                   "--seconds", "1", "--trace", "0"],
                               cwd=bare, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
