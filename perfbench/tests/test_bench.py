"""The benchmark's own tests. From the checkout root:

    python3 -m unittest discover -s perfbench/tests -v

They run the real benchmark (a few minutes in all).
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join("perfbench", "run.py")


def bench(*args, cwd=ROOT):
    return subprocess.run([sys.executable, RUN, *args], cwd=cwd, capture_output=True,
                          text=True, timeout=1500)


class BenchmarkTest(unittest.TestCase):

    def test_repeatable_and_seed_invariant(self):
        """Same seed: identical digests and listener counts on two passes.
        Another seed: other inputs, same ops, input rows within 5%, each
        op's share of them within one percentage point."""
        r = bench("--selftest", "--seed", "7")
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-3000:])
        self.assertEqual(r.stdout.count("PASS"), 3, r.stdout)

    def test_metrics_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            r = bench("--workload", "bucketed_reuse", "--seed", "3", "--seconds", "1",
                      "--trace", trace)
            self.assertEqual(r.returncode, 0, r.stderr[-3000:])
            res = json.loads(r.stdout.strip().split("\n")[-1])
            self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(res["correct"])
            self.assertEqual(res["failed"], 0)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            self.assertEqual(got, want)

    def test_fails_without_the_engine(self):
        """In a directory holding only BENCHMARK.json and perfbench/, the
        benchmark exits non-zero and prints no result."""
        d = os.path.join(ROOT, ".bench_build", "bare-checkout")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"))
            r = bench("--workload", "knn_join", "--seed", "1", "--seconds", "1", "--trace", "0",
                      cwd=d)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"metrics"', r.stdout)
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
