#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 perfbench/test_perfbench.py

Builds the benchmark if needed, runs its Scala self-tests (digest order
independence, seeded input determinism), and checks that the benchmark
refuses to run without the program's sources.
"""
import os
import shutil
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


class PerfbenchTest(unittest.TestCase):
    def test_scala_self_tests(self):
        code, out = run.launch("perfbench.SelfTest", [], 170)
        sys.stdout.write(out)
        self.assertEqual(code, 0, out)
        self.assertNotIn("FAIL", out)

    def test_fails_without_program_sources(self):
        bare = os.path.join(build.ROOT, ".bench_build", "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(build.ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(build.BENCH, os.path.join(bare, "perfbench"))
        try:
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "clip_pipeline",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=bare, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"correct"', r.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
