#!/usr/bin/env python3
"""The benchmark's own test: its correctness gate catches a wrong result.

    python3 perfbench/test_bench.py

Each workload is run with a deliberately corrupted reference digest
(`--corrupt-reference`); the run must report `correct: false`, count the
mismatched operations as failed, and exit non-zero. One uncorrupted run
must pass, so the failures are the planted ones.
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, *extra):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", "0", *extra],
        cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True)
    return r.returncode, json.loads(r.stdout.strip().splitlines()[-1])


class CorruptReferenceTest(unittest.TestCase):

    def test_corrupted_reference_is_caught(self):
        for workload in ("joint_call", "store_churn", "corpus_dedup"):
            with self.subTest(workload=workload):
                code, result = run(workload, "--corrupt-reference")
                self.assertNotEqual(code, 0)
                self.assertFalse(result["correct"])
                self.assertGreater(result["failed"], 0)

    def test_uncorrupted_run_passes(self):
        code, result = run("store_churn")
        self.assertEqual(code, 0)
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)


if __name__ == "__main__":
    unittest.main()
