#!/usr/bin/env python3
"""Benchmark test: the seeded generators are deterministic.

    python3 perfbench/test_inputs.py

For every workload the generator runs twice on one seed and once on
another, each in its own JVM. The digests of the generated inputs must
match for the repeated seed and differ for the other one.
"""
import os
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

WORKLOADS = ["feed_state", "feed_kafka", "diff_shards", "dedup_docs"]


def digest(classpath, workload, seed):
    r = subprocess.run(["java", "-Xmx1g", "-XX:-UsePerfData", "-cp", os.pathsep.join(classpath),
                        "perfbench.Main", "--digest", "--workload", workload, "--seed", str(seed)],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300)
    if r.returncode != 0:
        raise AssertionError(f"digest of {workload} seed {seed} failed:\n{r.stderr[-2000:]}")
    return r.stdout.strip()


class SeededInputs(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.classpath, _ = build.build()

    def test_same_seed_same_inputs_other_seed_differs(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                a1 = digest(self.classpath, w, 11)
                a2 = digest(self.classpath, w, 11)
                b = digest(self.classpath, w, 12)
                self.assertRegex(a1, r"^[0-9a-f]{64}$")
                self.assertEqual(a1, a2)
                self.assertNotEqual(a1, b)


if __name__ == "__main__":
    sys.exit(unittest.main())
