"""Seeded inputs: one seed gives byte-identical inputs, two seeds differ,
and every `floor` round holds the iterative graph operators.

    python3 -m unittest discover -s perfbench/tests

Builds the benchmark on first use (run.py's build), then writes each
workload's generated inputs three times through `run.py --gen-only`.
"""
import hashlib
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("floor", "knn-serve", "prep")


def digest(d):
    h = hashlib.sha256()
    for dp, dn, fn in os.walk(d):
        dn.sort()
        for f in sorted(fn):
            if f == "jvm.log":
                continue
            p = os.path.join(dp, f)
            h.update(os.path.relpath(p, d).encode())
            h.update(open(p, "rb").read())
    return h.hexdigest()


def generate(workload, seed, out):
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", str(seed), "--gen-only", "1", "--out", out],
                   cwd=ROOT, check=True, capture_output=True)
    return digest(out)


class SeededInputsTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_differs(self):
        with tempfile.TemporaryDirectory(dir=ROOT, prefix=".bench_build_test") as tmp:
            for w in WORKLOADS:
                a = generate(w, 7, os.path.join(tmp, f"{w}-a"))
                b = generate(w, 7, os.path.join(tmp, f"{w}-b"))
                c = generate(w, 8, os.path.join(tmp, f"{w}-c"))
                self.assertEqual(a, b, f"{w}: seed 7 twice gave different inputs")
                self.assertNotEqual(a, c, f"{w}: seeds 7 and 8 gave the same inputs")

    def test_floor_rounds_hold_the_iterative_operators(self):
        with tempfile.TemporaryDirectory(dir=ROOT, prefix=".bench_build_test") as tmp:
            generate("floor", 7, tmp)
            with open(os.path.join(tmp, "inputs", "floor_order.txt")) as f:
                order = f.read().split()
        rounds = order.count("q62_connected_dups")
        self.assertGreater(rounds, 1)
        self.assertEqual(len(order) % rounds, 0)
        size = len(order) // rounds
        for r in range(rounds):
            got = set(order[r * size:(r + 1) * size])
            self.assertTrue(metrics.ITERATIVE <= got, f"round {r} lacks {metrics.ITERATIVE - got}")
        listed = {l.split("\t")[0] for l in open(os.path.join(HERE, "floor", "queries.tsv"))
                  if l.strip() and not l.startswith("#")}
        self.assertEqual(set(order), listed)


if __name__ == "__main__":
    unittest.main()
