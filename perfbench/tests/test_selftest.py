"""Self-test of the replication benchmark at tiny sizes.

Run from the root of a checkout:

    python3 -m pytest perfbench/tests -q

Every workload must emit every metric BENCHMARK.json names, with its unit,
in both modes, and pass its reference check; in the traced run the layer
spans must explain the traced wall time within SPAN_COVER_TOLERANCE; a
run whose target is deliberately corrupted before the check must fail it.
"""

import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# At most this share of the traced roots' wall time may lie outside every
# layer span below them.
SPAN_COVER_TOLERANCE = 0.10


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, trace, corrupt=False):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--scale", "tiny"]
    if corrupt:
        cmd.append("--corrupt")
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if not lines:
        raise AssertionError(f"{workload} printed no result:\n{p.stderr[-3000:]}")
    return p.returncode, json.loads(lines[-1])


class SelfTest(unittest.TestCase):
    def check_metrics(self, result, spec):
        self.assertEqual(set(result["metrics"]), {m["name"] for m in spec})
        for m in spec:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"], m["name"])

    def test_every_workload_reports_and_passes(self):
        b = bench()
        for w in [x["name"] for x in b["workloads"]]:
            with self.subTest(workload=w, trace=0):
                code, r = run(w, 0)
                self.assertEqual(code, 0)
                self.assertTrue(r["correct"])
                self.assertEqual(r["failed"], 0)
                self.assertGreater(r["attempted"], 0)
                self.check_metrics(r, b["end_to_end"])
                for m in b["end_to_end"]:
                    self.assertGreater(r["metrics"][m["name"]]["value"], 0, m["name"])
            with self.subTest(workload=w, trace=1):
                code, r = run(w, 1)
                self.assertEqual(code, 0)
                self.assertTrue(r["correct"])
                self.check_metrics(r, b["per_layer"])
                cover = r["metrics"]["bench.span_cover_frac"]["value"]
                self.assertGreaterEqual(cover, 1.0 - SPAN_COVER_TOLERANCE)
                self.assertLessEqual(cover, 1.0 + 1e-9)

    def test_corrupted_target_is_caught(self):
        for w in [x["name"] for x in bench()["workloads"]]:
            with self.subTest(workload=w):
                code, r = run(w, 0, corrupt=True)
                self.assertNotEqual(code, 0)
                self.assertFalse(r["correct"])
                self.assertGreater(r["failed"], 0)


if __name__ == "__main__":
    unittest.main()
