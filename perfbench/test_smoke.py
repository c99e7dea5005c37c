"""Smoke test of the benchmark: a tiny version of every workload, untraced
and traced, through the same run.py the benchmark uses.

    python3 perfbench/test_smoke.py      (about 3 minutes on 4 cores)

It checks that each run prints every metric of BENCHMARK.json with its name
and unit, that the output check ran on every unit, and that the traced
spans account for the traced wall.
"""
import json
import math
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "3", "--seconds", "1", "--trace", str(trace),
                        "--scale", "0.05"], capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        raise AssertionError(f"run.py exited {r.returncode}:\n{r.stderr[-4000:]}")
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace):
        detail, result = bench(workload, trace)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], detail["units"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 3)
        want = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in want})
        for m in want:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])
        # the output check ran on every unit (it computes the digest)
        for u in detail["units"]:
            self.assertIn("resolved=", u.get("digest", ""), u)
        return detail, result

    def check_trace(self, workload):
        detail, result = self.check(workload, 1)
        v = {k: m["value"] for k, m in result["metrics"].items()}
        wall = v["trace.wall_s"]
        # self times + the prefix actions tracing adds + gaps = traced wall
        self.assertAlmostEqual(v["trace.self_sum_s"] + v["trace.prefix_s"] +
                               v["trace.unattributed_s"], wall, delta=1e-6)
        self.assertLessEqual(v["trace.unattributed_s"], run.TRACE_GAP_SHARE * wall)
        self.assertEqual(v["validator.rows_dropped"], v["validator.quarantine_rows"])
        self.assertEqual({s["run_id"] for s in detail["spans"]}, {detail["spans"][0]["run_id"]})
        self.assertEqual(detail["spans"][0]["name"], "job")


for _w in gen.WORKLOADS:
    setattr(SmokeTest, f"test_{_w}_untraced", lambda self, w=_w: self.check(w, 0))
    setattr(SmokeTest, f"test_{_w}_traced", lambda self, w=_w: self.check_trace(w))

if __name__ == "__main__":
    unittest.main()
