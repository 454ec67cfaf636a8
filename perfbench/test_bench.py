"""The benchmark's own tests: tiny-size smoke runs of every workload, a
negative test per workload, and the no-program test.

  python3 perfbench/test_bench.py

- every metric BENCHMARK.json names is emitted with its unit, by the
  untraced run (end_to_end) and the traced run (per_layer);
- a run whose first timed pass has its output corrupted fails: non-zero
  exit, no result line, and each check of the workload reports the damage
  (on dedup both the survivor check and the per-doc verdict check);
- a directory holding only BENCHMARK.json and perfbench/ fails fast.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


# what each check prints about the damaged output (see --corrupt in run.py)
DAMAGE = {"mesh_etl": ["stats n_cells"],
          "dedup": ["survivors:", "wrong verdicts"]}


def run(workload, trace=0, corrupt=0, cwd=ROOT):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                             "--trace", str(trace), "--size", "tiny", "--corrupt", str(corrupt)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def result(r):
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-1]) if lines else None


class BenchmarkTest(unittest.TestCase):

    def check_metrics(self, trace, listed):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                r = run(w["name"], trace=trace)
                self.assertEqual(r.returncode, 0, r.stderr[-3000:])
                out = result(r)
                self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(out["correct"])
                self.assertGreaterEqual(out["attempted"], 1)
                self.assertEqual(out["failed"], 0)
                self.assertEqual(set(out["metrics"]), {m["name"] for m in listed})
                for m in listed:
                    got = out["metrics"][m["name"]]
                    self.assertEqual(got["unit"], m["unit"], m["name"])
                    self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_untraced_run_emits_every_end_to_end_metric(self):
        self.check_metrics(0, SPEC["end_to_end"])

    def test_traced_run_emits_every_per_layer_metric(self):
        self.check_metrics(1, SPEC["per_layer"])

    def test_corrupted_output_fails_the_run(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                r = run(w["name"], corrupt=1)
                self.assertNotEqual(r.returncode, 0)
                self.assertEqual(r.stdout.strip(), "")
                self.assertIn("CHECK FAILED", r.stderr)
                for msg in DAMAGE[w["name"]]:
                    self.assertIn(msg, r.stderr)

    def test_fails_without_the_program(self):
        tmp = tempfile.mkdtemp(dir=os.path.join(HERE, ".tmp") if os.path.isdir(
            os.path.join(HERE, ".tmp")) else None)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            shutil.copytree(HERE, os.path.join(tmp, "perfbench"), ignore=shutil.ignore_patterns(
                ".build", ".out", ".work", ".tmp", "__pycache__"))
            r = run(SPEC["workloads"][0]["name"], cwd=tmp)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")
        finally:
            shutil.rmtree(tmp)


if __name__ == "__main__":
    unittest.main(argv=sys.argv[:1] + sys.argv[1:], verbosity=2)
