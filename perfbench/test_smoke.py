"""The benchmark's own tests, at the smoke size. Run from the checkout root:

    python3 -m unittest discover -s perfbench
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


def bench(workload, trace, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)


class SmokeTest(unittest.TestCase):
    def result(self, workload, trace):
        r = bench(workload, trace)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        res = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], r.stdout[-3000:])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        return res

    def assert_metrics(self, res, spec):
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                         {m["name"]: m["unit"] for m in spec})

    def test_workloads_report_every_end_to_end_metric(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                res = self.result(w["name"], 0)
                self.assert_metrics(res, SPEC["end_to_end"])
                self.assertTrue(all(v["value"] > 0 for v in res["metrics"].values()))

    def test_traced_run_reports_every_per_layer_metric(self):
        res = self.result("scene-chain", 1)
        self.assert_metrics(res, SPEC["per_layer"])
        m = {k: v["value"] for k, v in res["metrics"].items()}
        for layer in ("sources.scan_s", "icecodes.decode_s", "masking.s", "regrid.s",
                      "tiling.s", "dense.s", "sink.s", "ledger.s", "mlfeed.assemble_s",
                      "reconstruct.s", "spark.jobs"):
            self.assertGreater(m[layer], 0, layer)

    def test_refuses_to_run_without_the_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            r = bench("scene-chain", 0, cwd=d)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
