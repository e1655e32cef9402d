"""The benchmark's own tests, at scale factor 0.001.

    python3 -m unittest perfbench/test_perfbench.py    (from the repo root)

Every workload runs and passes its output check; a defect planted in the
checked output makes the check fail and counts every iteration as failed;
the metric names match BENCHMARK.json; and outside a checkout the benchmark
refuses to run. The first test run in a checkout builds the program (sbt).
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


def bench(workload, trace=0, plant="none"):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.001",
         "--plant", plant],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)
    if out.returncode != 0:
        raise AssertionError(f"{workload} exited {out.returncode}:\n{out.stdout}")
    return json.loads(out.stdout.strip().splitlines()[-1])


class Workloads(unittest.TestCase):

    def test_each_workload_passes_its_check(self):
        names = {m["name"] for m in SPEC["end_to_end"]}
        for w in ["export_serial", "export_partitioned", "graph_supersteps"]:
            with self.subTest(workload=w):
                res = bench(w)
                self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                self.assertGreaterEqual(res["attempted"], 1)
                self.assertEqual(set(res["metrics"]), names)
                for name, m in res["metrics"].items():
                    self.assertGreater(m["value"], 0, name)

    def test_traced_run_reports_every_layer_metric(self):
        res = bench("export_partitioned", trace=1)
        self.assertTrue(res["correct"])
        self.assertEqual(set(res["metrics"]), {m["name"] for m in SPEC["per_layer"]})
        m = {k: v["value"] for k, v in res["metrics"].items()}
        self.assertEqual(m["jobs.sub_exports"], 5)
        self.assertEqual(m["schema.calls"], 5)
        self.assertEqual(m["sources.scans"], 6)  # the distinct probe + one scan per value
        self.assertGreater(m["sink.write_s"], 0)
        self.assertGreater(m["jobs.export.tasks"], 0)


class PlantedDefects(unittest.TestCase):
    """A checker that passes everything would pass these too; it must not."""

    def assertAllFailed(self, res):
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], res["attempted"])

    def test_dropped_row_fails_serial_export(self):
        self.assertAllFailed(bench("export_serial", plant="drop_row"))

    def test_dropped_row_fails_partitioned_export(self):
        self.assertAllFailed(bench("export_partitioned", plant="drop_row"))

    def test_perturbed_value_fails_graph(self):
        self.assertAllFailed(bench("graph_supersteps", plant="graph_value"))


class OutsideACheckout(unittest.TestCase):

    def test_refuses_without_program_sources(self):
        os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".work", "target", "__pycache__", ".bsp"))
            out = subprocess.run(SPEC["command"] + ["--workload", SPEC["workloads"][0]["name"],
                                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                                 cwd=d, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                                 text=True, timeout=180)
            self.assertNotEqual(out.returncode, 0)
            self.assertEqual(out.stdout, "")


if __name__ == "__main__":
    unittest.main()
