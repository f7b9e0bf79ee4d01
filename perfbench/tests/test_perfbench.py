"""The benchmark's own tests: smoke runs of every workload at sf0.001.

    python3 perfbench/tests/test_perfbench.py

They check that each workload runs end to end with every operation
correct, that a corrupted output is counted as a failed op, that the metric
names match BENCHMARK.json, that the same seed gives the same inputs and
another seed other inputs, and that the benchmark fails cleanly where the
library sources are missing.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload, seed=5, trace=0, fault=0, seconds=2, script=RUN, cwd=ROOT, context=False):
    r = subprocess.run([sys.executable, script, "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace), "--smoke", "1",
                        "--inject-fault", str(fault)],
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                       timeout=900)
    lines = r.stdout.strip().splitlines()
    if context:  # the context line printed just before the result
        return json.loads(lines[-2])
    return r.returncode, (json.loads(lines[-1]) if lines else None)


class Smoke(unittest.TestCase):
    def check_result(self, res, names):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(list(res["metrics"]), names)
        units = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
        for k, v in res["metrics"].items():
            self.assertEqual(v["unit"], units[k])

    def test_workloads_correct_and_end_to_end_metrics(self):
        e2e = [m["name"] for m in SPEC["end_to_end"]]
        for w in [x["name"] for x in SPEC["workloads"]]:
            with self.subTest(workload=w):
                code, res = run(w)
                self.assertEqual(code, 0)
                self.check_result(res, e2e)
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                for k, v in res["metrics"].items():
                    self.assertGreater(v["value"], 0, k)

    def test_wrong_result_counts_as_failed_op(self):
        for w in [x["name"] for x in SPEC["workloads"]]:
            with self.subTest(workload=w):
                code, res = run(w, fault=1)
                self.assertEqual(code, 0)
                self.assertFalse(res["correct"])
                self.assertEqual(res["failed"], 1)

    def test_traced_run_reports_per_layer_metrics(self):
        code, res = run("table_io", trace=1)
        self.assertEqual(code, 0)
        self.check_result(res, [m["name"] for m in SPEC["per_layer"]])
        m = {k: v["value"] for k, v in res["metrics"].items()}
        for k in ("self_s.spark.scan", "self_s.spark.write", "self_s.spark.maint",
                  "scan.lineitem.s", "maint.compact_s", "scan.task_s"):
            self.assertGreater(m[k], 0, k)

    def test_seed_drives_inputs(self):
        # `inputs` fingerprints what the seed drives: the F2/F3 shapes and
        # amplification (codec_file), the pruned range and DML victims
        # (table_io)
        for w in ("codec_file", "table_io"):
            with self.subTest(workload=w):
                a, b, c = (run(w, seed=s, context=True)["inputs"] for s in (9, 9, 10))
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)

    def test_fails_without_library_sources(self):
        os.makedirs(os.path.join(BENCH, "out"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(BENCH, "out")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "out"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "codec_file",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True, timeout=180)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
