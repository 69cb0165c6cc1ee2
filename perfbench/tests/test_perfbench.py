"""Self-tests of the benchmark. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

Each test starts the benchmark through perfbench/run.py, on tiny inputs, so
the whole file takes a few minutes.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.getcwd()
RUN = os.path.join("perfbench", "run.py")
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload, *extra, cwd=ROOT):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", "3", "--seconds", "1",
           "--size", "tiny"] + list(extra)
    proc = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return proc.returncode, result


class Smoke(unittest.TestCase):
    def test_every_workload_passes_its_checks(self):
        names = {m["name"] for m in SPEC["end_to_end"]}
        for w in (x["name"] for x in SPEC["workloads"]):
            with self.subTest(workload=w):
                code, res = run(w, "--trace", "0")
                self.assertEqual(code, 0)
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                self.assertGreaterEqual(res["attempted"], 1)
                self.assertEqual(set(res["metrics"]), names)
                self.assertEqual(res["metrics"]["ok_ratio"]["value"], 1.0)
                for n in names:
                    self.assertGreater(res["metrics"][n]["value"], 0, n)

    def test_traced_run_reports_every_layer(self):
        code, res = run("cdc_backfill", "--trace", "1")
        self.assertEqual(code, 0)
        self.assertEqual(set(res["metrics"]), {m["name"] for m in SPEC["per_layer"]})
        for n in ("stream.triggers", "poll.rows_read", "log.files_total", "spark.jobs_per_op"):
            self.assertGreater(res["metrics"][n]["value"], 0, n)


class FaultInjection(unittest.TestCase):
    def test_sabotaged_delivery_fails_the_run(self):
        code, res = run("cdc_backfill", "--trace", "0", "--fault", "1")
        self.assertNotEqual(code, 0)
        self.assertFalse(res["correct"])
        self.assertLess(res["metrics"]["ok_ratio"]["value"], 1.0)

    def test_throwing_trigger_fails_the_run(self):
        code, res = run("pipeline_ingest", "--trace", "0", "--fault", "1")
        self.assertNotEqual(code, 0)
        self.assertFalse(res["correct"])
        self.assertLess(res["metrics"]["ok_ratio"]["value"], 1.0)


class BareDirectory(unittest.TestCase):
    def test_no_sources_means_no_result(self):
        bare = os.path.join(ROOT, ".bench_build", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                                ignore=shutil.ignore_patterns("__pycache__"))
            code, res = run(SPEC["workloads"][0]["name"], "--trace", "0", cwd=bare)
            self.assertNotEqual(code, 0)
            self.assertIsNone(res)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
