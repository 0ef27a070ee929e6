"""The benchmark's own tests: every workload at 1/100 size, the traced
run's artifacts, the failure path, the Derby catalog check, and the
refusal to run outside a checkout.

Run from the root of a checkout (each case starts a fresh JVM):

    python3 -m unittest discover -s connbench/tests -v
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.getcwd()
RUN = [sys.executable, os.path.join("connbench", "run.py")]
SMALL = ["--seconds", "2", "--scale", "0.01"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
# curation_suite is runnable but not among the driver's workloads
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["curation_suite"]
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def run(args, cwd=ROOT):
    p = subprocess.run(RUN + args, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


def result(lines):
    return json.loads(lines[-1])


class SmallWorkloads(unittest.TestCase):

    def test_every_workload_runs_clean_at_one_percent(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, lines, err = run(["--workload", w, "--seed", "5", "--trace", "0"] + SMALL)
                self.assertEqual(code, 0, err[-2000:])
                r = result(lines)
                self.assertEqual(sorted(r), ["attempted", "correct", "failed", "metrics"])
                self.assertTrue(r["correct"])
                self.assertEqual(r["failed"], 0)
                self.assertGreaterEqual(r["attempted"], 1)
                self.assertEqual({k: v["unit"] for k, v in r["metrics"].items()}, END_TO_END)
                for k, v in r["metrics"].items():
                    self.assertGreater(v["value"], 0, k)
                info = json.loads(lines[-2])["run"]
                for k in ("seed", "cpus", "heap_mb", "jdk", "sizes"):
                    self.assertIn(k, info)

    def test_traced_run_writes_spans_and_layer_metrics(self):
        w = "connector_scan"
        code, lines, err = run(["--workload", w, "--seed", "6", "--trace", "1"] + SMALL)
        self.assertEqual(code, 0, err[-2000:])
        r = result(lines)
        self.assertEqual({k: v["unit"] for k, v in r["metrics"].items()}, PER_LAYER)
        trace = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "trace")
        with open(os.path.join(trace, "%s-seed6.spans.jsonl" % w)) as fh:
            spans = [json.loads(line) for line in fh]
        ids = {s["id"] for s in spans}
        for s in spans:
            self.assertTrue(s["parent"] == -1 or s["parent"] in ids, s)
            self.assertLessEqual(s["start_ns"], s["end_ns"])
        names = {s["name"] for s in spans}
        for n in ("op", "plans", "spark.exec", "jdbc.read.fetch", "jdbc.read.convert",
                  "jdbc.catalog.load_table", "jdbc.pool.acquire"):
            self.assertIn(n, names)
        with open(os.path.join(trace, "%s-seed6.summary.json" % w)) as fh:
            summary = json.load(fh)
        self.assertIn("jdbc.read", summary["self_ms"])
        self.assertIn("latency_p50_ms", summary["traced"])
        self.assertIn("latency_p50_ms", summary["untraced"])


class FailurePaths(unittest.TestCase):

    def test_wrong_expected_checksum_fails_the_run(self):
        code, lines, _ = run(["--workload", "connector_write", "--seed", "7", "--trace", "0",
                              "--wrong-checksum", "1"] + SMALL)
        self.assertNotEqual(code, 0)
        r = result(lines)
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], 1)

    def test_derby_catalog_table_under_the_mains_settings(self):
        code, _, err = run(["--workload", "-", "--seed", "1", "--seconds", "1",
                            "--check", "derby-catalog"])
        self.assertEqual(code, 0, err[-2000:])

    def test_refuses_to_run_without_the_checkout(self):
        d = tempfile.mkdtemp(dir=os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                                ignore=shutil.ignore_patterns("target", "__pycache__"))
            code, lines, _ = run(["--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
                                  "--trace", "0"], cwd=d)
            self.assertNotEqual(code, 0)
            self.assertFalse(any(line.startswith('{"correct"') for line in lines))
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
