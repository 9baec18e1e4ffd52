"""The benchmark's own tests: every workload at smoke size, untraced and
traced, through the same command the benchmark runs; plus the refusal to run
outside a checkout.

    python3 -m unittest perfbench/test_perfbench.py     (from the checkout root)

Each smoke run starts a JVM and runs the engine cold, so the suite takes a
few minutes.
"""
import json
import pathlib
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = pathlib.Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
# printed in the table only (see Report.TableOnly)
TABLE_ONLY = {"batch_p90_s": "s", "spill_mb": "MB", "failed_frac": "fraction"}
# batch_sparse is runnable but not in the measured set (see README.md)
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["batch_sparse"]
CHECKS = {
    "batch_sparse": ["recall", "sampled sims", "pair checksum"],
    "batch_clones": ["recall", "sampled sims", "pair checksum"],
    "stream_ingest": ["recall", "sampled sims", "pair checksum", "stream/batch parity"],
}


def smoke(workload, trace, cwd=ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "smoke"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


class SmokeTest(unittest.TestCase):

    def run_and_parse(self, workload, trace):
        done = smoke(workload, trace)
        self.assertEqual(done.returncode, 0, done.stderr[-3000:])
        lines = done.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        return lines, result

    def assert_metrics(self, workload, lines, metrics, spec, table_spec):
        self.assertEqual(set(metrics), set(spec))
        for name, unit in spec.items():
            self.assertEqual(metrics[name]["unit"], unit, name)
            self.assertIsInstance(metrics[name]["value"], (int, float), name)
        table = {}
        for line in lines:
            parts = line.split()
            if parts[:2] == ["metric", workload]:
                table[parts[2]] = parts[4]
        for name, unit in table_spec.items():
            self.assertEqual(table.get(name), unit, f"table line for {name}")

    def test_untraced(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                lines, result = self.run_and_parse(w, 0)
                self.assert_metrics(w, lines, result["metrics"], E2E, {**E2E, **TABLE_ONLY})
                text = "\n".join(lines)
                for check in CHECKS[w]:
                    self.assertRegex(text, rf"check {w} {check}")
                self.assertNotIn("check FAILED", text)
                self.assertRegex(text, r"host before: sha256_1t=")
                self.assertRegex(text, r"host after: +sha256_1t=")

    def test_traced(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                lines, result = self.run_and_parse(w, 1)
                self.assert_metrics(w, lines, result["metrics"], LAYER, LAYER)


class OutsideCheckoutTest(unittest.TestCase):

    def test_refuses_without_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(ROOT / "perfbench", pathlib.Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__", "target"))
            done = smoke(WORKLOADS[0], 0, cwd=d)
            self.assertNotEqual(done.returncode, 0)
            self.assertNotIn('"correct"', done.stdout)


if __name__ == "__main__":
    unittest.main()
