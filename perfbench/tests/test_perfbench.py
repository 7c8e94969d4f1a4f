"""Self-tests of the benchmark.

Run from the root of a source checkout:

    python3 -m unittest discover -s perfbench/tests -v

They build the benchmark once (as run.py does) and then make short runs of
each workload: its full inputs, with `--seconds 0`, which measures one round
of the mix (two in a traced run). Expect about six minutes on 4 cores.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT / "perfbench"))
import run as bench  # noqa: E402
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(*args, cwd=ROOT):
    p = subprocess.run(["python3", "perfbench/run.py", *args], cwd=cwd,
                       capture_output=True, text=True, timeout=900)
    result = None
    if p.returncode == 0:
        result = json.loads(p.stdout.strip().splitlines()[-1])
    return p, result


def short(workload, *extra):
    return run("--workload", workload, "--seed", "7", "--seconds", "0", *extra)


class PerfbenchTest(unittest.TestCase):
    def test_short_runs_pass_every_check(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                p, r = short(w, "--trace", "0")
                self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                self.assertTrue(r["correct"], p.stderr[-3000:])
                self.assertEqual(r["failed"], 0)
                self.assertGreater(r["attempted"], 0)
                self.assertEqual(list(r["metrics"]),
                                 [m["name"] for m in SPEC["end_to_end"]])
                for m in SPEC["end_to_end"]:
                    got = r["metrics"][m["name"]]
                    self.assertEqual(got["unit"], m["unit"])
                    self.assertGreater(got["value"], 0, m["name"])

    def test_traced_run_reports_every_layer_metric(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                p, r = short(w, "--trace", "1")
                self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                self.assertTrue(r["correct"], p.stderr[-3000:])
                self.assertEqual(list(r["metrics"]),
                                 [m["name"] for m in SPEC["per_layer"]])
                self.assertGreater(r["metrics"]["engine.trace_overhead"]["value"], 0)

    def test_planted_wrong_answer_is_a_counted_failure(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                p, r = short(w, "--trace", "0", "--plant-wrong")
                self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                self.assertFalse(r["correct"])
                self.assertEqual(r["failed"], 1)
                self.assertIn("wrong answer", p.stderr)

    def test_metric_catalog_matches_benchmark_json(self):
        jars = bench.spark_jars()
        bench.build(jars)
        p = subprocess.run(["java", "-cp", f".bench_build/classes:{jars}/*",
                            "perfbench.Main", "--list-metrics"], cwd=ROOT,
                           capture_output=True, text=True, timeout=120)
        cat = json.loads(p.stdout.strip().splitlines()[-1])
        for key in ("end_to_end", "per_layer"):
            self.assertEqual([(m["name"], m["unit"]) for m in cat[key]],
                             [(m["name"], m["unit"]) for m in SPEC[key]])

    def test_refuses_without_the_program_sources(self):
        bare = ROOT / ".bench_build" / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for d in SPEC["paths"]:
            shutil.copytree(ROOT / d, bare / d)
        try:
            p, r = run("--workload", WORKLOADS[0], "--seed", "1",
                       "--seconds", "1", "--trace", "0", cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertIsNone(r)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
