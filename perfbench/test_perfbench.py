"""Tests of the benchmark itself, at a tiny input size.

    python3 -m unittest perfbench/test_perfbench.py

Each workload runs untraced and traced at --scale 0.05:
every end-to-end metric must print with its unit, the traced run must emit
every per-layer metric, the checks must pass, and a deliberately corrupted
expected answer must surface as a failed op. Takes about eight minutes.
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
sys.path.insert(0, HERE)
import compare  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload, trace, *extra, seed=7):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
                        "--scale", "0.05", *extra],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"run.py exited {p.returncode}: {p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


def record(workload, trace, seed=7):
    return os.path.join(ROOT, ".bench_out", f"{workload}-seed{seed}-trace{trace}.json")


class Workloads(unittest.TestCase):
    def check_workload(self, w):
        report, res = run(w, 0)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], report)
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        for m in SPEC["end_to_end"]:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])
            self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])
            self.assertTrue(any(line.split()[:1] == [m["name"]] and line.endswith(m["unit"])
                                for line in report), m["name"])

        report, res = run(w, 1)
        self.assertTrue(res["correct"], report)
        self.assertEqual(set(res["metrics"]), {m["name"] for m in SPEC["per_layer"]})
        for m in SPEC["per_layer"]:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])
        self.assertTrue(any(line.startswith("tracing overhead") for line in report), report)
        rec = compare.load(record(w, 1))
        self.assertEqual(len(rec["setup_runs_s"]), 3)
        if w == "search_mix":
            # every request shape reports its floor/exec split
            self.assertEqual(len(rec["shapes"]), 11)
            for s in rec["shapes"].values():
                self.assertGreater(s["floor_ms"], 0)
                self.assertGreater(s["exec_ms"], 0)

        # a corrupted expected answer must show up as a failed op
        report, res = run(w, 0, "--corrupt")
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)

    def test_search_mix(self):
        self.check_workload("search_mix")

    def test_write_mix(self):
        self.check_workload("write_mix")


class InputIdentity(unittest.TestCase):
    def test_refuses_runs_on_different_inputs(self):
        run("search_mix", 0, seed=8)
        run("search_mix", 0, seed=9)
        a = compare.load(record("search_mix", 0, 8))
        b = compare.load(record("search_mix", 0, 9))
        self.assertNotEqual(compare.identity(a), compare.identity(b))
        self.assertEqual(compare.main(["compare", record("search_mix", 0, 8),
                                       record("search_mix", 0, 9)]), 1)
        self.assertEqual(compare.main(["compare", record("search_mix", 0, 8),
                                       record("search_mix", 0, 8)]), 0)


class Contract(unittest.TestCase):
    def test_fails_without_the_library_sources(self):
        """In a directory holding only BENCHMARK.json and the benchmark,
        the run must fail without printing a result."""
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_out")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "search_mix",
                                "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=d,
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                               timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
