#!/usr/bin/env python3
"""The benchmark's own smoke test: every workload at toy size measures every
end-to-end metric, the traced runs together measure every per-layer metric
and each writes a spans file, each correctness gate fails on a deliberately
wrong answer, and no run leaves its temp root behind.

    python3 perfbench/test_bench.py        # from the root of a checkout
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import run  # noqa: E402

WORKLOADS = run.WORKLOADS
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def bench(workload, trace=0, *extra, seconds=2):
    """(exit code, result line, context, stderr) of one run."""
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", str(seconds), "--trace", str(trace), *extra],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=900)
    lines = p.stdout.strip().splitlines()
    last = json.loads(lines[-1]) if lines and lines[-1].startswith("{\"correct\"") else None
    ctx = json.loads(lines[-2])["context"] if len(lines) >= 2 else None
    return p.returncode, last, ctx, p.stderr


def measured(line, ctx):
    """The metric names a run measured (run.py fills the others with 0)."""
    return set(line["metrics"]) - set(ctx.get("not_measured_on_this_workload", []))


def leftover_runs():
    runs = os.path.join(ROOT, ".bench_build", "runs")
    return os.listdir(runs) if os.path.isdir(runs) else []


class Percentiles(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(run.tail(xs)[0], 90)
        self.assertEqual(run.tail(xs[:40])[0], 75)
        self.assertEqual(run.tail(xs[:12])[0], 100)
        self.assertEqual(run.pct([1.0, 2.0, 3.0, 4.0], 50), 2.5)


class Smoke(unittest.TestCase):
    def check_line(self, line, group):
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(line["attempted"], 1)
        want = {m["name"]: m["unit"] for m in SPEC[group]}
        self.assertEqual(set(line["metrics"]), set(want))
        for name, m in line["metrics"].items():
            self.assertEqual(m["unit"], want[name], name)
            self.assertIsInstance(m["value"], (int, float), name)

    def test_every_workload_measures_every_metric(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                rc, line, ctx, err = bench(w)
                self.assertEqual(rc, 0, err[-2000:])
                self.check_line(line, "end_to_end")
                self.assertEqual(measured(line, ctx), set(line["metrics"]))
                self.assertTrue(line["correct"])
                self.assertEqual(line["metrics"]["ops_ok_frac"]["value"], 1.0)
                self.assertEqual(leftover_runs(), [])

    def test_traced_runs_measure_every_layer_and_write_spans(self):
        seen = set()
        for w in WORKLOADS:
            with self.subTest(workload=w):
                spans = os.path.join(BENCH, "out", f"spans_{w}.jsonl")
                if os.path.exists(spans):
                    os.remove(spans)
                # long enough that the traced half of the read mix covers every tier
                rc, line, ctx, err = bench(w, 1, seconds=5)
                self.assertEqual(rc, 0, err[-2000:])
                self.check_line(line, "per_layer")
                seen |= measured(line, ctx)
                with open(spans) as f:
                    first = json.loads(f.readline())
                self.assertEqual(set(first), {"id", "name", "start_ns", "end_ns", "parent", "trace_id"})
                self.assertEqual(leftover_runs(), [])
        self.assertEqual({m["name"] for m in SPEC["per_layer"]} - seen, set())

    def test_gates_fail_on_a_wrong_answer(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                rc, line, _, err = bench(w, 0, "--corrupt")
                self.assertNotEqual(rc, 0)
                self.assertFalse(line["correct"])
                self.assertLess(line["metrics"]["ops_ok_frac"]["value"], 1.0)
                self.assertEqual(leftover_runs(), [])

    def test_fails_without_the_program(self):
        base = os.path.join(ROOT, ".bench_build")
        os.makedirs(base, exist_ok=True)
        bare = tempfile.mkdtemp(prefix="bare-", dir=base)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("out", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
                                "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=bare,
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(bare)


if __name__ == "__main__":
    unittest.main()
