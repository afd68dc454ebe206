"""Tests of the benchmark itself, on the sf0.001 input set and a small
lakehouse run.

    python3 -m unittest discover -s perfbench/tests -v

Each end-to-end case starts one harness JVM (about 20-40 s each).
Set PERFBENCH_SMALL_DATA to use another small input set.
"""
import json
import os
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import run  # noqa: E402

SMALL = os.environ.get("PERFBENCH_SMALL_DATA") or run.input_dir("sf0.001")


def bench(*args):
    """Runs perfbench/run.py; returns (report lines, final JSON)."""
    proc = subprocess.run([sys.executable, str(BENCH / "run.py"), *args],
                          cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=900)
    if proc.returncode != 0:
        raise AssertionError(f"run.py {args} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


class MetricNames(unittest.TestCase):
    """BENCHMARK.json declares exactly what run.py prints."""

    def test_benchmark_json_matches_run_py(self):
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"])
                          for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         run.PER_LAYER)
        self.assertEqual({m["name"] for m in spec["per_layer"] if m["better"] == "higher"},
                         run.HIGHER_IS_BETTER)
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         ["analytics", "lakehouse"])

    def check_printed(self, lines, result, declared):
        self.assertEqual(list(result["metrics"]), [k for k, _ in declared])
        for k, unit in declared:
            m = result["metrics"][k]
            self.assertEqual(m["unit"], unit)
            self.assertIsInstance(m["value"], (int, float), k)
            self.assertTrue(any(l.split()[:1] == [k] and l.rstrip().split()[2] == unit
                                for l in lines if len(l.split()) >= 3), k)

    def test_every_metric_printed_with_unit(self):
        lines, result = bench("--workload", "analytics", "--seed", "3", "--seconds", "3",
                              "--trace", "0", "--data", SMALL)
        self.check_printed(lines, result, [(k, u) for k, u, _, _ in run.END_TO_END])
        lines, result = bench("--workload", "lakehouse", "--seed", "3", "--seconds", "3",
                              "--trace", "1", "--data", SMALL)
        self.check_printed(lines, result, run.PER_LAYER)
        self.assertEqual(result["failed"], 0, lines)


class Correctness(unittest.TestCase):
    """A wrong expectation must surface as a named failure."""

    def test_clean_run_passes(self):
        lines, result = bench("--workload", "analytics", "--seed", "5", "--seconds", "4",
                              "--trace", "0", "--data", SMALL)
        self.assertTrue(result["correct"], lines)
        self.assertEqual(result["failed"], 0)

    def test_corrupted_digest_fails(self):
        plan = subprocess.run(
            [sys.executable, str(BENCH / "run.py"), "--workload", "analytics", "--seed", "7",
             "--seconds", "3", "--plan-only"], cwd=ROOT, stdout=subprocess.PIPE,
            text=True, check=True).stdout.split()
        victim = next(q for q in plan if q not in ("q14_approx_distinct", "q52_approx_percentiles"))
        lines, result = bench("--workload", "analytics", "--seed", "7", "--seconds", "3",
                              "--trace", "0", "--data", SMALL, "--corrupt-digest", victim)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertTrue(any(l.strip().startswith(f"FAILED {victim}") for l in lines), lines)
        self.assertTrue(any("failed_frac" in l and "failed_frac 0)" not in l for l in lines))

    def corrupt_model(self, kind):
        lines, result = bench("--workload", "lakehouse", "--seed", "7", "--seconds", "3",
                              "--trace", "0", "--data", SMALL, "--corrupt-model", kind)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        # the untraced report also gives the commit and read latencies
        for k in ("commit_p50_s", "commit_tail_s", "read_p50_s", "read_tail_s"):
            self.assertTrue(any(l.split()[:1] == [k] for l in lines), k)
        return [l.strip() for l in lines if l.strip().startswith("FAILED ")]

    def test_corrupted_model_row_after_compact_fails(self):
        failed = self.corrupt_model("compact")
        # the full read that follows compact sees the falsified row
        self.assertTrue(any(l.startswith("FAILED read: read:") for l in failed), failed)

    def test_end_check_catches_what_no_read_covers(self):
        # nothing reads parts after the round's last mutation, overwrite;
        # the end-of-run check of the whole table names it
        failed = self.corrupt_model("overwrite")
        self.assertEqual(len(failed), 1, failed)
        self.assertTrue(failed[0].startswith("FAILED overwrite: end check of parts:"), failed)


class Plans(unittest.TestCase):
    """Operation sequences are a pure function of the seed."""

    def plan(self, seed, workload="lakehouse"):
        return run.lakehouse_plan(seed, 60, {}) if workload == "lakehouse" else \
            run.query_plan([f"q{i:02d}" for i in range(40)], {}, seed, 25)

    def test_same_seed_same_sequence(self):
        self.assertEqual(self.plan(11), self.plan(11))
        self.assertEqual(self.plan(11, "analytics"), self.plan(11, "analytics"))

    def test_other_seed_other_sequence(self):
        self.assertNotEqual(self.plan(11), self.plan(12))
        self.assertNotEqual(self.plan(11, "analytics"), self.plan(12, "analytics"))

    def test_cli_plan_matches(self):
        out = subprocess.run(
            [sys.executable, str(BENCH / "run.py"), "--workload", "lakehouse", "--seed", "11",
             "--seconds", "60", "--plan-only"], cwd=ROOT, stdout=subprocess.PIPE,
            text=True, check=True).stdout.splitlines()
        costs = json.loads((BENCH / "costs.json").read_text())["lakehouse"]
        self.assertEqual(out, run.lakehouse_plan(11, 60, costs))

    def test_round_covers_every_kind(self):
        kinds = [tuple(l.split()[:2]) for l in run.lakehouse_plan(4, 1, {})]
        self.assertEqual(kinds, run.ROUND)
        self.assertEqual(len(run.COMMIT_KINDS), 15)

    def test_round_checks_every_row_change(self):
        """Each mutation but analyze and the round's last is followed by a
        check of its whole table, and commits and reads each give more
        than 20 samples."""
        full = {"docs": ("read", "stream"), "parts": ("read",)}
        for i, (kind, table) in enumerate(run.ROUND[:-1]):
            if kind in run.COMMIT_KINDS and kind not in ("append", "stream_append", "analyze"):
                nxt, nxt_table = run.ROUND[i + 1]
                self.assertEqual(nxt_table, table, kind)
                self.assertIn(nxt, full[table], kind)
        commits = sum(1 for k, _ in run.ROUND if k in run.COMMIT_KINDS)
        self.assertGreater(commits, 20)
        self.assertGreater(len(run.ROUND) - commits, 20)


class Tail(unittest.TestCase):
    def test_ten_samples_beyond(self):
        for n in (22, 33, 40, 100):
            v, p, count = run.tail(list(range(n)))
            self.assertEqual(count, n)
            self.assertEqual(sum(1 for x in range(n) if x > v), 10)

    def test_few_samples_give_the_maximum(self):
        for n in (1, 11, 15, 21):
            self.assertEqual(run.tail(list(range(n))), (n - 1, 100, n))

    def test_never_at_or_below_the_median(self):
        for n in range(2, 120):
            self.assertGreater(run.tail(list(range(n)))[0], run.median(list(range(n))), n)


if __name__ == "__main__":
    unittest.main()
