"""Tests of the benchmark itself: the metric arithmetic and the generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The generator tests build the program once (as `run.py` does) and call
the harness's `gen` mode, which writes only the monthly dumps.
"""
import json
import shutil
import subprocess
import unittest
from pathlib import Path

import build
import stats

ROOT = Path(__file__).resolve().parent.parent


def op(phase, wall, ok=True, **extra):
    r = {"kind": "op", "phase": phase, "wall_s": wall, "cpu_s": 2 * wall, "heap_mb": 100.0,
         "gc_s": 0.1, "jit_s": 0.2, "ok": ok, "why": "", "out_bytes": 50}
    r.update(extra)
    return r


SETUP = {"kind": "setup", "input_s": [3.0, 1.0, 2.0], "adopt_s": 0.5, "warmup_s": 4.0,
         "warmup_ops": 2, "deterministic": True}
INPUT = {"kind": "input", "rows": 1000, "bytes": 100}


class MedianTest(unittest.TestCase):
    def test_odd_count_takes_the_middle(self):
        self.assertEqual(stats.median([5.0, 1.0, 3.0]), 3.0)

    def test_even_count_averages_the_middle_two(self):
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_single_sample(self):
        self.assertEqual(stats.median([7.0]), 7.0)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(stats.SampleError):
            stats.median([])

    def test_setup_takes_the_median_input_repetition(self):
        self.assertEqual(stats.setup_seconds(SETUP), 2.0 + 0.5 + 4.0)


class SampleCountTest(unittest.TestCase):
    def test_rule(self):
        self.assertFalse(stats.enough(stats.MIN_SAMPLES - 1))
        self.assertTrue(stats.enough(stats.MIN_SAMPLES))
        self.assertFalse(stats.enough(stats.MIN_TRACE_CYCLES - 1, trace=True))
        self.assertTrue(stats.enough(stats.MIN_TRACE_CYCLES, trace=True))

    def test_too_few_measured_ops_report_nothing(self):
        recs = [SETUP, INPUT, op("warmup", 9.0)] + [op("measure", 1.0)] * (stats.MIN_SAMPLES - 1)
        with self.assertRaises(stats.SampleError):
            stats.summarize(recs, False, 4, [])

    def test_warmup_is_excluded_and_failures_counted(self):
        recs = [SETUP, INPUT, op("warmup", 9.0), op("measure", 1.0), op("measure", 3.0),
                op("measure", 2.0, ok=False), op("measure", 4.0)]
        result, detail = stats.summarize(recs, False, 4, [])
        m = {k: v["value"] for k, v in result["metrics"].items()}
        self.assertEqual(m["wall_s"], 2.5)
        self.assertEqual(m["cpu_s"], 5.0)
        self.assertEqual(m["rows_per_s"], 1000 / 2.5)
        self.assertEqual(m["ok_ratio"], 4 / 5)
        self.assertEqual(m["stored_bytes_ratio"], 0.5)
        self.assertEqual((result["attempted"], result["failed"], result["correct"]), (5, 1, False))
        self.assertEqual(detail["samples"], 4)

    def test_trace_reports_every_named_layer(self):
        spark = {"task_run_s": 1.0, "jobs": 3.0}
        listen = dict(spark=spark, session_start_s=0.2, driver_gap_s=0.5)
        recs = [SETUP, INPUT]
        for wall in (1.0, 1.2):
            recs += [op("plain", wall), op("listen", wall, **listen),
                     op("traced", 2 * wall, layers={"chess.parse_s": wall / 2})]
        names = [("chess.parse_s", "s"), ("ops.pagerank_s", "s"), ("trace.overhead", "ratio"),
                 ("spark.occupancy", "ratio"), ("spark.jobs", "count")]
        result, _ = stats.summarize(recs, True, 4, names)
        m = {k: v["value"] for k, v in result["metrics"].items()}
        self.assertEqual(set(m), {n for n, _ in names})
        self.assertAlmostEqual(m["chess.parse_s"], 0.55)
        self.assertEqual(m["ops.pagerank_s"], 0.0)
        self.assertAlmostEqual(m["trace.overhead"], 2.0)
        self.assertAlmostEqual(m["spark.occupancy"], stats.median([1 / 4.0, 1 / 4.8]))
        self.assertEqual(m["spark.jobs"], 3.0)


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.cp = build.build()
        cls.tmp = ROOT / ".perfbench_work" / "test-gen"
        shutil.rmtree(cls.tmp, ignore_errors=True)
        (cls.tmp / "jvm").mkdir(parents=True)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def gen(self, seed, name):
        out = subprocess.run(
            ["java", f"-Djava.io.tmpdir={self.tmp / 'jvm'}", "-cp", self.cp,
             "graft.perfbench.Harness", "gen", "--seed", str(seed),
             "--out", str(self.tmp / name), "--games-per-month", "300", "--months", "3"],
            check=True, stdout=subprocess.PIPE, text=True).stdout
        line = [l for l in out.splitlines() if l.startswith("PERFBENCH ")][-1]
        return json.loads(line[len("PERFBENCH "):])

    def test_same_seed_gives_byte_identical_dumps(self):
        a, b = self.gen(7, "a"), self.gen(7, "b")
        self.assertEqual(len(a["files"]), 3)
        self.assertEqual(a["files"], b["files"])
        for f in a["files"]:
            self.assertEqual((self.tmp / "a" / f["name"]).read_bytes(),
                             (self.tmp / "b" / f["name"]).read_bytes())

    def test_different_seeds_give_different_dumps(self):
        a, c = self.gen(7, "a2"), self.gen(8, "c")
        self.assertEqual([f["name"] for f in a["files"]], [f["name"] for f in c["files"]])
        for fa, fc in zip(a["files"], c["files"]):
            self.assertNotEqual(fa["sha256"], fc["sha256"])

    def test_dumps_compress_by_a_single_digit_ratio(self):
        g = self.gen(9, "r")
        self.assertEqual(g["games"], 900)
        self.assertTrue(1.0 < g["raw_bytes"] / g["bytes"] < 10.0, g)


if __name__ == "__main__":
    unittest.main()
