"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests -v

Run from the root of a graft checkout. The listener test compiles graft and
the benchmark (cached in .bench_build) and starts a small local Spark.
"""
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for workload in sorted(gen.GENERATORS):
            with self.subTest(workload=workload), tempfile.TemporaryDirectory() as tmp:
                a, b, c = (os.path.join(tmp, x) for x in "abc")
                gen.generate(workload, 5, a)
                gen.generate(workload, 5, b)
                gen.generate(workload, 6, c)
                self.assertTrue(same_tree(a, b), "same seed, different inputs")
                self.assertFalse(same_tree(a, c), "different seeds, same inputs")


def span(i, parent, op, name, start, end):
    return [i, parent, op, name, "", start, end]


class SpanArithmeticTest(unittest.TestCase):
    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.covered([(0, 10), (5, 15), (20, 30)], 0, 100), 25)
        self.assertEqual(metrics.covered([(-5, 5), (95, 120)], 0, 100), 10)
        self.assertEqual(metrics.covered([], 0, 100), 0)

    def test_self_time_is_duration_minus_children(self):
        spans = metrics.build_spans([
            span(1, 0, 1, "op.x", 0, 10_000_000),
            span(2, 1, 1, "a", 1_000_000, 4_000_000),
            span(3, 1, 1, "b", 3_000_000, 6_000_000),     # overlaps a: union 1..6 s
            span(4, 2, 1, "c", 1_500_000, 2_000_000)])    # grandchild: not subtracted from 1
        self.assertAlmostEqual(metrics.self_time_s(spans[1]), 5.0)
        self.assertAlmostEqual(metrics.self_time_s(spans[2]), 2.5)
        self.assertAlmostEqual(metrics.self_time_s(spans[4]), 0.5)


class PercentileRuleTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile([float(i) for i in range(19)]))
        self.assertEqual(metrics.tail_percentile([float(i) for i in range(20)])[0], 50)
        self.assertEqual(metrics.tail_percentile([float(i) for i in range(110)])[0], 90)
        self.assertEqual(metrics.tail_percentile([float(i) for i in range(1000)])[0], 99)

    def test_ties_do_not_count_as_beyond(self):
        self.assertIsNone(metrics.tail_percentile([1.0] * 100))

    def test_summary_reports_sample_count(self):
        s = metrics.summary([3.0, 1.0, 2.0])
        self.assertEqual((s["n"], s["p50"], s["tail_p"]), (3, 2.0, None))


class ListenerAttributionTest(unittest.TestCase):
    """A span that submits two jobs is charged exactly two; a job in a child
    span is charged to the child; a job outside every span to none."""

    def test_two_jobs_charged_to_their_span(self):
        root = os.getcwd()
        classes = build.build(root, os.path.join(root, ".bench_build"))
        jars = os.path.join(build.spark_jars(), "*")
        with tempfile.TemporaryDirectory() as tmp:
            out = subprocess.run(
                ["java", "-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                 "--add-opens", "java.base/sun.nio.ch=ALL-UNNAMED",
                 "--add-opens", "java.base/java.nio=ALL-UNNAMED",
                 "--add-opens", "java.base/java.lang.invoke=ALL-UNNAMED",
                 "--add-opens", "java.base/java.util=ALL-UNNAMED",
                 "-cp", f"{classes}:{jars}", "graftbench.SelfTest"],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=tmp,
                check=True).stdout
        res = json.loads(out.strip().splitlines()[-1])
        by_name = {s[3]: s[0] for s in res["spans"]}
        charged = {}
        for j in res["jobs"]:
            charged[j[1]] = charged.get(j[1], 0) + 1
        self.assertEqual(charged.get(by_name["outer"]), 2)
        self.assertEqual(charged.get(by_name["inner"]), 1)
        self.assertEqual(charged.get(0), 1)
        table = metrics.spark_by_span(res)
        self.assertEqual(table["outer"]["jobs"], 2)
        self.assertEqual(table["inner"]["tasks"], 3)


if __name__ == "__main__":
    unittest.main()
