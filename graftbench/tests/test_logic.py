"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s graftbench/tests
"""
import os
import sys
import tempfile
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_incomplete_beta_closed_forms(self):
        for x in (0.1, 0.37, 0.5, 0.9):
            self.assertAlmostEqual(metrics.betainc(1.0, 1.0, x), x)
            self.assertAlmostEqual(metrics.betainc(3.0, 1.0, x), x ** 3)
            self.assertAlmostEqual(metrics.betainc(1.0, 2.5, x),
                                   1.0 - (1.0 - x) ** 2.5)
        self.assertAlmostEqual(metrics.betainc(5.0, 5.0, 0.5), 0.5)
        self.assertEqual(metrics.betainc(2.0, 3.0, 0.0), 0.0)
        self.assertEqual(metrics.betainc(2.0, 3.0, 1.0), 1.0)

    def test_symmetric_sample_median_is_its_centre(self):
        self.assertAlmostEqual(metrics.percentile([40.0, 10.0, 30.0, 20.0],
                                                  0.5), 25.0)
        self.assertAlmostEqual(metrics.percentile([3.0, 1.0, 2.0], 0.5), 2.0)

    def test_constant_and_single_samples(self):
        self.assertAlmostEqual(metrics.percentile([7.0] * 5, 0.9), 7.0)
        self.assertAlmostEqual(metrics.percentile([7.0], 0.9), 7.0)

    def test_stays_within_the_sample_and_grows_with_q(self):
        xs = [1.0, 2.0, 4.0, 8.0, 16.0, 32.0, 64.0]
        qs = [metrics.percentile(xs, q) for q in (0.1, 0.5, 0.9)]
        self.assertTrue(min(xs) < qs[0] < qs[1] < qs[2] < max(xs))

    def test_one_sample_crossing_clusters_moves_it_partly(self):
        fast, slow = [0.4] * 4, [1.0] * 5
        base = metrics.percentile(fast + slow, 0.5)
        moved = metrics.percentile(fast[:-1] + [0.9] + slow, 0.5)
        self.assertGreater(moved, base)
        self.assertLess(moved - base, 0.5 * (0.9 - 0.4))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 0.5)


class CompareTest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
        b = pd.DataFrame({"v": [2.5, 0.5, 1.5], "k": [3, 1, 2]})
        self.assertIsNone(oracle.compare(a, b))

    def test_int_widths_collapse(self):
        a = pd.DataFrame({"k": pd.Series([1, 2], dtype="int32")})
        b = pd.DataFrame({"k": pd.Series([2, 1], dtype="int64")})
        self.assertIsNone(oracle.compare(a, b))

    def test_value_row_count_and_type_differences_are_found(self):
        a = pd.DataFrame({"k": [1, 2], "v": [1.0, 2.0]})
        self.assertIsNotNone(oracle.compare(
            a, pd.DataFrame({"k": [1, 2], "v": [1.0, 2.5]})))
        self.assertIsNotNone(oracle.compare(
            a, pd.DataFrame({"k": [1], "v": [1.0]})))
        self.assertIsNotNone(oracle.compare(
            a, pd.DataFrame({"k": [1.0, 2.0], "v": [1.0, 2.0]})))
        self.assertIsNotNone(oracle.compare(
            a, pd.DataFrame({"k": [1, 2], "w": [1.0, 2.0]})))

    def test_duplicate_rows_count(self):
        a = pd.DataFrame({"k": [1, 1, 2]})
        self.assertIsNotNone(oracle.compare(a, pd.DataFrame({"k": [1, 2, 2]})))

    def test_signed_zero_is_a_difference(self):
        a = pd.DataFrame({"v": [0.0]})
        self.assertIsNotNone(oracle.compare(a, pd.DataFrame({"v": [-0.0]})))


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name,
            "start_ns": start * 1_000_000, "end_ns": end * 1_000_000}


class SpanTimesTest(unittest.TestCase):
    def test_self_time_subtracts_direct_children_only(self):
        spans = [
            span(1, 0, "request", 0, 100),
            span(2, 1, "build", 0, 60),
            span(3, 2, "pipeline", 10, 50),
            span(4, 3, "stage", 10, 20),
            span(5, 3, "stage", 25, 45),
            span(6, 1, "final_action", 60, 100),
        ]
        t = metrics.span_times(spans)
        self.assertEqual(t["request"]["self"], 0.0)
        self.assertEqual(t["build"]["self"], 20.0)
        self.assertEqual(t["pipeline"]["self"], 10.0)
        self.assertEqual(t["stage"]["total"], 30.0)
        self.assertEqual(t["stage"]["count"], 2)
        self.assertEqual(t["final_action"]["self"], 40.0)

    def test_names_sum_over_every_span(self):
        spans = [span(1, 0, "build", 0, 10), span(2, 0, "build", 20, 25)]
        self.assertEqual(metrics.span_times(spans)["build"]["self"], 15.0)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.generate("ingest_serve", 7, os.path.join(d, "a"))
            b = gen.generate("ingest_serve", 7, os.path.join(d, "b"))
            c = gen.generate("ingest_serve", 8, os.path.join(d, "c"))
            for p in (a, b, c):
                p.pop("data")
                for f in p["files"]:
                    f.pop("path")
            self.assertEqual(a, b)
            self.assertNotEqual(a, c)
            docs = sum(f["docs"] for f in a["files"])
            self.assertEqual(docs, a["inputs"]["documents"]["docs"])


class VerifyTest(unittest.TestCase):
    def test_unverifiable_results_count_as_failures(self):
        with tempfile.TemporaryDirectory() as d:
            plan = gen.generate("ingest_serve", 7, os.path.join(d, "in"))
            op = {"kind": "batch", "name": "batch-0", "ms": 1.0, "ok": True,
                  "traced": False}
            answer = {"round": 1, "step": 0, "k": 1, "kind": "pairs",
                      "key": 3, "answer": ""}
            res = {"warmup_ops": [], "ops": [op], "failures": [],
                   "answers": [answer], "oracle_sql": {}}
            failed, attempted, reasons = run.verify(
                res, plan, os.path.join(d, "out"))
            # three queries without an oracle, one unchecked point read
            self.assertEqual(failed, 4)
            self.assertEqual(attempted, failed)
            self.assertTrue(any("no st15 oracle" in r for r in reasons))


if __name__ == "__main__":
    unittest.main()
