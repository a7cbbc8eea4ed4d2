"""Self-tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import run  # noqa: E402


class TailTest(unittest.TestCase):
    def test_exactly_ten_samples_beyond(self):
        samples = list(range(1, 37))  # 36 samples, 1..36
        value, pct, n = metrics.tail(samples)
        self.assertEqual(n, 36)
        self.assertEqual(value, 26)
        self.assertEqual(sum(1 for s in samples if s > value), 10)
        self.assertAlmostEqual(pct, 100 * 26 / 36)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail([5, 1, 4, 2, 3] * 4), metrics.tail(sorted([5, 1, 4, 2, 3] * 4)))

    def test_too_few_samples_has_no_tail(self):
        self.assertEqual(metrics.tail(list(range(10))), (None, None, 10))
        value, _, _ = metrics.tail(list(range(11)))
        self.assertEqual(value, 0)


class IntervalTest(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([]), 0)

    def test_driver_gap_is_op_wall_minus_job_union(self):
        # op 0..100; jobs 10..40 and 30..60 overlap; 90..120 sticks out
        self.assertEqual(metrics.self_time(0, 100, [(10, 40), (30, 60), (90, 120)]), 40)

    def test_driver_gap_without_jobs_is_the_wall(self):
        self.assertEqual(metrics.self_time(5, 25, []), 20)

    def test_self_time_clips_children_to_the_span(self):
        self.assertEqual(metrics.self_time(10, 20, [(0, 12), (18, 30)]), 6)

    def test_job_overlap(self):
        self.assertEqual(metrics.job_overlap([(0, 10), (10, 20)]), 1.0)
        self.assertEqual(metrics.job_overlap([(0, 10), (0, 10)]), 2.0)
        self.assertEqual(metrics.job_overlap([]), 1.0)


class RatioTest(unittest.TestCase):
    def test_fail_ratio(self):
        self.assertEqual(metrics.fail_ratio(36, 0), 0.0)
        self.assertEqual(metrics.fail_ratio(12, 3), 0.25)
        with self.assertRaises(ValueError):
            metrics.fail_ratio(0, 0)

    def test_rows_per_s_uses_the_median_wall(self):
        self.assertEqual(metrics.rows_per_s(200000, [1.0, 4.0, 2.0]), 100000)
        self.assertEqual(metrics.rows_per_s(300, [1.0, 2.0]), 200)


class DigestTest(unittest.TestCase):
    def test_order_and_column_order_insensitive(self):
        a = metrics.row_digest([(1, "x", 0.5), (2, "y", float("nan"))], ["id", "s", "f"])
        b = metrics.row_digest([("y", float("nan"), 2), ("x", 0.5, 1)], ["s", "f", "id"])
        self.assertEqual(a, b)
        self.assertEqual(a[0], 2)

    def test_floats_compare_at_full_precision(self):
        self.assertNotEqual(metrics.row_digest([(0.1 + 0.2,)], ["v"]),
                            metrics.row_digest([(0.3,)], ["v"]))


class ScheduleTest(unittest.TestCase):
    def test_seed_permutes_catalog_passes_only(self):
        spec = run.WORKLOADS["sql_olap"]
        a = run.schedule(spec, 1, 10, 0)
        self.assertEqual(a, run.schedule(spec, 1, 10, 0))
        self.assertNotEqual([p["ops"] for p in a], [p["ops"] for p in run.schedule(spec, 2, 10, 0)])
        for p in a:
            self.assertEqual(sorted(p["ops"]), sorted(spec["ops"]))
        elt = run.WORKLOADS["elt_m33"]
        for p in run.schedule(elt, 7, 10, 0):
            self.assertEqual(p["ops"], ["ctas", "export", "readback"])

    def test_traced_runs_balance_untraced_and_traced_passes(self):
        for w in run.WORKLOADS.values():
            passes = [p for p in run.schedule(w, 1, 10, 1) if p["kind"] == "measure"]
            self.assertEqual([p["traced"] for p in passes],
                             [False, True, True, False] * (len(passes) // 4))
            self.assertGreater(len(passes), 0)


class EndToEndTest(unittest.TestCase):
    def test_metrics_of_a_run(self):
        def op(name, start, secs, ok=True):
            return {"op": name, "start_us": start, "end_us": start + int(secs * 1e6), "ok": ok}
        # 12 ops of 0.1..1.2 s; op "a" is 9 s in the first pass only
        names = [chr(ord("a") + i) for i in range(12)]
        passes = []
        for k in range(2):
            base = k * 100_000_000
            ops = [op(n, base, (i + 1) / 10) for i, n in enumerate(names)]
            if k == 0:
                ops[0] = op("a", base, 9.0)
            ops.append(op("z", base, 50.0, ok=False))
            passes.append({"kind": "measure", "start_us": base,
                           "end_us": base + (20 + k) * 1_000_000, "ops": ops})
        passes.insert(0, {"kind": "warmup", "start_us": -10**9, "end_us": 0, "ops": []})
        result = {"passes": passes, "first_timed_us": 5_000_000}
        values, extra = run.end_to_end(result, 2_000_000)
        self.assertEqual(values["setup_s"], 3.0)
        self.assertEqual(values["pass_s"], 20.5)
        # per-op medians: b..l = 0.2..1.2 and a = (9 + 0.1) / 2 -> 6th and 7th
        self.assertAlmostEqual(values["query_p50_s"], (0.7 + 0.8) / 2)
        # 24 ok samples (failed ops excluded): 0.1, 0.2, 0.2, ... -> rank 14
        self.assertEqual(extra["query_samples"], 24)
        self.assertAlmostEqual(values["query_tail_s"], 0.8)
        self.assertAlmostEqual(extra["query_tail_percentile"], round(100 * 14 / 24, 2))


class EltExpectationTest(unittest.TestCase):
    def test_closed_form_matches_the_fixture_formula(self):
        rows = {(a, p): (n, f, c) for a, p, n, f, c in run.m33_expected(3)}
        # M33Fixture.flam: (cents*31 + age*7 + 13*peculiar) % 999983, /10
        want = sum((c * 31 + 11 * 7 + 13) % 999983 for c in (300000, 300001, 300002))
        self.assertEqual(rows[(11, 1)], (3, want, 900003))
        self.assertEqual(len(rows), 4)


if __name__ == "__main__":
    unittest.main()
