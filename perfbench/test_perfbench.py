"""Tests of the benchmark's own arithmetic and plans.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import contextlib
import io
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import plan  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        value, pct, beyond = stats.tail(list(range(1, 31)))
        self.assertEqual((value, beyond), (20, 10))
        self.assertAlmostEqual(pct, 100 * 20 / 30)

    def test_order_of_samples_does_not_matter(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3] * 5), stats.tail(sorted([5, 1, 4, 2, 3] * 5)))

    def test_exactly_eleven_samples(self):
        self.assertEqual(stats.tail(list(range(11))), (0, 100 / 11, 10))

    def test_too_few_samples_give_the_maximum_with_none_beyond(self):
        self.assertEqual(stats.tail([3, 9, 1]), (9, 100.0, 0))
        self.assertEqual(stats.tail(list(range(10))), (9, 100.0, 0))

    def test_report_prints_percentile_and_sample_count(self):
        art = {"jvm_start_us": 0, "window": {"wall_s": 10.0, "cpu_s": 20.0, "peak_rss_mb": 1.0},
               "check": {}, "ops": [{"phase": "meas", "commit": False, "t0_us": 1_000_000,
                                    "t1_us": 1_000_000 + 1000 * (i + 1)} for i in range(40)]}
        e2e, tails = stats.end_to_end(art)
        self.assertAlmostEqual(e2e["query_tail_s"], 0.030)
        self.assertEqual(tails["query_tail_s"], [75.0, 10, 40])
        report = {"workload": "w", "seed": 1, "trace": 0, "attempted": 40, "failed": 0,
                  "end_to_end": e2e, "tails": tails, "per_layer": {}, "rounds": [],
                  "window": {"steal_frac": 0.0}, "loadavg_before": [], "loadavg_after": [],
                  "check_failures": {}, "op_errors": {}}
        err = io.StringIO()
        with contextlib.redirect_stderr(err):
            run.print_report(report, "x.json")
        self.assertIn("query_tail_s", err.getvalue())
        self.assertIn("(p75.0, 10 samples beyond, n=40)", err.getvalue())


class SeededPlans(unittest.TestCase):
    def test_same_seed_same_ops(self):
        for w in plan.WORKLOADS:
            self.assertEqual(plan.make_plan(w, 7, 16), plan.make_plan(w, 7, 16))

    def test_other_seed_other_order(self):
        for w in plan.WORKLOADS:
            self.assertNotEqual(plan.make_plan(w, 7, 16), plan.make_plan(w, 8, 16))

    def test_same_seed_same_mor_batches(self):
        a = [op for op in plan.make_plan("mor_dml", 3, 16) if op[2] in ("upsert", "delete")]
        b = [op for op in plan.make_plan("mor_dml", 3, 16) if op[2] in ("upsert", "delete")]
        self.assertEqual(a, b)
        self.assertTrue(a)
        # the plan file the engine reads is byte-identical too
        self.assertEqual(plan.plan_text(plan.make_plan("mor_dml", 3, 16), {"k": "v"}),
                         plan.plan_text(plan.make_plan("mor_dml", 3, 16), {"k": "v"}))

    def test_rounds_are_whole_and_fixed(self):
        ops = plan.make_plan("olap_mix", 1, 16)
        for ph in ("warm", "meas"):
            rounds = {r for p, r, _, _ in ops if p == ph}
            self.assertEqual(len(rounds), 2)
            for r in rounds:
                got = sorted(a[0] for p, rr, _, a in ops if p == ph and rr == r)
                self.assertEqual(got, sorted(plan.OLAP_MIX))

    def test_cycle_residues_are_distinct(self):
        ops = plan.make_plan("mor_dml", 11, 60)
        for ph, r in {(p, r) for p, r, _, _ in ops}:
            cyc = {k: a for p, rr, k, a in ops if (p, rr) == (ph, r)}
            self.assertEqual(len({cyc["upsert"][1], cyc["upsert"][3], cyc["delete"][1]}), 3)

    def test_q6_parameters_follow_the_specification(self):
        for _, _, k, a in plan.make_plan("mor_dml", 5, 60):
            if k == "read_pruned":
                d0, d1, lo, hi, q = a
                self.assertIn(int(d0[:4]), range(1993, 1998))
                self.assertEqual(int(d1[:4]), int(d0[:4]) + 1)
                self.assertAlmostEqual(float(hi) - float(lo), 0.02)
                self.assertIn(round((float(lo) + float(hi)) / 2, 2),
                              [x / 100 for x in range(2, 10)])
                self.assertIn(q, (24, 25))

    def test_maintenance_every_second_cycle(self):
        ops = plan.make_plan("mor_dml", 2, 16)
        self.assertEqual([(p, r) for p, r, k, _ in ops if k == "maintain"],
                         [("warm", 1), ("meas", 1)])


class TraceOverhead(unittest.TestCase):
    @staticmethod
    def op(idx, traced, ms, phase="meas"):
        return {"idx": idx, "phase": phase, "traced": traced, "t0_us": 0, "t1_us": ms * 1000}

    def test_each_traced_op_is_paired_with_the_same_op_untraced(self):
        # op 0 is 10 % slower traced, op 1 is 10 % faster: they cancel
        ops = [self.op(0, False, 100), self.op(0, True, 110),
               self.op(1, True, 200), self.op(1, False, 220)]
        self.assertAlmostEqual(stats.overhead(ops), 0.0)
        ops = [self.op(0, False, 100), self.op(0, True, 105),
               self.op(1, True, 210), self.op(1, False, 200)]
        self.assertAlmostEqual(stats.overhead(ops), 0.05)

    def test_a_drift_across_alternating_lanes_cancels(self):
        # tracing costs 2 %, and every later op is 10 % slower than the one
        # before; the lanes run u, t in round 0 and t, u in round 1
        lat, order = 100.0, []
        for idx, lanes in ((0, (False, True)), (1, (True, False))):
            for traced in lanes:
                order.append(self.op(idx, traced, lat * (1.02 if traced else 1.0)))
                lat *= 1.1
        self.assertAlmostEqual(stats.overhead(order), 0.02)

    def test_warm_up_and_unpaired_ops_are_ignored(self):
        ops = [self.op(0, False, 100, "warm"), self.op(0, True, 500, "warm"),
               self.op(1, True, 300), self.op(2, False, 100), self.op(2, True, 120)]
        self.assertAlmostEqual(stats.overhead(ops), 0.2)


class SpanArithmetic(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25), (30, 30)]), 20)

    def test_self_time_subtracts_covered_children(self):
        spans = [
            {"id": 0, "parent": -1, "t0_us": 0, "t1_us": 100},
            {"id": 1, "parent": 0, "t0_us": 10, "t1_us": 30},
            {"id": 2, "parent": 0, "t0_us": 20, "t1_us": 50},   # overlaps span 1
            {"id": 3, "parent": 0, "t0_us": 90, "t1_us": 120},  # runs past its parent
            {"id": 4, "parent": 2, "t0_us": 25, "t1_us": 35},
        ]
        self.assertEqual(stats.self_times(spans), {0: 50, 1: 20, 2: 20, 3: 30, 4: 10})

    def test_covered_clips_to_span(self):
        self.assertEqual(stats.covered((10, 20), [(0, 12), (18, 40)]), 4)


if __name__ == "__main__":
    unittest.main()
