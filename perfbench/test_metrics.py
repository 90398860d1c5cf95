"""Self-tests of the benchmark's arithmetic, on synthetic samples and spans.

    python3 perfbench/test_metrics.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


def op(start_ms, end_ms, phases, name="q", kind="query", extra=None):
    return {"name": name, "kind": kind, "ok": True, "start_ms": start_ms, "end_ms": end_ms,
            "thread_cpu_s": (end_ms - start_ms) / 1e3 * 2, "jit_s": 0.0,
            "alloc_mb": (end_ms - start_ms) / 10.0,
            "phases": [{"id": i, "name": n, "start_ms": s, "end_ms": e}
                       for i, (n, s, e) in enumerate(phases, 1)],
            "extra": extra or {}, "problems": []}


def job(jid, phase, start_ms, end_ms, stages=()):
    return {"job": jid, "phase": phase, "start_ms": start_ms, "end_ms": end_ms,
            "stages": list(stages)}


class UnionTest(unittest.TestCase):
    def test_overlapping_and_disjoint(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)

    def test_nested_and_touching(self):
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_clipping(self):
        self.assertEqual(metrics.union_length([(-5, 1), (4, 20)], lo=0, hi=6), 3)

    def test_empty(self):
        self.assertEqual(metrics.union_length([]), 0)


class SelfTimeTest(unittest.TestCase):
    def test_children_overlap_counted_once(self):
        spans = [{"id": "a", "parent": None, "start": 0, "end": 10},
                 {"id": "b", "parent": "a", "start": 1, "end": 4},
                 {"id": "c", "parent": "a", "start": 3, "end": 6},
                 {"id": "d", "parent": "c", "start": 3, "end": 5}]
        st = metrics.self_times(spans)
        self.assertEqual(st["a"], 5)  # 10 - |[1, 6]|
        self.assertEqual(st["b"], 3)
        self.assertEqual(st["c"], 1)
        self.assertEqual(st["d"], 2)

    def test_child_sticking_out_is_clipped(self):
        spans = [{"id": "a", "parent": None, "start": 0, "end": 4},
                 {"id": "b", "parent": "a", "start": 3, "end": 9}]
        self.assertEqual(metrics.self_times(spans)["a"], 3)


class PercentileRuleTest(unittest.TestCase):
    def test_median_only_below_ten_beyond(self):
        s = metrics.timing_summary([float(i) for i in range(1, 100)])  # 99 samples
        self.assertEqual(s["n"], 99)
        self.assertEqual(s["p50"], 50.0)
        self.assertNotIn("p90", s)  # 9 samples beyond 90

    def test_p90_at_hundred(self):
        s = metrics.timing_summary([float(i) for i in range(1, 101)])
        self.assertEqual(s["p90"], 90.0)  # 10 samples beyond
        self.assertNotIn("p99", s)

    def test_highest_qualifying_percentile(self):
        s = metrics.timing_summary([float(i) for i in range(1, 1001)])
        self.assertEqual(s["p99"], 990.0)
        self.assertNotIn("p90", s)

    def test_ties_are_not_beyond(self):
        s = metrics.timing_summary([1.0] * 200)
        self.assertEqual(s, {"n": 200, "p50": 1.0})


class AccountingTest(unittest.TestCase):
    """construct + action = operation wall, and every job lies inside its
    operation, each within metrics.TOLERANCE_S."""

    def traced(self, o, jobs, stages=(), plans=()):
        return {"jobs": jobs, "stages": list(stages), "tasks": [], "plans": list(plans)}

    def test_split_closes(self):
        o = op(1000, 3000, [("queries.construct", 1000.2, 2200), ("action", 2200, 2999.9)])
        ev = self.traced(o, [job(1, 1, 1500, 1800), job(2, 2, 2300, 2900),
                             job(3, 2, 2400, 2500)])
        acc = metrics.op_accounting(o, metrics.op_spans(o, ev))
        self.assertAlmostEqual(acc["wall"], 2.0)
        self.assertAlmostEqual(acc["job_wall"], 0.9)
        self.assertAlmostEqual(acc["driver_gap"], 1.1)
        self.assertLessEqual(acc["phase_err"], metrics.TOLERANCE_S)
        self.assertLessEqual(acc["job_err"], metrics.TOLERANCE_S)

    def test_job_outside_its_operation_is_reported(self):
        o = op(1000, 2000, [("action", 1000, 2000)])
        ev = self.traced(o, [job(1, 1, 1900, 2100)])
        acc = metrics.op_accounting(o, metrics.op_spans(o, ev))
        self.assertAlmostEqual(acc["job_err"], 0.1)

    def test_untimed_gap_is_reported(self):
        o = op(1000, 2000, [("queries.construct", 1000, 1400), ("action", 1500, 2000)])
        acc = metrics.op_accounting(o, metrics.op_spans(o, self.traced(o, [])))
        self.assertAlmostEqual(acc["phase_err"], 0.1)

    def test_tree_parents(self):
        o = op(0, 100, [("queries.construct", 0, 40), ("action", 40, 100)])
        ev = self.traced(o, [job(7, 2, 50, 90, stages=[3, 4])],
                         stages=[{"stage": 3, "attempt": 0, "submit_ms": 50, "end_ms": 70},
                                 {"stage": 4, "attempt": 0, "submit_ms": 70, "end_ms": 90}],
                         plans=[{"phases": {"analysis": {"start_ms": 5, "end_ms": 8},
                                            "planning": {"start_ms": 42, "end_ms": 48}}}])
        parents = {s["id"]: s["parent"] for s in metrics.op_spans(o, ev)}
        self.assertEqual(parents["job7"], "ph2")
        self.assertEqual(parents["stage3.0"], "job7")
        self.assertEqual(parents["sql0.analysis"], "ph1")
        self.assertEqual(parents["sql0.planning"], "ph2")


class EndToEndTest(unittest.TestCase):
    def test_medians_over_untraced_passes(self):
        def timed(walls_ms, heap, traced=False):
            ops, t = [], 0
            for w in walls_ms:
                ops.append(op(t, t + w, []))
                t += w
            return {"traced": traced, "ops": ops, "heap_after_mb": heap}
        raw = {"setup_s": [9.0, 1.0, 3.0, 2.0], "peak_rss_mb": 900.0,
               "passes": [timed([1000, 500], 80.0), timed([3000], 99.0, traced=True),
                          timed([1000, 1000], 90.0), timed([400, 400], 70.0)]}
        m, extra = metrics.end_to_end(raw)
        self.assertEqual(m["setup_s"], (2.0, "s"))
        self.assertEqual(extra["setup_cold_s"], (9.0, "s"))
        self.assertAlmostEqual(m["wall_s"][0], 1.5)
        # Per operation (all named "q" here, so one median over six walls):
        # the median of 1.0, 0.5, 1.0, 1.0, 0.4, 0.4 s is 0.75 s.
        self.assertAlmostEqual(m["thread_cpu_s"][0], 1.5)
        self.assertAlmostEqual(m["alloc_mb"][0], 75.0)
        self.assertEqual(m["live_heap_mb"], (80.0, "MB"))
        self.assertEqual(extra["passes"], (3, "count"))

    def test_sum_of_op_medians_ignores_a_burst_in_one_pass(self):
        def pass_(a, b):
            return {"ops": [op(0, a, [], name="a"), op(a, a + b, [], name="b")]}
        passes = [pass_(1000, 200), pass_(1500, 200), pass_(1000, 900), pass_(1100, 210)]
        secs = lambda o: (o["end_ms"] - o["start_ms"]) / 1e3
        # a: median of 1.0, 1.5, 1.0, 1.1 = 1.05; b: of 0.2, 0.2, 0.9, 0.21 = 0.205.
        self.assertAlmostEqual(metrics.sum_of_op_medians(passes, secs), 1.255)


class TracedLayersTest(unittest.TestCase):
    def test_per_pass_totals(self):
        o = op(0, 1000, [("queries.construct", 0, 600), ("action", 600, 1000)])
        ev = {"jobs": [job(1, 1, 100, 300), job(2, 2, 650, 950)], "stages": [],
              "plans": [], "tasks": [{"stage": 0, "attempt": 0, "tasks": 8, "failed": 0,
                                      "run_ms": 1200, "cpu_ns": 10 ** 9, "gc_ms": 0,
                                      "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                                      "spill_bytes": 0, "peak_exec_mem_bytes": 0}]}
        raw = {"passes": [{"traced": False, "ops": [op(0, 1100, [])]},
                          {"traced": True, "ops": [o], "events": ev, "gc_s": 0.0,
                           "heap_after_mb": 10.0, "classes_loaded": 150}]}
        m, problems = metrics.traced_layers(raw)
        self.assertEqual(problems, [])
        self.assertAlmostEqual(m["queries.construct_s"], 0.6)
        self.assertEqual(m["queries.construct_jobs"], 1)
        self.assertAlmostEqual(m["scheduler.job_wall_s"], 0.5)
        self.assertAlmostEqual(m["scheduler.driver_gap_s"], 0.5)
        self.assertAlmostEqual(m["executor.busy_ratio"], 1.2 / (0.5 * metrics.CORES))
        self.assertAlmostEqual(m["self.construct_s"], 0.4)
        self.assertEqual(m["jvm.classes_loaded"], 150)
        self.assertAlmostEqual(m["trace.overhead_ratio"], 1.0 / 1.1 - 1)


if __name__ == "__main__":
    unittest.main()
