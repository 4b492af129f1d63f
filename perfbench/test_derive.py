"""Tests of the benchmark's derived numbers.

Run from the root of a checkout:  python3 -m unittest perfbench/test_derive.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import derive  # noqa: E402


def span(start, end, **kw):
    return dict(kw, start=start, end=end)


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertAlmostEqual(derive.self_time(span(0, 5), []), 5)

    def test_disjoint_children(self):
        self.assertAlmostEqual(
            derive.self_time(span(0, 10), [span(1, 3), span(5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        # concurrent jobs (checkpointPar) overlap; their union is 1..6
        self.assertAlmostEqual(
            derive.self_time(span(0, 10), [span(1, 4), span(2, 6)]), 5)

    def test_children_clipped_to_parent(self):
        # a job whose end event lands after its span closed
        self.assertAlmostEqual(
            derive.self_time(span(2, 8), [span(0, 3), span(7, 12)]), 4)


class Percentiles(unittest.TestCase):
    def test_median(self):
        self.assertEqual(derive.median([3, 1, 2]), 2)
        self.assertEqual(derive.median([4, 1, 2, 3]), 2.5)
        self.assertEqual(derive.median([]), 0.0)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(derive.tail(list(range(19))))
        # 20 samples: p50 has exactly ten beyond it
        p, v, n = derive.tail(list(range(1, 21)))
        self.assertEqual((p, v, n), (50.0, 10, 20))

    def test_tail_picks_highest_qualifying(self):
        xs = list(range(1, 101))
        p, v, n = derive.tail(xs)
        self.assertEqual((p, n), (90.0, 100))
        self.assertEqual(v, 90)
        p, v, n = derive.tail(list(range(1, 1001)))
        self.assertEqual((p, v, n), (99.0, 990, 1000))


class Ratios(unittest.TestCase):
    def test_yield(self):
        self.assertAlmostEqual(derive.yield_ratio(25, 1000), 0.025)
        self.assertEqual(derive.yield_ratio(25, 0), 0.0)

    def test_driver_s(self):
        self.assertAlmostEqual(derive.driver_s(4.0, 3.25), 0.75)
        # clock granularity can make job wall exceed the span slightly
        self.assertEqual(derive.driver_s(1.0, 1.002), 0.0)

    def test_steal_share(self):
        self.assertAlmostEqual(derive.steal_share((100, 10), (190, 20)), 0.1)
        self.assertEqual(derive.steal_share((5, 5), (5, 5)), 0.0)

    def test_clean_warm_drops_stolen_and_cold_passes(self):
        ps = [{"idx": 0, "traced": False, "steal": 0.0},
              {"idx": 1, "traced": False, "steal": 0.01},
              {"idx": 2, "traced": True, "steal": 0.0},
              {"idx": 3, "traced": False, "steal": 0.05}]
        clean, warm = derive.clean_warm(ps, 0.02)
        self.assertEqual([p["idx"] for p in clean], [1])
        self.assertEqual([p["idx"] for p in warm], [1, 3])

    def test_clean_warm_falls_back_to_every_warm_pass(self):
        ps = [{"idx": 1, "traced": False, "steal": 0.3},
              {"idx": 2, "traced": False, "steal": 0.2}]
        self.assertEqual(derive.clean_warm(ps, 0.02)[0], ps)

    def test_union_length(self):
        self.assertAlmostEqual(derive.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertAlmostEqual(derive.union_length([(0, 2), (1, 3)], lo=1, hi=2.5), 1.5)
        self.assertEqual(derive.union_length([]), 0)


def trace_record():
    """One traced warm pass with a query that runs two construct jobs
    (overlapping) and one exec job, planned 0.1 s into its write."""
    ms = 1_000_000  # ns per ms
    base = 1_000_000  # ms
    spans = [
        {"id": 0, "parent": -1, "name": "workload", "kind": "workload",
         "start_ns": base * ms, "end_ns": (base + 5000) * ms, "attrs": {}},
        {"id": 1, "parent": 0, "name": "pass:1", "kind": "pass",
         "start_ns": base * ms, "end_ns": (base + 5000) * ms, "attrs": {}},
        {"id": 2, "parent": 1, "name": "query:q", "kind": "query",
         "start_ns": (base + 100) * ms, "end_ns": (base + 4100) * ms,
         "attrs": {"seams": 2, "seam_bytes": 4096}},
        {"id": 3, "parent": 2, "name": "construct", "kind": "construct",
         "start_ns": (base + 100) * ms, "end_ns": (base + 2100) * ms, "attrs": {}},
        {"id": 4, "parent": 2, "name": "write", "kind": "write",
         "start_ns": (base + 2100) * ms, "end_ns": (base + 4000) * ms, "attrs": {}},
    ]

    def job(i, a, b, **kw):
        j = {"job": i, "start_ms": base + a, "end_ms": base + b, "stages": 1, "tasks": 4,
             "task_ms": 400, "cpu_ns": 300 * ms, "gc_ms": 10, "input_bytes": 100,
             "input_rows": 10, "output_bytes": 0, "output_rows": 0,
             "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
             "peak_mem_bytes": 7, "failed": False}
        j.update(kw)
        return j
    jobs = [job(0, 200, 900), job(1, 500, 1300), job(2, 2300, 3900, stages=2)]
    phases = {"analysis": {"start_ms": base + 2100, "end_ms": base + 2120},
              "optimization": {"start_ms": base + 2120, "end_ms": base + 2170},
              "planning": {"start_ms": base + 2170, "end_ms": base + 2200}}
    sqls = [{"func": "save", "duration_ns": 1, "failed": False, "phases": phases,
             "exchanges": 3, "join_rows": 400},
            {"func": "checkpoint", "duration_ns": 1, "failed": False,
             "phases": {"planning": {"start_ms": base + 150, "end_ms": base + 190}},
             "exchanges": 1, "join_rows": 600}]
    return {"engine_session_s": 1.5,
            "passes": [{"idx": 1, "traced": True, "wall_s": 5.0, "cpu_s": 9.0}],
            "trace": {"spans": spans, "jobs": jobs, "sqls": sqls}}


class Layers(unittest.TestCase):
    def setUp(self):
        self.lay = derive.layers(trace_record(), {"query:q": 50})

    def test_construct(self):
        q = self.lay["queries"]["query:q"][1]
        self.assertAlmostEqual(q["construct.s"], 2.0)
        self.assertEqual(q["construct.jobs"], 2)
        # jobs cover 0.2-1.3 s of the span, overlapping
        self.assertAlmostEqual(q["construct.job_wall_s"], 1.1)
        self.assertAlmostEqual(q["construct.driver_s"], 0.9)
        self.assertEqual((q["construct.seams"], q["construct.seam_bytes"]), (2, 4096))

    def test_plan_and_exec(self):
        q = self.lay["queries"]["query:q"][1]
        self.assertAlmostEqual(q["plan.optimization_s"], 0.05)
        self.assertEqual(q["plan.exchanges"], 3)
        self.assertAlmostEqual(q["exec.s"], 1.8)
        self.assertEqual((q["exec.jobs"], q["exec.stages"]), (1, 2))

    def test_yield_counts_joins_of_every_execution(self):
        q = self.lay["queries"]["query:q"][1]
        self.assertEqual(q["exec.join_out_rows"], 1000)
        self.assertAlmostEqual(q["exec.yield"], 0.05)

    def test_self_times_account_for_wall(self):
        spans = {s["name"]: s for s in self.lay["spans"] if s["kind"] != "job"}
        q = spans["query:q"]
        parts = sum(c["end"] - c["start"] for c in q["children"])
        self.assertAlmostEqual(parts + q["self"], q["end"] - q["start"])
        self.assertAlmostEqual(q["self"], 0.1)
        self.assertAlmostEqual(spans["construct"]["self"], 0.9)

    def test_workload_values(self):
        w = self.lay["workload"]
        self.assertEqual(w["engine.session_s"], 1.5)
        self.assertEqual(w["sources.scan_rows"], 30)
        self.assertAlmostEqual(w["trace.unattributed_s"], 0.1)
        self.assertEqual(set(w), {name for name, _ in derive.PER_LAYER})


if __name__ == "__main__":
    unittest.main()
