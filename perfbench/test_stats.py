"""Tests of the benchmark's own arithmetic.

    python3 perfbench/test_stats.py
"""

import json
import math
import unittest
from pathlib import Path

import stats

ROOT = Path(__file__).resolve().parent.parent


def op(i, wall, ok=True, traced=False, cpu=1.0):
    r = {"rec": "op", "i": i, "ok": ok, "traced": traced}
    if ok:
        r.update(wall_s=wall, cpu_s=cpu)
    else:
        r["why"] = "check failed"
    return r


def span(i, name, start, end, tasks, jobs=1, task_s=0.0, results=-1, read=0):
    return {"rec": "span", "phase": "op", "op": i, "name": name,
            "start_ms": start, "end_ms": end, "wall_s": (end - start) / 1000.0,
            "jobs": jobs, "task_s": task_s, "shuffle_mb": 0.5, "spill_mb": 0.0,
            "records_read": read, "results": results, "tasks": tasks}


class TailTest(unittest.TestCase):

    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(list(range(19))))
        p, value, beyond = stats.tail(list(range(1, 21)))
        self.assertEqual((p, value, beyond), (50.0, 10, 10))

    def test_picks_highest_level_with_ten_beyond(self):
        self.assertEqual(stats.tail(list(range(1, 101))), (90.0, 90, 10))
        self.assertEqual(stats.tail(list(range(1, 201))), (95.0, 190, 10))
        self.assertEqual(stats.tail(list(range(1, 1001))), (99.0, 990, 10))
        self.assertEqual(stats.tail(list(range(1, 10001))), (99.9, 9990, 10))

    def test_order_of_samples_does_not_matter(self):
        xs = [float(x) for x in range(100)]
        self.assertEqual(stats.tail(xs), stats.tail(list(reversed(xs))))


class IdleTest(unittest.TestCase):

    def test_union_of_overlapping_and_nested_intervals(self):
        self.assertEqual(stats.busy_ms([(0, 10), (5, 15), (6, 7), (20, 30)], 0, 100), 25)

    def test_intervals_clipped_to_span(self):
        self.assertEqual(stats.busy_ms([(-5, 5), (95, 120), (200, 300)], 0, 100), 10)

    def test_touching_intervals_count_once(self):
        self.assertEqual(stats.busy_ms([(0, 10), (10, 20)], 0, 20), 20)

    def test_no_tasks_is_all_idle(self):
        s = span(0, "x", 1000, 3000, [])
        self.assertAlmostEqual(stats.idle_s(s), 2.0)

    def test_idle_is_wall_minus_busy_union(self):
        s = span(0, "x", 1000, 3000, [(1000, 1500), (1200, 1800), (2500, 2600)])
        self.assertAlmostEqual(stats.idle_s(s), 2.0 - 0.9)


class FailedOpTest(unittest.TestCase):

    def records(self):
        return [
            {"rec": "setup", "session_s": 1.0, "phases": {"generate_s": 0.5, "warmup_s": 2.0}},
            op(0, 1.0, cpu=2.0),
            op(1, None, ok=False),
            op(2, 3.0, cpu=4.0),
            op(3, 2.0, cpu=3.0),
            {"rec": "tasks", "peak_exec_mem_mb": 12.5, "jobs": 9, "ops": 4},
        ]

    def test_failed_ops_are_counted_not_timed(self):
        recs = self.records()
        self.assertEqual(stats.op_counts(recs), (4, 1))
        m = stats.end_to_end(recs)
        self.assertEqual(m["op_p50_s"], 2.0)
        self.assertEqual(m["op_cpu_s"], 3.0)
        self.assertEqual(m["setup_s"], 3.5)

    def test_all_failed_gives_no_metrics(self):
        recs = [r for r in self.records() if r["rec"] != "op"] + [op(0, None, ok=False)]
        with self.assertRaises(ValueError):
            stats.end_to_end(recs)

    def test_spans_of_failed_traced_op_are_excluded(self):
        recs = [
            op(0, 1.0, traced=True), span(0, "a", 0, 1000, [(0, 500)], jobs=2,
                                           results=10, read=30),
            op(1, 0.8),
            op(2, None, ok=False, traced=True), span(2, "a", 0, 9000, [], jobs=50),
        ]
        m = stats.per_layer(recs)
        self.assertEqual(m["op.jobs"], 2)
        self.assertAlmostEqual(m["op.idle_s"], 0.5)
        self.assertAlmostEqual(m["op.rows_read_per_result"], 3.0)
        self.assertEqual(stats.span_table(recs)["a"]["calls"], 1)
        traced, plain, ratio = stats.tracing_overhead(recs)
        self.assertEqual((traced, plain), (1.0, 0.8))
        self.assertAlmostEqual(ratio, 0.25)

    def test_detail_spans_stay_out_of_op_sums(self):
        detail = span(0, "b", 1000, 5000, [(1000, 5000)], jobs=40)
        detail["phase"] = "detail"
        recs = [op(0, 1.0, traced=True),
                span(0, "a", 0, 1000, [(0, 500)], jobs=2, results=10, read=30),
                detail]
        m = stats.per_layer(recs)
        self.assertEqual(m["op.jobs"], 2)
        self.assertAlmostEqual(m["op.wall_s"], 1.0)
        self.assertEqual(stats.span_table(recs)["b"]["jobs"], 40)


class NameTest(unittest.TestCase):

    def test_valid_names(self):
        for name in ("setup_s", "op.rows_read_per_result", "p99-ms", "9lives"):
            self.assertTrue(stats.valid_name(name), name)

    def test_invalid_names(self):
        for name in ("", "_x", ".x", "a b", "a/b", "é", "x" * 65, "a:b"):
            self.assertFalse(stats.valid_name(name), name)

    def test_result_metric_names_are_valid(self):
        for name in list(stats.END_TO_END_UNITS) + list(stats.PER_LAYER_UNITS):
            self.assertTrue(stats.valid_name(name), name)

    def test_benchmark_json_matches_result_metrics(self):
        bench = json.loads((ROOT / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         stats.END_TO_END_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         stats.PER_LAYER_UNITS)
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer")
                 for m in bench[k]]
        self.assertEqual(len(names), len(set(names)))
        self.assertTrue(all(stats.valid_name(n) for n in names))
        for m in bench["end_to_end"]:
            self.assertTrue(0 < m["bound"] <= 0.25, m)


class MedianTest(unittest.TestCase):

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        self.assertTrue(math.isclose(stats.median([0.1, 0.2]), 0.15))


if __name__ == "__main__":
    unittest.main()
