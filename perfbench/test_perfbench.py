"""Tests of the benchmark's own arithmetic: the percentile rule, deadline
and failure accounting, and span self time.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_interpolates(self):
        xs = list(range(1, 101))            # 1..100
        self.assertAlmostEqual(stats.percentile(xs, 0.5), 50.5)
        self.assertAlmostEqual(stats.percentile(xs, 0.9), 90.1)
        self.assertAlmostEqual(stats.percentile(xs, 0.99), 99.01)
        self.assertEqual(stats.percentile(xs, 1.0), 100)
        self.assertEqual(stats.percentile(xs, 0.0), 1)
        # the rule of Python's inclusive quantiles (and numpy's default)
        ys = [3, 40, 41, 42, 90, 400]
        self.assertAlmostEqual(stats.percentile(ys, 0.9),
                               statistics.quantiles(ys, n=10, method="inclusive")[8])

    def test_order_does_not_matter(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 0.5), 3)

    def test_small_samples(self):
        self.assertEqual(stats.percentile([7], 0.9), 7)
        self.assertEqual(stats.percentile([1, 2], 0.5), 1.5)
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)

    def test_samples_beyond(self):
        # p90 of 100 samples leaves exactly ten above it, of 130 thirteen,
        # and p99 of 1000 ten
        for n, p, above in ((100, 0.9, 10), (130, 0.9, 13), (1000, 0.99, 10), (99, 0.9, 10)):
            v = stats.percentile(list(range(n)), p)
            self.assertEqual(sum(x > v for x in range(n)), above)


def batch_op(pass_, key, start, end, ok=True, cause="", timed_out=False):
    return {"id": f"p{pass_}:{key}", "pass": pass_, "key": key,
            "start_ms": start, "built_ms": start, "end_ms": end, "ok": ok,
            "cause": cause, "timed_out": timed_out}


class FailureAccounting(unittest.TestCase):
    def res(self, ops):
        return {"kind": "batch", "ops": ops, "setup_s": [3.0, 1.0, 2.0]}

    def test_capped_and_failed_time_count(self):
        # the harness caps a passed deadline at start + deadline; a key that
        # throws counts the time it took
        ops = [batch_op(1, "a", 0, 100), batch_op(1, "b", 100, 5100, ok=False,
                                                      cause="deadline", timed_out=True),
               batch_op(1, "c", 5100, 5150, ok=False, cause="java.lang.X: boom"),
               batch_op(2, "a", 6000, 6010), batch_op(2, "b", 6010, 11010, ok=False,
                                                       timed_out=True),
               batch_op(2, "c", 11010, 11030)]
        m = stats.end_to_end(self.res(ops))
        self.assertAlmostEqual(m["cold_s"]["value"], 5.15)
        self.assertAlmostEqual(m["warm_s"]["value"], 5.03)
        self.assertEqual(m["setup_s"]["value"], 2.0)        # median of set-ups
        self.assertEqual(m["p50_ms"]["value"], 20)      # keys a, c, b at 10, 20, 5000
        self.assertAlmostEqual(m["p90_ms"]["value"], 4004)  # the capped time counts

    def test_batch_percentiles_pool_warm_passes(self):
        ops = [batch_op(1, "a", 0, 50), batch_op(1, "b", 50, 100)]
        t = 100
        for p in (2, 3, 4):
            for k, d in (("a", 10 * p), ("b", 100 + p)):
                ops.append(batch_op(p, k, t, t + d))
                t += 1000
        m = stats.end_to_end(self.res(ops))
        # pass 1 is left out; samples 20, 30, 40, 102, 103, 104
        self.assertAlmostEqual(m["p50_ms"]["value"], 71)
        self.assertAlmostEqual(m["p90_ms"]["value"], 103.5)

    def test_warm_is_median_pass(self):
        ops = [batch_op(1, "a", 0, 50)]
        t = 100
        for p, d in ((2, 10), (3, 30), (4, 20)):
            ops.append(batch_op(p, "a", t, t + d))
            t += 100
        m = stats.end_to_end(self.res(ops))
        self.assertAlmostEqual(m["warm_s"]["value"], 0.02)
        self.assertTrue(all(v["unit"] for v in m.values()))

    def test_warm_sums_per_key_medians(self):
        # a stall in one pass of one key moves no median: pass sums 60, 150
        # and 510 (median 150), per-key medians 10 and 50
        ops, t = [batch_op(1, "a", 0, 50), batch_op(1, "b", 50, 100)], 100
        for p, da, db in ((2, 10, 50), (3, 100, 50), (4, 10, 500)):
            ops += [batch_op(p, "a", t, t + da), batch_op(p, "b", t + da, t + da + db)]
            t += 1000
        m = stats.end_to_end(self.res(ops))
        self.assertAlmostEqual(m["warm_s"]["value"], 0.06)

    def test_serving_warm_per_class_across_sequences(self):
        def req(phase, rnd, cls, start, end):
            return {"id": f"{phase}{rnd}:{cls}", "phase": phase, "class": cls,
                    "start_ms": start, "end_ms": end}
        ops = [req("cold", 0, "point", 0, 500), req("cold", 0, "metric", 500, 3000)]
        for rnd, (dp, dm) in enumerate(((100, 900), (300, 600), (120, 700)), start=1):
            ops += [req("warm", rnd, "point", 0, dp), req("warm", rnd, "metric", 0, dm)]
        ops += [{"id": f"load0:{j}", "phase": "load", "class": "point", "due_ms": 10.0 * j,
                 "start_ms": 10.0 * j + 1, "end_ms": 10.0 * j + 50 + j} for j in range(10)]
        m = stats.end_to_end({"kind": "serving", "ops": ops, "setup_s": [2.0, 1.0, 1.5]})
        self.assertAlmostEqual(m["cold_s"]["value"], 3.0)
        self.assertAlmostEqual(m["warm_s"]["value"], 0.82)     # 120 + 700 ms
        self.assertAlmostEqual(m["p50_ms"]["value"], 54.5)      # 50..59 from due time
        self.assertAlmostEqual(m["p90_ms"]["value"], 58.1)

    def test_load_latency_from_due_time(self):
        op = {"phase": "load", "due_ms": 100.0, "start_ms": 180.0, "end_ms": 200.0}
        self.assertEqual(stats.op_ms(op), 100.0)


class TracedRun(unittest.TestCase):
    def test_jobs_by_group_and_overhead(self):
        ops = [batch_op(1, "a", 0, 100), batch_op(2, "a", 200, 230),
               batch_op(3, "a", 300, 340)]
        job = lambda g, a, b: {"group": g, "start_ms": a, "end_ms": b, "stages": [
            {"tasks": 2, "failed_tasks": 0, "task_ms": 40, "input_bytes": 0,
             "shuffle_write": 0, "shuffle_read": 0, "fetch_wait_ms": 0,
             "spill_bytes": 0}]}
        res = {"kind": "batch", "ops": ops, "setup_s": [1.0], "cpus": 4,
               "module": {"a": "Relational"}, "memo": {}, "peak_rss_mb": 1.0,
               "jvm": {"gc_s": 0.0, "heap_peak_mb": 1.0},
               # a late job of pass 2 still lands in pass 2 by its group
               "trace": {"jobs": [job("pb:p1:a", 10, 60), job("pb:p2:a", 210, 220),
                                  job("pb:p3:a", 305, 325)],
                         "queries": [], "progress": []}}
        m, spans = stats.per_layer(res, {}, untraced_warm_s=0.03)
        self.assertEqual(m["spark.jobs.cold"]["value"], 1)
        self.assertEqual(m["spark.jobs.warm"]["value"], 1)        # per warm pass
        self.assertAlmostEqual(m["spark.job_wall_s.warm"]["value"], 0.015)
        self.assertAlmostEqual(m["spark.slot_use.warm"]["value"], 0.08 / (0.03 * 4))
        self.assertAlmostEqual(m["mod.Relational_s.warm"]["value"], 0.035)
        # warm_s of the traced run is the key's median across passes, 35 ms,
        # vs 30 untraced
        self.assertAlmostEqual(m["trace.overhead_s"]["value"], 0.005)
        self.assertEqual(sum(sp["name"] == "spark.job" for sp in spans), 3)


class SelfTime(unittest.TestCase):
    @staticmethod
    def sp(i, a, b, parent=0):
        return {"id": i, "name": f"s{i}", "start_ms": a, "end_ms": b, "parent": parent, "op": "x"}

    def test_children_subtract(self):
        spans = [self.sp(1, 0, 100), self.sp(2, 10, 30, 1), self.sp(3, 50, 60, 1)]
        st = stats.self_times(spans)
        self.assertEqual(st, {1: 70, 2: 20, 3: 10})

    def test_overlapping_children_merge(self):
        spans = [self.sp(1, 0, 100), self.sp(2, 10, 50, 1), self.sp(3, 40, 70, 1)]
        self.assertEqual(stats.self_times(spans)[1], 40)

    def test_children_clipped_to_parent(self):
        spans = [self.sp(1, 0, 100), self.sp(2, 90, 130, 1), self.sp(3, -20, 5, 1)]
        self.assertEqual(stats.self_times(spans)[1], 85)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [self.sp(1, 0, 100), self.sp(2, 0, 60, 1), self.sp(3, 10, 40, 2)]
        st = stats.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (40, 30, 30))
        self.assertTrue(math.isclose(sum(st.values()), 100))


if __name__ == "__main__":
    unittest.main()
