"""Unit tests of the benchmark's arithmetic: python3 perfbench/test_stats.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertEqual(stats.tail_quantile(100), 0.9)
        self.assertEqual(stats.tail_quantile(1000), 0.9)
        # 50 samples: only the 80th percentile has 10 beyond it
        self.assertAlmostEqual(stats.tail_quantile(50), 0.8)
        self.assertAlmostEqual(50 * (1 - stats.tail_quantile(50)), 10)

    def test_never_below_the_median(self):
        self.assertEqual(stats.tail_quantile(12), 0.5)
        self.assertEqual(stats.tail_quantile(1), 0.5)

    def test_tail_value_interpolates(self):
        xs = list(range(1, 101))  # 1..100
        v, q, n = stats.tail(xs)
        self.assertEqual((q, n), (0.9, 100))
        self.assertAlmostEqual(v, 90.1)
        self.assertEqual(stats.quantile([3.0, 1.0, 2.0], 0.5), 2.0)
        self.assertEqual(stats.quantile([1.0, 2.0], 0.5), 1.5)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, name, start, end, task_s=0.0):
        return {"id": i, "parent": parent, "name": name, "start": start, "end": end,
                "spark": {"task_s": task_s}}

    def test_direct_children_are_subtracted(self):
        spans = [self.span(0, -1, "lake", 0.0, 10.0),
                 self.span(1, 0, "plan", 1.0, 3.0),
                 self.span(2, 0, "exec", 3.0, 6.0),
                 self.span(3, 2, "kernels", 4.0, 5.0)]
        t = stats.self_times(spans)
        self.assertAlmostEqual(t["lake"], 10.0 - 2.0 - 3.0)
        self.assertAlmostEqual(t["plan"], 2.0)
        self.assertAlmostEqual(t["exec"], 2.0)
        self.assertAlmostEqual(t["kernels"], 1.0)
        # self times add up to the root spans' time
        self.assertAlmostEqual(sum(t.values()), 10.0)

    def test_same_name_spans_sum(self):
        spans = [self.span(0, -1, "plan", 0.0, 1.0), self.span(1, -1, "plan", 2.0, 2.5)]
        self.assertAlmostEqual(stats.self_times(spans)["plan"], 1.5)

    def test_self_task_time(self):
        # task time inside a lake span but outside its exec child is the lake's
        spans = [self.span(0, -1, "lake", 0.0, 4.0, task_s=7.0),
                 self.span(1, 0, "exec", 1.0, 3.0, task_s=5.0)]
        t = stats.self_times(spans, lambda s: s["spark"]["task_s"])
        self.assertAlmostEqual(t["lake"], 2.0)
        self.assertAlmostEqual(t["exec"], 5.0)


class Ratios(unittest.TestCase):
    def test_ratio_of_no_work_is_zero(self):
        self.assertEqual(stats.ratio(5.0, 0.0), 0.0)
        self.assertEqual(stats.ratio(3.0, 4.0), 0.75)

    def test_parallelism(self):
        # 6 task-seconds in 2 s of exec on 4 cores: 75% of the cores busy
        self.assertAlmostEqual(stats.ratio(6.0, 2.0 * 4), 0.75)


if __name__ == "__main__":
    unittest.main()
