"""Tests for the benchmark's own arithmetic: python3 -m unittest
discover -s perfbench -p 'test_*.py'"""
import unittest

import metrics as m


def trig(batch, start_off, end_off, ts_ms, exec_ms):
    return {"batch": batch, "start_off": start_off, "end_off": end_off,
            "ts_ms": ts_ms, "dur": {"triggerExecution": exec_ms}}


class NearestRank(unittest.TestCase):
    def test_small_sets(self):
        self.assertEqual(m.nearest_rank([15, 20, 35, 40, 50], 30), 20)
        self.assertEqual(m.nearest_rank([15, 20, 35, 40, 50], 40), 20)
        self.assertEqual(m.nearest_rank([15, 20, 35, 40, 50], 50), 35)
        self.assertEqual(m.nearest_rank([15, 20, 35, 40, 50], 100), 50)

    def test_order_does_not_matter(self):
        self.assertEqual(m.nearest_rank([3, 1, 2], 50), 2)

    def test_p99_of_hundred(self):
        vals = list(range(1, 101))
        self.assertEqual(m.nearest_rank(vals, 99), 99)
        self.assertEqual(m.nearest_rank(vals, 50), 50)

    def test_tiny_p_is_minimum(self):
        self.assertEqual(m.nearest_rank([7, 9], 0.1), 7)

    def test_empty(self):
        with self.assertRaises(ValueError):
            m.nearest_rank([], 50)


class OffsetToTrigger(unittest.TestCase):
    triggers = [trig(0, -1, 2, 1000, 100), trig(1, 2, 3, 1100, 50),
                trig(2, 3, 7, 1200, 300)]

    def test_each_offset_maps_to_its_range(self):
        got = [m.committing_trigger(o, self.triggers)["batch"] for o in range(8)]
        self.assertEqual(got, [0, 0, 0, 1, 2, 2, 2, 2])

    def test_uncommitted_offset(self):
        self.assertIsNone(m.committing_trigger(8, self.triggers))

    def test_latency_from_due_time(self):
        # rate 1000/s: event k is due at t0 + k ms
        chunks = [[0, 0, 2, 1000.5], [3, 2, 1, 1101.0], [9, 3, 4, 1500.0]]
        lat, lost = m.event_latencies(chunks, self.triggers, 990.0, 1000.0)
        # chunk 0 -> trigger 0 ends 1100; chunk at offset 3 -> trigger 1
        # ends 1150; offset 9 was never committed
        self.assertEqual(lat, [110.0, 109.0, 158.0])
        self.assertEqual(lost, 4)

    def test_windowed_percentile_is_median_of_windows(self):
        # rate 1000/s, 10 ms windows: 10 events per window
        lat = list(range(10)) + [100 + x for x in range(10)] + [5] * 10
        self.assertEqual(m.windowed_percentile(lat, 1000.0, 10, 100), 9)
        self.assertEqual(m.windowed_percentile(lat, 1000.0, 10, 50), 5)

    def test_short_last_window_joins_previous(self):
        lat = [1] * 10 + [2] * 10 + [500] * 3
        self.assertEqual(m.windowed_percentile(lat, 1000.0, 10, 100), 250.5)
        self.assertEqual(m.windowed_percentile(lat, 1000.0, 10, 50), 1.5)

    def test_generator_lateness(self):
        late = m.generator_late_ms([[0, 0, 5, 1003.0], [1, 5, 5, 1009.0]], 1000.0, 1000.0)
        self.assertEqual(late, [3.0, 4.0])


class SelfTime(unittest.TestCase):
    def span(self, i, parent, s, e):
        return {"id": i, "parent": parent, "name": str(i), "start_ms": s, "end_ms": e}

    def test_disjoint_children(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 20),
                 self.span(2, 0, 50, 80)]
        self.assertEqual(m.self_time(spans[0], spans), 60)

    def test_overlap_counted_once_and_clipped(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 10, 40),
                 self.span(2, 0, 30, 60), self.span(3, 0, 90, 130)]
        self.assertEqual(m.self_time(spans[0], spans), 40)

    def test_grandchildren_do_not_count(self):
        spans = [self.span(0, -1, 0, 100), self.span(1, 0, 0, 10),
                 self.span(2, 1, 20, 90)]
        self.assertEqual(m.self_time(spans[0], spans), 90)

    def test_prefix_differences(self):
        got = m.prefix_self_ms([("parse", 1.0), ("validate", 1.5), ("route", 2.25)])
        self.assertEqual(got, {"parse": 1000.0, "validate": 500.0, "route": 750.0})


if __name__ == "__main__":
    unittest.main()
