import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


def span(i, name, parent, start, end, op=0):
    return {"id": i, "name": name, "parent": parent, "op": op, "start": start, "end": end}


class TailTest(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(metrics.tail(list(range(10))))
        self.assertEqual(metrics.tail(list(range(11))), (0.0, 0))

    def test_ten_samples_beyond(self):
        xs = [float(i) for i in range(100, 0, -1)]  # 1..100, unsorted
        p, v = metrics.tail(xs)
        self.assertEqual(v, 90.0)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(p, 100.0 * 89 / 99)

    def test_grows_towards_the_top_with_more_samples(self):
        p1, _ = metrics.tail(list(range(20)))
        p2, _ = metrics.tail(list(range(1000)))
        self.assertLess(p1, p2)
        self.assertAlmostEqual(p1, 100.0 * 9 / 19)


class SelfTimeTest(unittest.TestCase):
    spans = [
        span(0, "op", -1, 0.0, 10.0),
        span(1, "to_store", 0, 1.0, 7.0),
        span(2, "streaming.start", 1, 1.0, 2.5),
        span(3, "streaming.query", 1, 2.5, 6.5),
        span(4, "store_read", 0, 7.0, 9.0),
    ]

    def test_self_time_subtracts_direct_children_only(self):
        st = metrics.self_times(self.spans)
        self.assertAlmostEqual(st[0], 10.0 - 6.0 - 2.0)
        self.assertAlmostEqual(st[1], 6.0 - 1.5 - 4.0)
        self.assertAlmostEqual(st[2], 1.5)
        self.assertAlmostEqual(st[4], 2.0)

    def test_self_times_add_up_to_the_root(self):
        self.assertAlmostEqual(sum(metrics.self_times(self.spans).values()), 10.0)

    def test_subtree(self):
        self.assertEqual(sorted(metrics.subtree(self.spans, 1)), [1, 2, 3])
        self.assertEqual(sorted(metrics.subtree(self.spans, 0)), [0, 1, 2, 3, 4])


if __name__ == "__main__":
    unittest.main()
