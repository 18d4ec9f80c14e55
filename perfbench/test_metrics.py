"""Self-tests of the harness arithmetic. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import metrics


def span(id, parent, start, end, kind="layer", **attrs):
    return {"id": id, "parent": parent, "name": f"s{id}", "kind": kind,
            "start_ms": start, "end_ms": end, "attrs": attrs}


class Percentile(unittest.TestCase):
    def test_median_needs_ten_samples_beyond(self):
        self.assertEqual(metrics.percentile(list(range(1, 21)), 0.5), 10)
        with self.assertRaises(ValueError):
            metrics.percentile(list(range(1, 20)), 0.5)

    def test_p90_needs_a_hundred_samples(self):
        self.assertEqual(metrics.percentile(list(range(1, 101)), 0.9), 90)
        with self.assertRaises(ValueError):
            metrics.percentile(list(range(1, 100)), 0.9)

    def test_p99_refused_below_a_thousand(self):
        with self.assertRaises(ValueError):
            metrics.percentile(list(range(999)), 0.99)


class SelfTime(unittest.TestCase):
    def test_overlapping_child_jobs_count_once(self):
        spans = [span(1, 0, 0, 100),
                 span(2, 1, 10, 40, kind="job"),
                 span(3, 1, 30, 60, kind="job"),   # overlaps job 2 by 10
                 span(4, 1, 90, 130, kind="job")]  # runs past its parent's end
        st = metrics.self_times(spans)
        # covered: [10, 60] + [90, 100] = 60
        self.assertEqual(st[1], 40)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[4], 40)

    def test_nested_layers(self):
        spans = [span(1, 0, 0, 50), span(2, 1, 5, 45), span(3, 2, 10, 20, kind="job")]
        st = metrics.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (10, 30, 10))
        self.assertEqual({s["id"] for s in metrics.descendants(spans, 1)}, {2, 3})

    def test_union_clips_to_bounds(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 30)], 8, 25), 12)


if __name__ == "__main__":
    unittest.main()
