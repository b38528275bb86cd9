"""Unit tests for the bench arithmetic: python3 -m unittest discover perfbench/tests"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


def span(id, parent, name, start, end):
    return {"id": id, "parent": parent, "name": name,
            "start_ns": int(start * 1e9), "end_ns": int(end * 1e9)}


class SummaryTest(unittest.TestCase):
    def test_odd_sample(self):
        s = stats.summary([5, 1, 3, 2, 4])
        self.assertEqual(s["median"], 3)
        self.assertEqual((s["q1"], s["q3"]), (1.5, 4.5))
        self.assertEqual(s["n"], 5)

    def test_even_sample_matches_statistics_quantiles(self):
        xs = [2.0, 9.0, 4.0, 7.0, 1.0, 3.0, 8.0, 6.0, 5.0, 10.0]
        s = stats.summary(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertEqual(s["median"], 5.5)
        self.assertEqual((s["q1"], s["q3"]), (q1, q3))

    def test_single_value_is_its_own_quartiles(self):
        self.assertEqual(stats.summary([2.5]),
                         {"median": 2.5, "q1": 2.5, "q3": 2.5, "n": 1})

    def test_empty_sample_is_refused(self):
        with self.assertRaises(ValueError):
            stats.summary([])


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([span(0, -1, "a", 1.0, 3.5)]), [("a", 2.5)])

    def test_children_are_subtracted_once_when_they_overlap(self):
        spans = [span(0, -1, "root", 0.0, 10.0),
                 span(1, 0, "c1", 1.0, 4.0),
                 span(2, 0, "c2", 3.0, 5.0),    # overlaps c1 by 1 s
                 span(3, 0, "c3", 8.0, 12.0),   # runs past the parent's end
                 span(4, 1, "grandchild", 1.5, 2.0)]
        got = dict(stats.self_times(spans))
        self.assertAlmostEqual(got["root"], 10.0 - 4.0 - 2.0)
        self.assertAlmostEqual(got["c1"], 3.0 - 0.5)
        self.assertAlmostEqual(got["c2"], 2.0)
        self.assertAlmostEqual(got["grandchild"], 0.5)

    def test_grouped_by_name_in_span_order(self):
        spans = [span(0, -1, "x", 0, 1), span(1, -1, "y", 1, 3), span(2, -1, "x", 3, 6)]
        self.assertEqual(stats.self_time_by_name(spans), {"x": [1.0, 3.0], "y": [2.0]})


class StampTest(unittest.TestCase):
    def stamp(self, **kw):
        s = {"bench": 1, "workload": "flagship", "seconds": 12, "trace": 0, "nproc": 4,
             "input": {"convs": 4000, "mega_turns": 2000}, "jvm_options": ["-Xmx7g"],
             "seed": 1, "revision": "abc"}
        s.update(kw)
        return s

    def test_equal_stamps_compare_even_across_revisions_and_seeds(self):
        stats.check_comparable(self.stamp(), self.stamp(revision="def", seed=2))

    def test_differing_core_count_is_refused(self):
        with self.assertRaisesRegex(stats.StampError, "nproc"):
            stats.check_comparable(self.stamp(), self.stamp(nproc=32))

    def test_differing_input_is_refused(self):
        with self.assertRaisesRegex(stats.StampError, "input"):
            stats.check_comparable(self.stamp(), self.stamp(input={"convs": 40000}))

    def test_missing_stamp_is_refused(self):
        bare = self.stamp()
        del bare["nproc"]
        with self.assertRaisesRegex(stats.StampError, "lacks nproc"):
            stats.check_comparable(bare, self.stamp())
        with self.assertRaisesRegex(stats.StampError, "lacks"):
            stats.check_comparable(self.stamp(), {})


if __name__ == "__main__":
    unittest.main()
