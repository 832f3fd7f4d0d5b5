import statistics
import unittest

import stats


class SummaryTest(unittest.TestCase):
    def test_median_and_quartiles_match_statistics(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
        self.assertEqual(stats.median(xs), 4.0)
        q = statistics.quantiles(xs, n=4)
        self.assertEqual(stats.quartiles(xs), (q[0], q[2]))

    def test_quartiles_of_one_sample(self):
        self.assertEqual(stats.quartiles([2.5]), (2.5, 2.5))

    def test_no_tail_below_ten_samples_beyond(self):
        # 19 samples: even p50 has fewer than 10 beyond it
        self.assertIsNone(stats.tail(list(range(19))))

    def test_tail_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        p, v = stats.tail(xs)
        self.assertEqual(p, 90.0)  # 10 beyond p90, only 5 beyond p95
        self.assertEqual(v, 90)
        p, _ = stats.tail(list(range(1000)))
        self.assertEqual(p, 99.0)

    def test_summary_reports_count_and_tail_only_when_admissible(self):
        s = stats.summary([1.0, 2.0, 3.0])
        self.assertEqual(s["n"], 3)
        self.assertEqual(set(s), {"median", "q1", "q3", "n"})
        s = stats.summary([float(i) for i in range(40)])
        self.assertIn("p75", s)


class SpanTest(unittest.TestCase):
    def span(self, id_, parent, start, end, kind="call"):
        return {"id": id_, "parent": parent, "start_us": start,
                "end_us": end, "kind": kind, "name": f"s{id_}"}

    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(stats.union_length(
            [(0, 10), (5, 15), (20, 25), (30, 30), (24, 26)]), 21)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_covered_children_once(self):
        parent = self.span(0, -1, 0, 100)
        kids = [self.span(1, 0, 10, 40), self.span(2, 0, 30, 50),
                self.span(3, 0, 90, 120)]  # overlapping, and past the end
        self.assertEqual(stats.self_time(parent, kids), 100 - 40 - 10)

    def test_with_self_times_uses_direct_children(self):
        spans = [self.span(0, -1, 0, 1_000_000),
                 self.span(1, 0, 0, 500_000),
                 self.span(2, 1, 0, 400_000, kind="job")]
        out = {s["id"]: s["self_s"] for s in stats.with_self_times(spans)}
        self.assertAlmostEqual(out[0], 0.5)
        self.assertAlmostEqual(out[1], 0.1)
        self.assertAlmostEqual(out[2], 0.4)

    def test_driver_gap_is_wall_minus_union_of_jobs(self):
        spans = [self.span(0, -1, 0, 1_000_000),          # a call
                 self.span(1, 0, 100_000, 300_000, "job"),
                 self.span(2, 0, 200_000, 400_000, "job"),
                 self.span(3, 0, 500_000, 600_000, "call"),  # nested call
                 self.span(4, 3, 500_000, 550_000, "job")]
        kids = stats.index_children(spans)
        gap, busy = stats.driver_gap([spans[0]], kids)
        self.assertAlmostEqual(gap, 1.0 - 0.35)
        self.assertAlmostEqual(busy, 0.35)


if __name__ == "__main__":
    unittest.main()
