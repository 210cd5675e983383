"""Unit tests for the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(999), 95)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(199), 90)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(99), 75)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(39), 50)

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(stats.tail_percentile(5), 50)

    def test_percentile_interpolates_between_ranks(self):
        xs = [10.0, 20.0, 30.0, 40.0, 50.0]
        self.assertEqual(stats.percentile(xs, 50), 30.0)
        self.assertEqual(stats.percentile(xs, 75), 40.0)
        self.assertAlmostEqual(stats.percentile(xs, 90), 46.0)
        self.assertEqual(stats.percentile([7.0], 99), 7.0)

    def test_summary_reports_the_rule_and_the_count(self):
        med, p, tail, n = stats.summary([float(i) for i in range(1, 101)])
        self.assertEqual((med, p, n), (50.5, 90, 100))
        self.assertAlmostEqual(tail, 90.1)


class Freshness(unittest.TestCase):
    # two queries over the same 10 input rows: q1 in batches of 4+6,
    # q2 in 3+0+7 (an empty batch in between, as a watermark batch is)
    batches = {
        "q1": [{"id": 1, "rows": 6, "emit_ms": 2500}, {"id": 0, "rows": 4, "emit_ms": 1200}],
        "q2": [{"id": 0, "rows": 3, "emit_ms": 1100}, {"id": 1, "rows": 0, "emit_ms": 1800},
               {"id": 2, "rows": 7, "emit_ms": 2600}],
    }

    def test_batch_ends_are_cumulative_over_data_batches(self):
        self.assertEqual(stats.batch_ends(self.batches["q2"]), [(3, 1100), (10, 2600)])

    def test_event_maps_to_the_batch_whose_rows_hold_it(self):
        ends = stats.batch_ends(self.batches["q1"])
        cums = [c for c, _ in ends]
        self.assertEqual(stats.emit_time(ends, cums, 0), 1200)
        self.assertEqual(stats.emit_time(ends, cums, 3), 1200)
        self.assertEqual(stats.emit_time(ends, cums, 4), 2500)
        self.assertIsNone(stats.emit_time(ends, cums, 10))

    def test_freshness_waits_for_the_last_query(self):
        # events 2..5 of the stream, one every 100 ms from t0 = 1000
        phase = {"t0_ms": 1000.0, "rate": 10, "first": 2, "count": 4}
        fresh, missed, last = stats.freshness(phase, self.batches)
        # event 2: q1 at 1200, q2 at 1100 -> 1200 - 1000
        # event 3: q1 at 1200, q2 at 2600 -> 2600 - 1100, and so on
        self.assertEqual(fresh, [200.0, 1500.0, 1400.0, 1300.0])
        self.assertEqual((missed, last), (0, 2600))

    def test_events_no_query_emitted_are_missed(self):
        phase = {"t0_ms": 0.0, "rate": 1000, "first": 9, "count": 3}
        fresh, missed, _ = stats.freshness(phase, self.batches)
        self.assertEqual((len(fresh), missed), (1, 2))

    def test_a_batch_without_emission_misses_its_events(self):
        batches = {"q": [{"id": 0, "rows": 5, "emit_ms": -1}]}
        phase = {"t0_ms": 0.0, "rate": 1000, "first": 0, "count": 5}
        self.assertEqual(stats.freshness(phase, batches)[1], 5)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once_where_they_overlap(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 30), (20, 40), (60, 70)]), 60)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(stats.self_time((0, 100), [(-50, 10), (90, 150), (200, 300)]), 80)

    def test_nested_children_count_once(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 90), (20, 30)]), 20)

    def test_no_children_is_the_whole_span(self):
        self.assertEqual(stats.self_time((5, 25), []), 20)


if __name__ == "__main__":
    unittest.main()
