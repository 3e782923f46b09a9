"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import analysis  # noqa: E402
import trips  # noqa: E402


class DueTimeLatencyTest(unittest.TestCase):

    def test_due_times_follow_speedup_and_never_precede_predecessor(self):
        # event times in ms; speed-up 1000 means 1 s of event time per ms
        due = analysis.due_times([0, 5000, 3000, 9000], 1000.0, 100.0)
        self.assertEqual(due, [100.0, 105.0, 105.0, 109.0])

    def test_window_latency_runs_from_closing_event_due_to_last_doc(self):
        delay = 10_000
        # window [0, 600000) closes with the first mover at >= 610000;
        # event 2 (611000) moves no watermark, as an invalid trip
        event_ts = [100_000, 590_000, 611_000, 612_000, 1_300_000]
        movers = {"pickup_count": [0, 1, 3, 4], "trip_duration": [0, 1, 3, 4]}
        docs = [{"id": "a", "type": "pickup_count", "timestamp": 599_999},
                {"id": "b", "type": "pickup_count", "timestamp": 599_999},
                {"id": "c", "type": "trip_duration", "timestamp": 599_999}]
        arrivals = {"a": 5_000.0, "b": 5_400.0, "c": 5_100.0}
        lat = analysis.window_latencies(event_ts, movers, 1000.0, 0.0, delay,
                                        docs, arrivals)
        # closing event 612000 is due at (612000 - 100000) / 1000 = 512 ms
        self.assertEqual(lat[("pickup_count", 600_000)], 5_400.0 - 512.0)
        self.assertEqual(lat[("trip_duration", 600_000)], 5_100.0 - 512.0)

    def test_each_type_closes_on_its_own_movers(self):
        # trip_duration's query sees only events 0 and 3 (airport trips)
        event_ts = [100_000, 612_000, 640_000, 700_000]
        movers = {"pickup_count": [0, 1, 2, 3], "trip_duration": [0, 3]}
        docs = [{"id": "a", "type": "pickup_count", "timestamp": 599_999},
                {"id": "c", "type": "trip_duration", "timestamp": 599_999}]
        lat = analysis.window_latencies(event_ts, movers, 1000.0, 0.0, 10_000,
                                        docs, {"a": 1_000.0, "c": 1_000.0})
        self.assertEqual(lat[("pickup_count", 600_000)], 1_000.0 - 512.0)
        self.assertEqual(lat[("trip_duration", 600_000)], 1_000.0 - 600.0)

    def test_window_with_missing_document_is_infinite(self):
        docs = [{"id": "a", "type": "pickup_count", "timestamp": 599_999},
                {"id": "b", "type": "pickup_count", "timestamp": 599_999}]
        lat = analysis.window_latencies([0, 700_000], {"pickup_count": [0, 1]},
                                        1.0, 0.0, 10_000, docs, {"a": 1.0})
        self.assertEqual(lat[("pickup_count", 600_000)], analysis.INF)

    def test_window_never_closed_is_an_error(self):
        docs = [{"id": "a", "type": "pickup_count", "timestamp": 599_999}]
        with self.assertRaises(ValueError):
            analysis.window_latencies([0, 605_000], {"pickup_count": [0, 1]},
                                      1.0, 0.0, 10_000, docs, {"a": 1.0})


class PercentileRuleTest(unittest.TestCase):

    def test_needs_ten_samples_beyond_the_quantile(self):
        self.assertEqual(analysis.percentile(list(range(1, 21)), 0.5), 10)
        with self.assertRaises(ValueError):
            analysis.percentile(list(range(19)), 0.5)
        self.assertEqual(analysis.percentile(list(range(1, 101)), 0.9), 90)
        with self.assertRaises(ValueError):
            analysis.percentile(list(range(99)), 0.9)

    def test_infinite_samples_sort_last(self):
        vals = [1.0] * 15 + [analysis.INF] * 5
        self.assertEqual(analysis.percentile(vals, 0.5), 1.0)


class GeneratorTest(unittest.TestCase):

    def test_same_seed_gives_identical_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            trips.write(trips.generate(7, 3000, 2160.0), os.path.join(d, "a"))
            trips.write(trips.generate(7, 3000, 2160.0), os.path.join(d, "b"))
            trips.write(trips.generate(8, 3000, 2160.0), os.path.join(d, "c"))
            read = lambda n: open(os.path.join(d, n, "trips-00000.jsonl"), "rb").read()
            self.assertEqual(read("a"), read("b"))
            self.assertNotEqual(read("a"), read("c"))

    def test_jitter_stays_inside_the_watermark_delay(self):
        seen = -math.inf
        for _, ts, _ in trips.generate(3, 20000, 2160.0):
            self.assertGreater(ts, seen - 10_000)
            seen = max(seen, ts)

    def test_mix_of_airport_invalid_and_out_of_fence_trips(self):
        gen = trips.generate(5, 20000, 2160.0)
        invalid = sum(1 for _, _, v in gen if not v) / len(gen)
        self.assertAlmostEqual(invalid, trips.INVALID_SHARE + trips.OUT_OF_FENCE_SHARE,
                               delta=0.01)
        airport = [c for c in trips.JFK + trips.LGA]
        hits = 0
        for line, _, _ in gen[:5000]:
            lat = float(line.split('"dropoff_lat": ')[1].split(",")[0])
            lon = float(line.split('"dropoff_lon": ')[1].split(",")[0])
            hits += any(trips.encode(lat, lon, len(c)) == c for c in airport)
        self.assertAlmostEqual(hits / 5000, trips.AIRPORT_SHARE, delta=0.03)


class DigestTest(unittest.TestCase):

    def test_canonicalisation_matches_check_oracle(self):
        self.assertEqual(analysis.canon(None), "NULL")
        self.assertEqual(analysis.canon(float("nan")), "NaN")
        self.assertEqual(analysis.canon(0.1 + 0.2), "0.3")
        self.assertEqual(analysis.canon(123456789.987), "123456790")
        self.assertEqual(analysis.canon(b"\x01\xff"), "01ff")
        self.assertEqual(analysis.canon(7), "7")

    def test_digest_ignores_row_and_column_order(self):
        a = analysis.rows_digest(["x", "y"], [(1, 0.1 + 0.2), (2, None)])
        b = analysis.rows_digest(["y", "x"], [(None, 2), (0.3, 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, analysis.rows_digest(["x", "y"], [(1, 0.31), (2, None)]))

    def test_digest_sees_duplicate_rows(self):
        self.assertNotEqual(analysis.rows_digest(["x"], [(1,)]),
                            analysis.rows_digest(["x"], [(1,), (1,)]))


class SelfTimeTest(unittest.TestCase):

    def test_children_are_subtracted_once_where_they_overlap(self):
        spans = [
            {"id": 1, "layer": "app", "start": 0, "end": 1000, "parent": -1},
            {"id": 2, "layer": "operators", "start": 100, "end": 400, "parent": 1},
            {"id": 3, "layer": "operators", "start": 300, "end": 500, "parent": 1},
            {"id": 4, "layer": "plans", "start": 600, "end": 700, "parent": 1},
        ]
        st = analysis.self_times(spans)
        self.assertAlmostEqual(st["app"], 0.5)
        self.assertAlmostEqual(st["operators"], 0.5)
        self.assertAlmostEqual(st["plans"], 0.1)

    def test_untimed_set_up_is_left_out(self):
        spans = [
            {"id": 1, "name": "setup", "layer": "app", "start": 0, "end": 5000,
             "parent": -1},
            {"id": 2, "name": "job", "layer": "operators", "start": 10, "end": 20,
             "parent": 1},
            {"id": 3, "name": "ProcessTaxiStream.run#1", "layer": "app",
             "start": 6000, "end": 7000, "parent": -1},
            {"id": 4, "name": "job", "layer": "operators", "start": 6100,
             "end": 6400, "parent": 3},
        ]
        timed = analysis.timed_spans(spans)
        self.assertEqual([s["id"] for s in timed], [3, 4])
        st = analysis.self_times(timed)
        self.assertAlmostEqual(st["app"], 0.7)
        self.assertAlmostEqual(st["operators"], 0.3)


class CompareDocsTest(unittest.TestCase):

    def test_missing_wrong_and_unexpected_each_fail(self):
        exp = [{"id": "a", "type": "t", "source": "1"},
               {"id": "b", "type": "t", "source": "2"},
               {"id": "c", "type": "t", "source": "3"}]
        got = [{"id": "a", "type": "t", "source": "1"},
               {"id": "b", "type": "t", "source": "9"},
               {"id": "d", "type": "t", "source": "4"}]
        attempted, failed, detail = analysis.compare_docs(exp, got)
        self.assertEqual((attempted, failed), (4, 3))
        self.assertEqual((detail["missing"], detail["wrong"], detail["unexpected"]),
                         (1, 1, 1))


if __name__ == "__main__":
    unittest.main()
