"""Unit tests of the benchmark's arithmetic.

Run from the repository root: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def span(i, parent, start, end, layer="client"):
    return {"id": i, "parent": parent, "layer": layer, "name": "s%d" % i, "start": start, "end": end}


class Percentiles(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_tail_has_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        v, p, n = stats.tail(xs)
        self.assertEqual((v, p, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_tail_at_twenty_samples_is_the_median_rank(self):
        xs = [float(x) for x in range(20, 0, -1)]
        v, p, n = stats.tail(xs)
        self.assertEqual((v, p, n), (10.0, 50.0, 20))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_tail_below_twenty_samples_is_the_median(self):
        self.assertEqual(stats.tail([5, 1, 3]), (3, 50.0, 3))
        self.assertEqual(stats.tail(list(range(19))), (9, 50.0, 19))

    def test_setup_counts_the_first_session_start(self):
        # one cold session start, the median fixture time, the warm-up
        self.assertEqual(stats.setup_seconds([3.0, 0.01, 0.02], [5.0, 2.0, 1.5], 10.0), 15.0)

    def test_ratio(self):
        self.assertEqual(stats.ratio(1, 4), 0.25)
        self.assertEqual(stats.ratio(3, 0), 0.0)


class SelfTime(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]), 4)
        self.assertEqual(stats.union_length([]), 0)

    def test_uncovered(self):
        root = span(1, -1, 0, 10)
        calls = [span(2, 1, 1, 4), span(3, 1, 3, 6), span(4, 1, 9, 12)]
        self.assertEqual(stats.uncovered(root, calls), 4)  # 0-1, 6-9
        self.assertEqual(stats.uncovered(root, []), 10)

    def test_nested_spans(self):
        spans = [span(1, -1, 0, 10), span(2, 1, 1, 4, "plans"), span(3, 1, 4, 9, "exec"),
                 span(4, 3, 5, 7, "exec")]
        st = stats.self_times(spans)
        self.assertEqual(st, {1: 2, 2: 3, 3: 3, 4: 2})
        self.assertEqual(stats.layer_self_times(spans), {"client": 2, "plans": 3, "exec": 5})

    def test_concurrent_children_split_their_overlap(self):
        spans = [span(1, -1, 0, 10), span(2, 1, 2, 6, "exec"), span(3, 1, 4, 8, "exec")]
        st = stats.self_times(spans)
        self.assertEqual(st, {1: 4, 2: 3, 3: 3})
        self.assertEqual(sum(st.values()), 10)

    def test_child_is_clipped_to_its_parent(self):
        spans = [span(1, -1, 0, 10), span(2, 1, 8, 12, "exec")]
        self.assertEqual(stats.self_times(spans), {1: 8, 2: 2})

    def test_attach_jobs_and_stages(self):
        client = [span(1, -1, 0, 10), span(2, 1, 0, 3, "plans"), span(3, 1, 3, 10, "exec")]
        jobs = [{"id": 7, "start": 4, "end": 9}, {"id": 8, "start": 1, "end": 2}]
        stages = [{"id": 70, "job": 7, "start": 5, "end": 8}]
        spans = stats.attach(client, jobs, stages)
        by_name = {s["name"]: s for s in spans}
        self.assertEqual(by_name["job 7"]["parent"], 3)
        self.assertEqual(by_name["job 8"]["parent"], 2)
        self.assertEqual(by_name["stage 70"]["parent"], by_name["job 7"]["id"])
        self.assertAlmostEqual(sum(stats.self_times(spans).values()), 10)


class Contract(unittest.TestCase):
    def test_metric_lists_match_benchmark_json(self):
        import run
        path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
        with open(path) as fh:
            bench = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]], run.PER_LAYER)
        self.assertEqual([w["name"] for w in bench["workloads"]], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
