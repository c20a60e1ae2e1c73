"""Unit tests for the benchmark's own arithmetic.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402


class IntervalUnion(unittest.TestCase):
    def test_overlapping_and_nested_jobs_count_once(self):
        jobs = [(0, 10), (5, 15), (6, 7), (20, 30)]
        self.assertEqual(stats.union_length(jobs), 25)

    def test_touching_and_empty_intervals(self):
        self.assertEqual(stats.union_length([(0, 5), (5, 8), (9, 9)]), 8)
        self.assertEqual(stats.union_length([]), 0)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.union_length([(20, 30), (0, 10), (5, 15)]),
                         stats.union_length([(0, 10), (5, 15), (20, 30)]))


class SplitWindow(unittest.TestCase):
    def test_parts_sum_to_the_window(self):
        # window 0..100: build 0..30 with an eager job 10..20, a plan
        # phase 30..40 overlapping a job 35..80 (overlap goes to jobs)
        part = stats.split_window((0, 100), (0, 30), [(10, 20), (35, 80)],
                                  {"planning": [(30, 40)]})
        self.assertEqual(part["job_union"], 55)
        self.assertEqual(part["catalyst.planning"], 5)
        self.assertEqual(part["build_self"], 20)
        self.assertEqual(part["driver_gap"], 20)
        self.assertEqual(sum(part.values()), 100)

    def test_jobs_outside_the_window_are_clipped(self):
        part = stats.split_window((10, 20), (10, 12), [(0, 15), (18, 40)], {})
        self.assertEqual(part["job_union"], 7)
        self.assertEqual(part["driver_gap"], 3)


class SelfTime(unittest.TestCase):
    def test_children_overlapping_each_other_and_the_edge(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 30), (20, 40), (90, 120)]), 60)

    def test_no_children(self):
        self.assertEqual(stats.self_time((5, 9), []), 4)


class LinkSpans(unittest.TestCase):
    def test_listener_spans_hang_under_the_innermost_benchmark_span(self):
        spans = [{"id": 1, "parent": 0, "name": "query", "start": 0, "end": 100},
                 {"id": 2, "parent": 1, "name": "exec.action", "start": 40, "end": 100},
                 {"id": 3, "parent": 0, "name": "exec.job", "start": 50, "end": 120},
                 {"id": 4, "parent": 0, "name": "catalyst.planning", "start": 10, "end": 20},
                 {"id": 5, "parent": 0, "name": "exec.job", "start": 200, "end": 210}]
        linked = {s["id"]: s["parent"] for s in stats.link_spans(spans)}
        self.assertEqual(linked, {1: 0, 2: 1, 3: 2, 4: 1, 5: 0})
        self_ms = stats.self_times(stats.link_spans(spans))
        self.assertEqual(self_ms["exec.action"], 10)
        self.assertEqual(self_ms["query"], 30)


class Percentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(list(range(99)), 90))
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), 90)
        self.assertIsNone(stats.percentile(list(range(999)), 99))
        self.assertEqual(stats.percentile(list(range(1, 1001)), 99), 990)

    def test_median_needs_twenty(self):
        self.assertIsNone(stats.percentile(list(range(19)), 50))
        self.assertEqual(stats.percentile(list(range(1, 21)), 50), 10)

    def test_unsorted_input(self):
        xs = list(range(1, 101))[::-1]
        self.assertEqual(stats.percentile(xs, 90), 90)


def events(n, flags=None):
    flags = flags or {}
    return [{"id": i, "flag": flags.get(i, 0), "custkey": i % 3, "amount": 10 * i}
            for i in range(n)]


NATION_OF = {0: 7, 1: 8, 2: 7}


def ok_batch(ids, kind="ok"):
    groups = {}
    for i in ids:
        groups.setdefault(NATION_OF[i % 3], []).append(i)
    return {"kind": kind, "ids": ids,
            "groups": [[n, len(g), sum(10 * i for i in g)] for n, g in groups.items()],
            "group_ids": list(groups.values())}


class PipelineFailures(unittest.TestCase):
    def test_injected_errors_reported_as_required_are_successes(self):
        ev = events(6, {1: 1, 4: 2})  # 1 poisons its batch, 4 overruns
        batches = [{"kind": "error", "ids": [0, 1], "groups": [], "group_ids": []},
                   ok_batch([2, 3]), ok_batch([4, 5], kind="timeout")]
        self.assertEqual(stats.check_pipeline(ev, batches, NATION_OF), (6, 0))

    def test_wrong_kind_fails_the_whole_batch(self):
        ev = events(4, {1: 1})
        batches = [ok_batch([0, 1]), ok_batch([2, 3], kind="timeout")]
        self.assertEqual(stats.check_pipeline(ev, batches, NATION_OF), (4, 4))

    def test_missing_duplicate_and_wrong_result(self):
        ev = events(5)
        wrong = ok_batch([2, 3])
        wrong["groups"][0][2] += 1
        batches = [ok_batch([0]), ok_batch([0]), wrong]
        # 0 reported twice, 2 and 3 in a wrong result, 1 and 4 missing
        self.assertEqual(stats.check_pipeline(ev, batches, NATION_OF), (5, 5))


class StreamFailures(unittest.TestCase):
    def test_truth_follows_batch_membership(self):
        content = [0, 0, 1, 0, 1, 2]
        want = stats.dedup_truth([[0, 1, 2], [3, 4, 5]], content)
        self.assertEqual(want, {0: "new", 1: "dup_in_increment", 2: "new",
                                3: "dup_of_index", 4: "dup_of_index", 5: "new"})

    def test_counts_wrong_missing_and_errored(self):
        content = [0, 0, 1]
        good = [{"ids": [0, 1], "status": ["new", "dup_in_increment"], "error": None}]
        self.assertEqual(stats.check_stream(3, good, content), (3, 1))  # 2 missing
        bad = [{"ids": [1, 0, 2], "status": ["new", "new", "new"], "error": None}]
        self.assertEqual(stats.check_stream(3, bad, content), (3, 1))
        errored = [{"ids": [], "status": [], "error": "boom"}]
        self.assertEqual(stats.check_stream(1, errored, [0]), (1, 2))


class Digests(unittest.TestCase):
    def test_rows_only_and_full(self):
        stored = {"a": [3, "12"], "b": [2, None], "c": [1, "5"]}
        got = {"a": [3, "12"], "b": [2, "999"], "c": [1, "6"]}
        self.assertEqual(stats.check_digests(got, stored), ["c"])
        self.assertEqual(stats.check_digests({}, {"a": [1, None]}), ["a"])


if __name__ == "__main__":
    unittest.main()
