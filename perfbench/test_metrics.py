"""Unit tests of the benchmark's pure logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


class TailQuantileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_quantile(19))
        self.assertEqual(metrics.tail_quantile(20), 0.5)
        self.assertEqual(metrics.tail_quantile(39), 0.5)
        self.assertEqual(metrics.tail_quantile(40), 0.75)
        self.assertEqual(metrics.tail_quantile(48), 0.75)
        self.assertEqual(metrics.tail_quantile(100), 0.9)
        self.assertEqual(metrics.tail_quantile(1000), 0.99)


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(metrics.self_time(0, 10, []), 10)

    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.self_time(0, 10, [(1, 4), (3, 6)]), 5)

    def test_children_clipped_to_span(self):
        self.assertEqual(metrics.self_time(0, 10, [(-5, 2), (8, 20), (30, 40)]), 6)

    def test_nested_and_disjoint(self):
        self.assertEqual(metrics.self_time(0, 10, [(1, 9), (2, 3), (9, 10)]), 1)


class ClassifyTest(unittest.TestCase):
    SCHEMA = ("graft.Tables$.t(Tables.scala:14)\n"
              "graft.Tables$.documents(Tables.scala:70)\n"
              "graft.operators.Materialize$.sharedPinned(Materialize.scala:400)")
    PIN = ("graft.operators.Materialize$.eager(Materialize.scala:80)\n"
           "graft.queries.GraphRank$.lpa(GraphRank.scala:964)")
    EXEC = ("graftbench.Harness$.repetition(Harness.scala:102)\n"
            "graftbench.Harness$.main(Harness.scala:180)")

    def test_innermost_layer_wins(self):
        self.assertEqual(metrics.classify(self.SCHEMA), "tables")
        self.assertEqual(metrics.classify(self.PIN), "materialize")

    def test_everything_else_is_execution(self):
        self.assertEqual(metrics.classify(self.EXEC), "execution")
        self.assertEqual(metrics.classify(""), "execution")


class JobLayersTest(unittest.TestCase):
    def test_pool_thread_jobs_take_their_execution_layer(self):
        jobs = [{"call_site": ClassifyTest.PIN, "exec_id": "7"},
                {"call_site": "java.util.concurrent.ThreadPoolExecutor.runWorker", "exec_id": "7"},
                {"call_site": "java.util.concurrent.ThreadPoolExecutor.runWorker", "exec_id": "8"},
                {"call_site": ClassifyTest.SCHEMA, "exec_id": ""}]
        self.assertEqual(metrics.job_layers(jobs),
                         ["materialize", "materialize", "execution", "tables"])


class TraceOverheadTest(unittest.TestCase):
    def test_drift_cancels(self):
        # untraced reps speed up by 1 s each; the traced one costs 0.5 s extra
        reps = [_span(1, "rep", 1, 0, 10_000), _span(2, "rep", 2, 0, 9_500, traced=True),
                _span(3, "rep", 3, 0, 8_000)]
        self.assertAlmostEqual(metrics.trace_overhead(reps), 0.5)

    def test_needs_untraced_neighbours(self):
        with self.assertRaises(ValueError):
            metrics.trace_overhead([_span(1, "rep", 1, 0, 10, traced=True)])


class FailFracTest(unittest.TestCase):
    def test_fraction_of_attempted(self):
        self.assertEqual(metrics.fail_frac(48, 0), 0.0)
        self.assertEqual(metrics.fail_frac(48, 12), 0.25)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.fail_frac(0, 0)


def _span(i, kind, rep, start, end, parent=-1, traced=False, name="x", rss_kb=0):
    return {"id": i, "name": name, "kind": kind, "parent": parent, "rep": rep,
            "traced": traced, "start_ms": start, "end_ms": end, "stored_b": 0,
            "peak_rss_kb": rss_kb}


class EndToEndTest(unittest.TestCase):
    def test_failed_operation_time_stays_in_wall(self):
        # rep 1's op "b" failed after 4 s: the repetition still took 6 s
        spans = [_span(0, "rep", 0, 0, 50_000), _span(9, "op", 0, 0, 50_000, 0, name="a"),
                 _span(1, "rep", 1, 0, 6000, rss_kb=1000),
                 _span(2, "op", 1, 0, 2000, 1, name="a"),
                 _span(3, "op", 1, 2000, 6000, 1, name="b"),
                 _span(4, "rep", 2, 0, 5000, rss_kb=3000),
                 _span(5, "op", 2, 0, 1000, 4, name="a"),
                 _span(6, "op", 2, 1000, 5000, 4, name="b")]
        values, info = metrics.end_to_end({"spans": spans, "warm_reps": 1}, 2.0)
        self.assertEqual(values["wall_s"], 5.5)
        self.assertEqual(values["setup_s"], 2.0)
        # per-op medians over reps 1-2 (the warm-up is excluded): a 1.5 s, b 4 s
        self.assertEqual(values["query_p50_s"], 2.75)
        self.assertEqual(values["query_p75_s"], 3.375)
        self.assertEqual(info["repetitions"], 2)
        self.assertEqual(info["operations"], 2)
        # median of the timed repetitions' own peaks, 1000 and 3000 kB
        self.assertAlmostEqual(values["peak_rss_mb"], 2.048)

    def test_untimed_warm_ups_are_excluded(self):
        spans = [_span(0, "rep", 0, 0, 9000), _span(1, "rep", 1, 0, 8000),
                 _span(2, "rep", 2, 0, 5000), _span(3, "rep", 3, 0, 6000)]
        self.assertEqual([r["rep"] for r in metrics.timed_reps(
            {"spans": spans, "warm_reps": 2})], [2, 3])


if __name__ == "__main__":
    unittest.main()
