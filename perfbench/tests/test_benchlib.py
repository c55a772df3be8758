"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import benchlib  # noqa: E402


def span(i, name, parent, t0, t1):
    return {"id": i, "name": name, "parent": parent, "trace": 1, "t0": t0, "t1": t1}


def job(i, t0, t1, site=""):
    return {"id": i, "t0": t0, "t1": t1, "site": site, "tasks": 4, "shuffle_write": 0,
            "spill": 0}


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlapping_and_touching(self):
        self.assertEqual(benchlib.union([(5, 7), (0, 2), (1, 3), (3, 4), (9, 9)]),
                         [(0, 4), (5, 7)])

    def test_covered_clips_to_window(self):
        self.assertEqual(benchlib.covered([(0, 10), (20, 30)], 5, 25), 10)

    def test_driver_only_counts_overlapping_jobs_once(self):
        jobs = [job(1, 10, 40), job(2, 20, 50), job(3, 90, 120)]
        # busy 10..50 and 90..100 inside 0..100
        self.assertEqual(benchlib.driver_only(0, 100, jobs), 50)

    def test_driver_only_of_idle_span_is_its_duration(self):
        self.assertEqual(benchlib.driver_only(0, 100, []), 100)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_children_union(self):
        spans = [span(0, "op", -1, 0, 100), span(1, "a", 0, 10, 40), span(2, "b", 0, 30, 60),
                 span(3, "c", 1, 15, 20)]
        st = benchlib.self_times(spans)
        self.assertEqual(st[0], 50)  # children cover 10..60
        self.assertEqual(st[1], 25)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 5)

    def test_self_times_plus_nothing_lost(self):
        spans = [span(0, "op", -1, 0, 100), span(1, "a", 0, 0, 30), span(2, "b", 0, 30, 80)]
        st = benchlib.self_times(spans)
        self.assertEqual(sum(st.values()), 100)

    def test_measured_spans_drop_warmup_subtree(self):
        spans = [span(0, "warmup", -1, 0, 10), span(1, "op", 0, 0, 10), span(2, "q", 1, 1, 2),
                 span(3, "op", -1, 20, 30), span(4, "q", 3, 21, 22)]
        self.assertEqual([s["id"] for s in benchlib.measured_spans(spans)], [3, 4])


class AttributionTest(unittest.TestCase):
    def test_attribute_is_exclusive_and_sums_to_wall(self):
        jobs = [job(1, 10, 40, "a"), job(2, 20, 50, "b"), job(3, 60, 70, "b")]
        out = benchlib.attribute(0, 100, jobs, lambda j: j["site"])
        self.assertEqual(out, {None: 50, "a": 30, "b": 20})
        self.assertEqual(sum(out.values()), 100)

    def test_layer_of_call_site(self):
        modules = {"Dedup.scala": "ops", "SnapshotTable.scala": "tableio"}

        def layer(site):
            return benchlib.file_module(benchlib.site_file(site), modules)
        self.assertEqual(layer("count at Dedup.scala:412"), "ops")
        self.assertEqual(layer("parquet at SnapshotTable.scala:190"), "tableio")
        self.assertEqual(layer("head at Frontier.scala:94"), "harness")
        self.assertEqual(layer(""), "other")

    def test_job_file_prefers_the_waiting_stream_thread(self):
        samples = [{"thread": "main", "file": "Streaming.scala", "t0": 0, "t1": 100},
                   {"thread": "stream execution thread for q", "file": "SnapshotTable.scala",
                    "t0": 10, "t1": 20},
                   {"thread": "stream execution thread for q", "file": "ShardStore.scala",
                    "t0": 30, "t1": 60}]
        self.assertEqual(benchlib.job_file(job(1, 12, 18), samples), "SnapshotTable.scala")
        self.assertEqual(benchlib.job_file(job(2, 25, 50), samples), "ShardStore.scala")
        self.assertEqual(benchlib.job_file(job(3, 70, 80), samples), "Streaming.scala")

    def test_job_file_falls_back_to_call_site(self):
        self.assertEqual(benchlib.job_file(job(1, 5, 6, "fold at Dedup.scala:454"), []),
                         "Dedup.scala")

    def test_source_modules_follow_package_directories(self):
        with tempfile.TemporaryDirectory() as d:
            for rel in ("graft/seen/ShardStore.scala", "graft/SparkEntry.scala",
                        "org/apache/spark/sql/graftbridge/Bridge.scala"):
                os.makedirs(os.path.dirname(os.path.join(d, rel)), exist_ok=True)
                open(os.path.join(d, rel), "w").close()
            self.assertEqual(benchlib.source_modules(d),
                             {"ShardStore.scala": "seen", "SparkEntry.scala": "graft"})


class StatisticsTest(unittest.TestCase):
    def test_min_samples(self):
        self.assertEqual(benchlib.min_samples(0.5), 2)
        self.assertEqual(benchlib.min_samples(0.9), 10)
        self.assertEqual(benchlib.min_samples(0.99), 100)

    def test_percentile_refuses_too_few_samples(self):
        with self.assertRaises(ValueError):
            benchlib.percentile([1.0], 0.5)
        with self.assertRaises(ValueError):
            benchlib.percentile(list(range(9)), 0.9)

    def test_percentile_interpolates(self):
        self.assertEqual(benchlib.percentile([3.0, 1.0], 0.5), 2.0)
        self.assertEqual(benchlib.percentile([1.0, 2.0, 3.0, 4.0, 5.0], 0.5), 3.0)
        self.assertAlmostEqual(benchlib.percentile(list(range(11)), 0.9), 9.0)

    def test_growth_compares_outer_quarters(self):
        self.assertEqual(benchlib.growth([1, 1, 5, 5, 5, 5, 2, 2]), 2.0)
        with self.assertRaises(ValueError):
            benchlib.growth([1, 2, 3])


class ResultTest(unittest.TestCase):
    def raw(self, trace):
        return {"workload": "maintenance_queries", "seed": 1, "trace": trace,
                "session_s": 2.0, "fixture_s": [3.0, 1.0, 2.0], "warmup_s": 10.0,
                "measure_s": 12.0, "attempted": 2, "failed": 0, "retained_heap_mb": 90.0,
                "rss_peak_kb": 2048, "config": {}, "checks": [], "extras": {},
                "ops": [{"i": 0, "s": 12.0, "cpu": 30.0, "items": 3, "ok": True, "note": ""},
                        {"i": 1, "s": 6.0, "cpu": 20.0, "items": 3, "ok": True, "note": ""}],
                "spans": [span(0, "maintenance.pass", -1, 0, 12000),
                          span(1, "queries.g5_pagerank_update", 0, 0, 9000),
                          span(2, "maintenance.pass", -1, 20000, 26000),
                          span(3, "queries.g5_pagerank_update", 2, 20000, 24000)],
                "jobs": [job(1, 1000, 3000, "fold at Dedup.scala:454")], "samples": []}

    def test_end_to_end_result(self):
        res = benchlib.result(self.raw(False), {})
        self.assertEqual(set(res["metrics"]), {n for n, _ in benchlib.END_TO_END})
        self.assertEqual(res["metrics"]["setup_s"]["value"], 14.0)
        self.assertEqual(res["metrics"]["throughput_per_s"]["value"], 0.375)
        self.assertTrue(res["correct"])

    def test_failed_op_counts_as_no_work(self):
        raw = self.raw(False)
        raw["ops"][1].update(ok=False, s=None, items=0)
        raw["failed"] = 1
        res = benchlib.result(raw, {})
        self.assertEqual(res["metrics"]["throughput_per_s"]["value"], 0.125)
        self.assertFalse(res["correct"])
        json.dumps(res, allow_nan=False)

    def test_per_layer_result_lists_every_metric(self):
        res = benchlib.result(self.raw(True), {"Dedup.scala": "ops"})
        self.assertEqual(set(res["metrics"]), {n for n, _ in benchlib.PER_LAYER})
        m = {k: v["value"] for k, v in res["metrics"].items()}
        self.assertEqual(m["trace.wall_s"], 9.0)
        self.assertEqual(m["queries.g5_pagerank_update.s"], 6.5)
        self.assertEqual(m["trace.unattributed_s"], 2.5)
        self.assertEqual(m["ops.Dedup.job_s"], 1.0)
        self.assertEqual(m["jvm.cpu_s_per_op"], 25.0)


if __name__ == "__main__":
    unittest.main()
