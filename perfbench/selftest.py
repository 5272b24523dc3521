"""Self-test of the event-log parser, the span writer and the metric
names.

    python3 perfbench/selftest.py

Parses ``fixtures/eventlog_small.jsonl`` (recorded by
``fixtures/record_eventlog.py``: a detect pass, a registry query split
into build and action, a checkpointed run) and pins the job and stage
attribution the per-layer metrics rely on. Needs no Spark session.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")

PER_LAYER = [
    "operators.segment.us_per_line",
    "operators.vectorized.featurize_us_per_line",
    "operators.vectorized.score_us_per_line",
    "operators.vectorized.spans_us_per_line",
    "plans.pipeline.handoff_us_per_line",
    "sources.pages.scan_s",
    "plans.chunked.stats_s",
    "plans.chunked.shuffle_write_bytes",
    "plans.chunked.task_skew",
    "plans.chunked.tail_s",
    "plans.checkpoint.write_s",
    "plans.checkpoint.lineage_s",
    "plans.checkpoint.jobs_per_commit",
    "plans.checkpoint.bytes_written",
    "plans.checkpoint.files_written",
    "entry_queries.build_s",
    "entry_queries.build_jobs",
    "entry_queries.action_s",
    "entry_queries.action_jobs",
    "entry_queries.plan_s",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "operators.dedup.leaked_rdds",
    "session.start_s",
    "shipping.ship_s",
    "trace.overhead_ratio",
]


class EventLogTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.log = tracing.parse_event_log(FIXTURE)

    def jobs(self, group):
        return tracing.select_jobs(self.log, group)

    def test_counts(self):
        self.assertEqual(len(self.log["jobs"]), 23)
        self.assertEqual(len(self.log["stages"]), 34)

    def test_group_selection_includes_subgroups(self):
        self.assertEqual([j["id"] for j in self.jobs("pass:0")], [3, 4])
        self.assertEqual([j["id"] for j in self.jobs("pass:1")], [5, 6, 7, 8])
        self.assertEqual(self.jobs("pass:"), [])

    def test_detect_pass_totals(self):
        t = tracing.spark_totals(self.log, self.jobs("pass:0"))
        self.assertEqual(
            (t["jobs"], t["stages"], t["tasks"]), (2, 2, 3)
        )
        self.assertAlmostEqual(t["executor_run_s"], 5.144)
        self.assertEqual(t["shuffle_write_bytes"], 126)
        self.assertEqual(t["shuffle_read_bytes"], 126)
        self.assertEqual(
            sorted(s["id"] for s in tracing.job_stages(self.log, self.jobs("pass:0"))),
            [4, 6],
        )

    def test_kernel_stage_is_the_busiest(self):
        shape = tracing.kernel_stage_shape(self.log, self.jobs("pass:0"))
        self.assertAlmostEqual(shape["run_s"], 5.122)
        self.assertEqual(shape["tasks"], 2)
        self.assertGreaterEqual(shape["task_skew"], 1.0)

    def test_build_and_action_split(self):
        build = self.jobs("pass:1:q:tpch_q1:build")
        action = self.jobs("pass:1:q:tpch_q1:action")
        self.assertEqual([j["id"] for j in build], [5])
        self.assertEqual([j["id"] for j in action], [6, 7, 8])
        self.assertEqual(
            sorted(s["id"] for s in tracing.job_stages(self.log, action)),
            [8, 10, 13],
        )

    def test_checkpoint_attribution(self):
        jobs = self.jobs("probe:checkpoint")
        lineage = tracing.checkpoint_lineage_jobs(jobs)
        write = tracing.checkpoint_write_jobs(jobs)
        self.assertEqual([j["id"] for j in lineage], [9, 10, 14, 15, 16, 17, 21, 22])
        self.assertEqual([j["id"] for j in write], [11, 12, 13, 18, 19, 20])
        self.assertIn("DataFrameWriter.parquet", write[0]["call_site"])
        self.assertAlmostEqual(tracing.job_wall_s(write), 1.178)
        self.assertAlmostEqual(tracing.job_wall_s(lineage), 0.705)


class SpanTest(unittest.TestCase):
    def test_nesting_self_time_and_write(self):
        tr = tracing.Tracer(True)
        with tr.span("outer", "w:pass0"):
            with tr.span("inner", "w:pass0"):
                pass
        self.assertEqual([s["parent"] for s in tr.spans], [None, 0])
        self.assertTrue(all(s["end"] >= s["start"] for s in tr.spans))
        outer = tr.spans[0]
        self.assertLessEqual(
            tracing.self_time(tr.spans, 0), outer["end"] - outer["start"]
        )
        with tempfile.TemporaryDirectory(dir=HERE) as d:
            path = os.path.join(d, "spans.json")
            tr.write(path)
            with open(path) as f:
                spans = json.load(f)
            self.assertEqual([s["name"] for s in spans], ["outer", "inner"])
            self.assertIn("self_s", spans[0])

    def test_disabled_tracer_records_nothing(self):
        tr = tracing.Tracer(False)
        with tr.span("x", "t"):
            pass
        self.assertEqual(tr.spans, [])


class MetricNamesTest(unittest.TestCase):
    def test_per_layer_names_are_pinned(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([m["name"] for m in spec["per_layer"]], PER_LAYER)

    def test_layers_are_repo_modules(self):
        root = os.path.dirname(HERE)
        for name in PER_LAYER:
            layer = name.rsplit(".", 1)[0]
            if layer in ("spark", "trace"):
                continue  # Spark's own counters; the tracer itself
            path = os.path.join(root, "igtdetect_spark", *layer.split(".")) + ".py"
            self.assertTrue(os.path.isfile(path), f"{name}: no module {layer}")


if __name__ == "__main__":
    unittest.main()
