"""Re-record ``eventlog_small.jsonl``, the event log the self-test parses.

    python3 perfbench/fixtures/record_eventlog.py

Runs, on a ``local[2]`` session with the benchmark's event-log settings:
one traced detect pass (job group ``pass:0``), one registry query split
into build and action groups (``pass:1:q:tpch_q1:...``), and one
checkpointed detect run (``probe:checkpoint``) over 40 pages. The log is
trimmed to the events and fields ``tracing.parse_event_log`` reads, and
call sites are made relative to the repository root.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(HERE, "eventlog_small.jsonl")

KEEP_TASK_METRICS = (
    "Executor Run Time", "Executor CPU Time", "JVM GC Time",
    "Memory Bytes Spilled", "Disk Bytes Spilled",
)


def _relative(call_site: str) -> str:
    return re.sub(r"\S*/(igtdetect_spark|perfbench)/", r"\1/", call_site)


def trim(event: dict) -> dict | None:
    ev = event["Event"]
    if ev.endswith("SparkListenerSQLExecutionStart"):
        return {
            "Event": ev,
            "executionId": event["executionId"],
            "details": (event.get("details") or "").split("\n", 1)[0],
        }
    if ev == "SparkListenerJobStart":
        props = event.get("Properties") or {}
        return {
            "Event": ev,
            "Job ID": event["Job ID"],
            "Submission Time": event["Submission Time"],
            "Stage IDs": event["Stage IDs"],
            "Properties": {
                "spark.jobGroup.id": props.get("spark.jobGroup.id"),
                "spark.sql.execution.id": props.get("spark.sql.execution.id"),
                "callSite.short": _relative(props.get("callSite.short", "")),
            },
        }
    if ev == "SparkListenerJobEnd":
        return {k: event[k] for k in ("Event", "Job ID", "Completion Time")}
    if ev == "SparkListenerStageCompleted":
        si = event["Stage Info"]
        return {"Event": ev, "Stage Info": {
            "Stage ID": si["Stage ID"],
            "Stage Name": _relative(si.get("Stage Name", "")),
            "Submission Time": si.get("Submission Time"),
            "Completion Time": si.get("Completion Time"),
        }}
    if ev == "SparkListenerTaskEnd" and event.get("Task Metrics"):
        tm = event["Task Metrics"]
        sr = tm["Shuffle Read Metrics"]
        return {
            "Event": ev,
            "Stage ID": event["Stage ID"],
            "Task Info": {
                k: event["Task Info"][k] for k in ("Launch Time", "Finish Time")
            },
            "Task Metrics": {
                **{k: tm[k] for k in KEEP_TASK_METRICS},
                "Shuffle Read Metrics": {
                    k: sr[k] for k in ("Remote Bytes Read", "Local Bytes Read")
                },
                "Shuffle Write Metrics": {
                    "Shuffle Bytes Written":
                        tm["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                },
            },
        }
    return None


def main() -> None:
    sys.path[:0] = [ROOT, BENCH]
    from igtdetect_spark.entry_queries import queries
    from igtdetect_spark.plans.checkpoint import run_checkpointed_detect
    from igtdetect_spark.plans.pipeline import DetectContext, detect_spans_fused
    from igtdetect_spark.session import build_session
    from igtdetect_spark.sources.pages import synthetic_pages

    from inputs import seeded_lexicons, seeded_model
    from tables import write_tables
    from workloads import force, forced

    work = tempfile.mkdtemp(dir=BENCH, prefix=".record-")
    try:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        spark = build_session(master="local[2]", shuffle_partitions=2, extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.local.dir": os.path.join(work, "local"),
        })
        sc = spark.sparkContext
        lex = seeded_lexicons(1)
        ctx = DetectContext(spark, seeded_model(1, lex), lex)
        pages = synthetic_pages(spark, 40, seed=1, n_partitions=2).cache()
        pages.count()

        sc.setJobGroup("pass:0", "detect pass")
        force(detect_spans_fused(pages, ctx))

        write_tables(os.path.join(work, "tables"), 0.001, 1)
        sc.setJobGroup("pass:1:q:tpch_q1:build", "build")
        df = queries()["tpch_q1"](spark, os.path.join(work, "tables"))
        sc.setJobGroup("pass:1:q:tpch_q1:action", "action")
        forced(df).collect()

        sc.setJobGroup("probe:checkpoint", "checkpoint")
        run_checkpointed_detect(
            spark, pages, ctx, os.path.join(work, "ckpt"),
            n_buckets=4, buckets_per_commit=2,
        )
        spark.stop()

        (log,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        with open(log) as src, open(OUT, "w") as dst:
            for line in src:
                t = trim(json.loads(line))
                if t is not None:
                    dst.write(json.dumps(t) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
