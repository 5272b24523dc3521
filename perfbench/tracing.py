"""Tracing for the benchmark's traced run: in-memory spans around the
calls the benchmark makes into each module, and a parser for Spark's
uncompressed, unrolled event log.

Spans are recorded from outside the program (the benchmark's own call
sites); Spark work inside a span is attributed through the job group the
benchmark sets before the call, or through the call site Spark records
for each job.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, trace id) kept in memory and written
    as JSON, each with its self time, when the run ends. A disabled tracer
    records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace_id: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "id": idx,
            "name": name,
            "trace_id": trace_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        out = [
            {**s, "self_s": self_time(self.spans, s["id"])} for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


def self_time(spans: list[dict], span_id: int) -> float:
    """A span's duration minus the time its direct children cover."""
    s = spans[span_id]
    kids = sorted(
        (c["start"], c["end"]) for c in spans if c["parent"] == span_id
    )
    covered, cur_end = 0.0, s["start"]
    for a, b in kids:
        a = max(a, cur_end)
        if b > a:
            covered += b - a
            cur_end = b
    return (s["end"] - s["start"]) - covered


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

def parse_event_log(path: str) -> dict:
    """Jobs and stages of one application's event log.

    Returns ``{"jobs": {id: job}, "stages": {id: stage}}``. A job carries
    its job group, call site, submit/end times (epoch ms) and stage ids;
    a stage carries its owning job (the first job that listed it: later
    jobs list a reused stage as skipped) and per-task metrics. A job with
    no Python call site (a ``DataFrameWriter`` save, for one) takes the
    first line of its SQL execution's call stack instead.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    sql_sites: dict[str, str] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {
            "id": sid, "job": None, "name": "", "tasks": [],
            "submit": None, "complete": None,
        })

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev.endswith("SparkListenerSQLExecutionStart"):
                details = e.get("details") or ""
                sql_sites[str(e["executionId"])] = details.split("\n", 1)[0]
            elif ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                jobs[jid] = {
                    "id": jid,
                    "group": props.get("spark.jobGroup.id"),
                    "call_site": props.get("callSite.short") or sql_sites.get(
                        str(props.get("spark.sql.execution.id")), ""
                    ),
                    "submit": e.get("Submission Time"),
                    "end": None,
                    "stages": list(e.get("Stage IDs", [])),
                }
                for sid in jobs[jid]["stages"]:
                    st = stage(sid)
                    if st["job"] is None:
                        st["job"] = jid
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e.get("Completion Time")
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                st = stage(si["Stage ID"])
                st["name"] = si.get("Stage Name", "")
                st["submit"] = si.get("Submission Time")
                st["complete"] = si.get("Completion Time")
            elif ev == "SparkListenerTaskEnd":
                tm = e.get("Task Metrics")
                if not tm:
                    continue
                ti = e["Task Info"]
                sr = tm.get("Shuffle Read Metrics", {})
                sw = tm.get("Shuffle Write Metrics", {})
                stage(e["Stage ID"])["tasks"].append({
                    "launch": ti["Launch Time"],
                    "finish": ti["Finish Time"],
                    "run_ms": tm.get("Executor Run Time", 0),
                    "cpu_ns": tm.get("Executor CPU Time", 0),
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "spill": tm.get("Memory Bytes Spilled", 0)
                    + tm.get("Disk Bytes Spilled", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                })
    return {"jobs": jobs, "stages": stages}


def select_jobs(log: dict, group: str) -> list[dict]:
    """Jobs of job group ``group`` and of its sub-groups
    (``group:<anything>``)."""
    return [
        j for j in log["jobs"].values()
        if j["group"] == group or (j["group"] or "").startswith(group + ":")
    ]


def checkpoint_lineage_jobs(jobs: list[dict]) -> list[dict]:
    """The lineage jobs of a ``plans.checkpoint`` run: per-bucket input
    counts and the read-back of committed files (its ``collect`` call
    sites)."""
    return [
        j for j in jobs
        if j["call_site"].startswith("collect at")
        and "plans/checkpoint.py" in j["call_site"]
    ]


def checkpoint_write_jobs(jobs: list[dict]) -> list[dict]:
    """The other jobs of a ``plans.checkpoint`` run: the parquet sink, its
    adaptive query stages and the detect work they carry."""
    lineage = {j["id"] for j in checkpoint_lineage_jobs(jobs)}
    return [j for j in jobs if j["id"] not in lineage]


def job_stages(log: dict, jobs: list[dict]) -> list[dict]:
    """Stages that ran (had tasks) on behalf of ``jobs``."""
    ids = {j["id"] for j in jobs}
    return [
        s for s in log["stages"].values()
        if s["job"] in ids and s["tasks"]
    ]


def job_wall_s(jobs: list[dict]) -> float:
    return sum(
        (j["end"] - j["submit"]) / 1000.0
        for j in jobs if j["end"] is not None and j["submit"] is not None
    )


def spark_totals(log: dict, jobs: list[dict]) -> dict[str, float]:
    """Job, stage and task counts plus summed task metrics of ``jobs``."""
    stages = job_stages(log, jobs)
    tasks = [t for s in stages for t in s["tasks"]]
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": len(tasks),
        "executor_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
        "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
    }


def kernel_stage_shape(log: dict, jobs: list[dict]) -> dict[str, float]:
    """Shape of the stage with the most executor run time among ``jobs``
    (the kernel stage of a detect pass): its executor run time, slowest
    task over median task, and the time from the median task's finish to
    the last one's."""
    stages = job_stages(log, jobs)
    if not stages:
        return {"run_s": 0.0, "task_skew": 0.0, "tail_s": 0.0, "tasks": 0}
    st = max(stages, key=lambda s: sum(t["run_ms"] for t in s["tasks"]))
    durs = [t["finish"] - t["launch"] for t in st["tasks"]]
    finishes = [t["finish"] for t in st["tasks"]]
    med = statistics.median(durs)
    return {
        "run_s": sum(t["run_ms"] for t in st["tasks"]) / 1e3,
        "task_skew": max(durs) / med if med > 0 else 0.0,
        "tail_s": (max(finishes) - statistics.median(finishes)) / 1000.0,
        "tasks": len(durs),
    }
