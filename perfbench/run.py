"""igtdetect_spark benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One driver process starts a ``local[4]``
session, builds the workload's inputs from ``--seed`` inside
``.bench_run/`` (flagship lexicons and model included), checks the
program's outputs against the oracles, then times passes for ``--seconds``
seconds. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it carries the run's detail (sizes, the detect path taken, per-query rows
and the workload-specific figures such as lines/s and docs/s).

The traced run enables Spark's event log (uncompressed, not rolled), sets
a job group per pass, query and phase, records spans around each call
into the program, alternates traced and plain passes to report the
tracing overhead, and writes ``spans.json`` and ``detail.json`` into its
run directory.

Exit status: 0 when every gate passed, 1 when a gate failed, 2 when the
program is not there to measure.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4


def _percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    v = sorted(values)
    k = max(0, min(len(v) - 1, int(round(q / 100 * len(v) + 0.5)) - 1))
    return v[k]


_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def tree_usage() -> tuple[int, float]:
    """(resident bytes, CPU seconds) of this process and all its
    descendants: the driver JVM, the Python worker daemon and its workers.
    CPU seconds include reaped children (exited workers)."""
    children: dict[int, list[int]] = {}
    usage: dict[int, tuple[int, float]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(d))
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        usage[int(d)] = (pages * _PAGE, ticks / _TICK)
    rss, cpu, todo = 0, 0.0, [os.getpid()]
    while todo:
        p = todo.pop()
        r, c = usage.get(p, (0, 0.0))
        rss, cpu = rss + r, cpu + c
        todo.extend(children.get(p, []))
    return rss, cpu


class RssSampler:
    """Peak resident memory of the driver process tree (``tree_usage``),
    sampled on a background thread while passes run."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_usage()[0])
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, tree_usage()[0])


def ship_package(spark, run_dir: str) -> float:
    """``shipping.ensure_package_shipped`` with the zip built inside the run
    directory. The program's ``package_zip_path`` reuses one zip at a fixed
    path outside the checkout, keyed on file mtimes, so two checkouts
    measured in turn could ship each other's code; this keeps every write
    inside the checkout and always ships this checkout's package."""
    import igtdetect_spark
    from igtdetect_spark import shipping

    pkg = os.path.dirname(os.path.abspath(igtdetect_spark.__file__))
    out = os.path.join(run_dir, "igtdetect_spark_pyfiles.zip")

    def package_zip_path() -> str:
        if not os.path.exists(out):
            with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
                for root, _, files in os.walk(pkg):
                    for f in files:
                        if f.endswith(".py"):
                            full = os.path.join(root, f)
                            z.write(full, os.path.join(
                                "igtdetect_spark", os.path.relpath(full, pkg)
                            ))
        return out

    shipping.package_zip_path = package_zip_path
    t0 = time.perf_counter()
    shipping.ensure_package_shipped(spark)
    return time.perf_counter() - t0


def start_session(run_dir: str, trace: bool):
    from igtdetect_spark.session import build_session

    conf = {"spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")}
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = build_session(
        app_name="igtdetect_spark_perfbench", master=f"local[{CORES}]",
        shuffle_partitions=CORES, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    worker daemon) to exit: it leaves when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def local_dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def between_passes(spark, run_dir: str) -> int:
    """Residue control outside the timed window: collect garbage on both
    sides so Spark's cleaner drops the finished passes' shuffle files, and
    report what is left under the local dirs."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    return local_dir_bytes(os.path.join(run_dir, "spark-local"))


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import tracing
    from workloads import WORKLOADS, GateError, persistent_rdds

    run_dir = os.path.join(
        ROOT, ".bench_run", f"{workload}-seed{seed}-trace{int(trace)}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # Temporary files of Python, the Spark launcher and driver JVMs, and the
    # Python workers stay in the run directory.
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.makedirs(tempfile.tempdir)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tempfile.tempdir} -XX:-UsePerfData"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")

    tracer = tracing.Tracer(trace)
    t_begin = time.perf_counter()
    spark, start_s = start_session(run_dir, trace)
    ship_s = ship_package(spark, run_dir)
    w = WORKLOADS[workload](spark, seed, run_dir, tracer)
    detail: dict = {"workload": workload, "seed": seed, "trace": int(trace)}
    failures: list[str] = []
    ops: list[float] = []
    passes: list[dict] = []
    failed_ops = 0
    rss = RssSampler()
    try:
        try:
            w.setup()
        except GateError as e:
            failures.append(f"setup: {e}")
        if not failures:
            detail["setup_wall_s"] = time.perf_counter() - t_begin
            with rss:
                deadline = time.perf_counter() + seconds
                i = 0
                while True:
                    traced = trace and i % 2 == 0
                    cpu0 = tree_usage()[1]
                    pass_ops, fails = w.run_pass(i, traced)
                    cpu_s = tree_usage()[1] - cpu0
                    n_failed = min(len(fails), len(pass_ops))
                    failed_ops += n_failed
                    failures.extend(f"pass {i}: {f}" for f in fails)
                    ops.extend(pass_ops)
                    passes.append({
                        "pass": i, "traced": traced, "wall_s": sum(pass_ops),
                        "op_s": pass_ops, "cpu_s": cpu_s,
                        "failed": n_failed,
                        "persistent_rdds": persistent_rdds(spark),
                    })
                    t_gc = time.perf_counter()
                    passes[-1]["local_dir_bytes"] = between_passes(spark, run_dir)
                    passes[-1]["between_s"] = time.perf_counter() - t_gc
                    i += 1
                    if time.perf_counter() >= deadline and i >= max(
                        w.min_passes, 2 if trace else 1
                    ):
                        break
        metrics = None
        if trace and not failures:
            try:
                w.probe()
            except GateError as e:
                failures.append(f"probe: {e}")
            metrics = traced_metrics(w, passes, start_s, ship_s)
    finally:
        stop_session(spark)
    if metrics is not None:
        metrics = finish_traced(w, run_dir, metrics, passes)

    detail.update(w.detail)
    detail["run_wall_s"] = time.perf_counter() - t_begin
    detail["passes"] = passes
    detail["failures"] = failures
    if not trace and passes:
        detail.update(end_to_end(w, ops, passes, start_s, ship_s, rss))
        metrics = {k: detail[k] for k in END_TO_END}
    with open(os.path.join(run_dir, "detail.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    if trace:
        tracer.write(os.path.join(run_dir, "spans.json"))
    for sub in ("pages", "pages-skewed", "tables", "spark-local", "tmp",
                "warehouse", "eventlog"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    os.remove(os.path.join(run_dir, "igtdetect_spark_pyfiles.zip"))

    # A set-up or probe gate that fails counts as one more failed operation.
    failed = failed_ops + sum(
        1 for f in failures if f.startswith(("setup:", "probe:"))
    )
    return {
        "detail": detail,
        "result": {
            "correct": not failures,
            "attempted": max(len(ops), failed, 1),
            "failed": failed,
            "metrics": {
                k: {"value": v, "unit": UNITS[k]}
                for k, v in (metrics or {}).items()
            },
        },
    }


def end_to_end(w, ops, passes, start_s, ship_s, rss) -> dict:
    """Every end-to-end metric of an untraced run, plus the figures that
    only some workloads have."""
    pass_s = statistics.median(p["wall_s"] for p in passes)
    out = {
        "setup_s": start_s + ship_s + w.prepare_s,
        "pass_s": pass_s,
        "peak_rss_mb": rss.peak_bytes / 2**20,
        "failed_share": sum(p["failed"] for p in passes) / max(len(ops), 1),
        "ops": len(ops),
    }
    if "lines" in w.detail:
        out["lines_per_s"] = w.detail["lines"] / pass_s
        out["docs_per_s"] = w.detail["docs"] / pass_s
    else:
        out["query_p50_s"] = statistics.median(ops)
        out["query_p90_s"] = _percentile(ops, 90)
    return out


def traced_metrics(w, passes, start_s, ship_s) -> dict:
    """Per-layer figures measured while the session is still up."""
    metrics = {name: 0.0 for name in PER_LAYER}
    metrics["session.start_s"] = start_s
    metrics["shipping.ship_s"] = ship_s
    traced = [p["wall_s"] for p in passes if p["traced"]]
    plain = [p["wall_s"] for p in passes if not p["traced"]]
    if traced and plain:
        metrics["trace.overhead_ratio"] = (
            statistics.median(traced) / statistics.median(plain)
        )
    metrics["operators.dedup.leaked_rdds"] = max(
        [p["persistent_rdds"] for p in passes] + [getattr(w, "leaked", 0)]
    )
    return metrics


def finish_traced(w, run_dir, metrics, passes) -> dict:
    """Per-layer figures read from the event log once the session stopped."""
    import tracing

    log_dir = os.path.join(run_dir, "eventlog")
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    log = tracing.parse_event_log(logs[0])
    traced = [p["pass"] for p in passes if p["traced"]]
    totals = [
        tracing.spark_totals(log, tracing.select_jobs(log, f"pass:{i}"))
        for i in traced
    ]
    for k in totals[0] if totals else ():
        metrics[f"spark.{k}"] = statistics.median(t[k] for t in totals)
    metrics.update(w.layer_metrics(log, traced))
    return metrics


with open(os.path.join(HERE, "..", "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = [m["name"] for m in _SPEC["end_to_end"]]
PER_LAYER = [m["name"] for m in _SPEC["per_layer"]]
UNITS = {m["name"]: m["unit"] for m in _SPEC["end_to_end"] + _SPEC["per_layer"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "igtdetect_spark", "__init__.py")):
        print("perfbench: igtdetect_spark/ not found next to perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"detail": out["detail"]}, default=str))
    print(json.dumps(out["result"]))
    return 0 if out["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
