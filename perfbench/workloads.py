"""The benchmark's workloads: set-up, one timed pass, and the gates that
check every output.

Every action is forced with ``count(1)`` plus ``bit_xor(xxhash64(*))``
over every output column, as ``bench.py`` does, so no projection can be
pruned away. ``detect_uniform`` times one detect pass over its pages
parquet; ``registry_sweep`` times each query's builder plus its forcing
action.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from igtdetect_spark.operators.dedup import release_plan_caches
from igtdetect_spark.operators.schema import SPANS_SCHEMA
from igtdetect_spark.operators.segment import _plain_frame, batch_to_columns
from igtdetect_spark.operators.vectorized import (
    base_feature_matrix,
    score_matrix,
    spans_from_labels,
)
from igtdetect_spark.plans.checkpoint import (
    run_checkpointed_detect,
    verify_complete,
)
from igtdetect_spark.plans.chunked import (
    choose_detect_path,
    chunking_refusal,
    corpus_char_stats,
    detect_spans_auto,
)
from igtdetect_spark.plans.pipeline import (
    DetectContext,
    detect_spans_fused,
    detected_text_df,
)
from igtdetect_spark.oracle.corpus import corpus_rows, make_doc
from igtdetect_spark.sources.pages import read_pages

import oracles
import tracing
from inputs import seeded_lexicons, seeded_model

CORES = 4
SETUP_REPEATS = 3
ORACLE_SAMPLE = 24
KERNEL_SAMPLE_DOCS = 600

# Registry queries timed by the sweep, one per cost class of the 105
# non-flagship queries of the bench list: the per-query floor (tpch_q1),
# a spread-scan consumer (mime_sniff), plan caches released after the
# action (ngram_jaccard), and an iterative graph kernel with per-round
# exchanges and local checkpoints that runs jobs while the frame is built
# (hits_scores).
REGISTRY_QUERIES = ("tpch_q1", "mime_sniff", "ngram_jaccard", "hits_scores")
REGISTRY_SF = 0.01

# sources.pages.PAGES_SCHEMA as an Arrow schema.
PAGES_ARROW = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])


class GateError(Exception):
    """A named correctness gate that failed."""


def forced(df):
    """The forcing aggregate: row count plus an xor of row hashes over
    every output column (maps go through ``to_json``; xxhash64 rejects
    them)."""
    def col(f):
        if "map<" in f.dataType.simpleString():
            return f"to_json(`{f.name}`)"
        return f"`{f.name}`"

    cols = ", ".join(col(f) for f in df.schema.fields)
    return df.selectExpr("count(1) AS n", f"bit_xor(xxhash64({cols})) AS chk")


def force(df) -> tuple[int, int]:
    r = forced(df).collect()[0]
    return int(r["n"]), int(r["chk"] or 0)


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def median_time(fn, repeats: int = SETUP_REPEATS) -> tuple[float, object]:
    """Median wall time of ``repeats`` calls, and the last result."""
    times, out = [], None
    for _ in range(repeats):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    nbytes = nfiles = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                nbytes += os.path.getsize(os.path.join(root, f))
                nfiles += 1
    return nbytes, nfiles


class Workload:
    """Set-up, timed passes and gates of one workload.

    ``run_pass`` returns ``(op_seconds, failures)``: the wall time of every
    timed operation of the pass and the names of the gates it failed."""

    name = ""
    min_passes = 1  # timed passes per run, however short --seconds is

    def __init__(self, spark, seed: int, run_dir: str, tracer: tracing.Tracer):
        self.spark = spark
        self.seed = seed
        self.run_dir = run_dir
        self.tracer = tracer
        self.prepare_s = 0.0
        self.detail: dict = {}
        self.probed: dict = {}

    @contextmanager
    def phase(self, name: str):
        """Time one set-up phase into the run's detail."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.detail.setdefault("setup_phases_s", {})[name] = (
                time.perf_counter() - t0
            )

    def group(self, gid: str, traced: bool) -> None:
        """Job group for the Spark work that follows (traced passes
        only; plain passes share one group so they can be left out)."""
        self.spark.sparkContext.setJobGroup(gid if traced else "plain", gid)

    def setup(self) -> None:
        raise NotImplementedError

    def run_pass(self, i: int, traced: bool) -> tuple[list[float], list[str]]:
        raise NotImplementedError

    def probe(self) -> None:
        """Traced-run measurements taken outside every pass while the
        session is up; stored in ``self.probed``."""

    def layer_metrics(self, log: dict, traced_passes: list[int]) -> dict:
        """Per-layer metrics from the parsed event log and the probes."""
        return dict(self.probed)


# ---------------------------------------------------------------------------
# Detect workload
# ---------------------------------------------------------------------------

class Corpus:
    """A seeded pages parquet: ``n_docs`` synthetic pages, every fifth one
    HTML (the ``synthetic_pages`` mix), plus ``mega_docs`` mega-documents,
    written as ``4 * CORES`` files (the megas in one more). Built in the
    driver from the same ``make_doc`` calls as ``synthetic_pages``, without
    a Spark job per run."""

    def __init__(self, spark, path: str, seed: int, n_docs: int,
                 mega_docs: int = 0, mega_paragraphs: int = 0):
        self.path, self.n_docs, self.mega_docs = path, n_docs, mega_docs
        docs = [make_doc(i, seed=seed, as_html=i % 5 == 1) for i in range(n_docs)]
        # make_doc's lines_target mode is quadratic in the target; a
        # paragraph count gives the same paragraph mix in linear time.
        docs += [
            make_doc(n_docs + k, seed=seed, n_paragraphs=mega_paragraphs)
            for k in range(mega_docs)
        ]
        table = pa.Table.from_pylist(corpus_rows(docs), schema=PAGES_ARROW)
        os.makedirs(path)
        files = 4 * CORES
        step = -(-n_docs // files)
        for k in range(files):
            pq.write_table(
                table.slice(k * step, min(step, n_docs - k * step)),
                os.path.join(path, f"part-{k:05d}.parquet"),
            )
        if mega_docs:
            pq.write_table(
                table.slice(n_docs), os.path.join(path, f"part-{files:05d}.parquet")
            )
        self.pages = read_pages(spark, path)
        pdf = table.select(["url", "html", "text"]).to_pandas()
        pdf["chars"] = [
            len(t) if t is not None else len(h)
            for h, t in zip(pdf["html"], pdf["text"])
        ]
        self.pdf = pdf
        cols, _ = batch_to_columns(pdf["url"], pdf["html"], pdf["text"])
        self.n_lines = len(cols["line_no"])

    def small_docs(self):
        """The pages that are not mega-documents."""
        return self.pdf.nsmallest(len(self.pdf) - self.mega_docs, "chars")

    def path_choice(self, ctx) -> str:
        """The path ``detect_spans_auto`` should take, from the program's
        own cost model over this corpus's shape."""
        if chunking_refusal(ctx) is not None:
            return "fused"
        return choose_detect_path(
            int(self.pdf["chars"].max()), int(self.pdf["chars"].sum()), CORES
        )


def plan_path(df) -> str:
    """The path a detect frame took, read from its logical plan: the fused
    plan has one MapInPandas, the chunked plan three."""
    plan = df._jdf.queryExecution().logical().toString()
    return "chunked" if plan.count("MapInPandas") > 1 else "fused"


class DetectUniform(Workload):
    """Short pages through ``detect_spans_auto``, which must choose the
    fused plan.

    The traced run adds two probes outside the timed passes: the skewed
    corpus (small pages plus one mega-document, which must take the
    chunked plan) and one checkpointed production run
    (``plans.checkpoint``) over the uniform pages."""

    name = "detect_uniform"
    n_docs = 4000
    min_passes = 6
    # Untimed passes after the one beside the reference: pass times settle
    # after about three (JIT-compiled Arrow and scan paths).
    extra_warm_ups = 2
    skew_docs = 2000
    skew_mega_paragraphs = 88_000  # one mega-document: ~250k lines, 10.5M chars
    n_buckets = 32
    per_commit = 8

    def setup(self) -> None:
        spark, seed = self.spark, self.seed
        lex = seeded_lexicons(seed)

        def prepare():
            model = seeded_model(seed, lex)
            return model, DetectContext(spark, model, lex)

        with self.tracer.span("inputs.prepare", "setup"), self.phase("prepare"):
            self.prepare_s, (self.model, self.ctx) = median_time(prepare)
        self.lex = lex
        with self.phase("inputs"):
            self.corpus = Corpus(
                spark, os.path.join(self.run_dir, "pages"), seed, self.n_docs
            )
        self.pages = self.corpus.pages
        self.detail.update(docs=self.n_docs, lines=self.corpus.n_lines)
        self.detail["plans.chunked.path"] = path = self.corpus.path_choice(self.ctx)
        if path != "fused":
            raise GateError(f"plans.chunked.path: chose {path}, expected fused")

        with self.phase("reference"):
            self.expected, warm = self.reference(self.corpus, "setup")
            warm = [warm] + [
                self.detect(self.pages) for _ in range(self.extra_warm_ups)
            ]
        self.detail["spans"], self.detail["checksum"] = self.expected
        for _, got, path in warm:
            if (got, path) != (self.expected, "fused"):
                raise GateError(
                    f"warm-up: spans {got} on the {path} path, expected "
                    f"{self.expected} on the fused path"
                )

    def reference(self, corpus: Corpus, phase: str, megas_to_oracle: int = 0):
        """The fused plan over ``corpus``, the reference every auto pass
        must reproduce and the source of the detected text checked against
        the oracle. One untimed auto pass runs beside it: a mega-document
        holds one core for its whole length in the fused plan, and the
        auto pass uses the others. Returns (expected, auto pass)."""
        with ThreadPoolExecutor(max_workers=1) as pool:
            auto = pool.submit(self.detect, corpus.pages, f"{phase}:auto")
            with self.tracer.span("plans.pipeline.detect_spans_fused", phase):
                self.group(f"{phase}:reference", True)
                ref = detect_spans_fused(corpus.pages, self.ctx).persist()
                expected = force(ref)
            auto = auto.result()
        self.check_oracle(corpus, ref, megas_to_oracle)
        ref.unpersist(blocking=True)
        return expected, auto

    def check_oracle(self, corpus: Corpus, spans, megas: int) -> None:
        """Per-url detected text of ``spans`` equals the pure-Python oracle
        on a seeded sample of small pages plus the ``megas`` largest."""
        pick = pd.concat([
            corpus.small_docs().sample(n=ORACLE_SAMPLE, random_state=self.seed),
            corpus.pdf.nlargest(megas, "chars"),
        ])
        urls = pick["url"].tolist()
        got = {
            r["url"]: r["detected_text"]
            for r in detected_text_df(spans.filter(spans.url.isin(urls))).collect()
        }
        with self.tracer.span("oracle.detected_text", "setup"):
            bad = [
                url for url, html, text in zip(pick["url"], pick["html"], pick["text"])
                if got.get(url, "") != oracles.detected_text(
                    url, html, text, self.model, self.lex, self.ctx.cfg
                )
            ]
        if bad:
            raise GateError(
                f"oracle.detected_text: {len(bad)} of {len(urls)} urls differ, "
                f"e.g. {bad[0]}"
            )

    def detect(self, pages, group: str = "setup:warm-up"):
        """One forced ``detect_spans_auto`` pass: (seconds, (spans,
        checksum), path taken)."""
        self.group(group, True)
        t0 = time.perf_counter()
        df = detect_spans_auto(pages, self.ctx, cores=CORES)
        got = force(df)
        return time.perf_counter() - t0, got, plan_path(df)

    def run_pass(self, i, traced):
        with self.tracer.span("plans.chunked.detect_spans_auto", f"{self.name}:pass{i}"):
            self.group(f"pass:{i}", traced)
            t0 = time.perf_counter()
            df = detect_spans_auto(self.pages, self.ctx, cores=CORES)
            got = force(df)
            dt = time.perf_counter() - t0
        failures = []
        if plan_path(df) != "fused":
            failures.append(f"plans.chunked.path={plan_path(df)}")
        if got != self.expected:
            failures.append(f"spans {got} != fused {self.expected}")
        return [dt], failures

    # -- traced run ----------------------------------------------------------

    def fused_spans(self, pdf, times: dict) -> list[dict]:
        """The fused stage's kernel chain (``detect_spans_fused``) run in
        the driver over ``pdf``; ``times`` collects each kernel's seconds."""
        cfg, model = self.ctx.cfg, self.model
        t0 = time.perf_counter()
        cols, slices = batch_to_columns(
            pdf["url"], pdf["html"], pdf["text"], cfg.html_main_content
        )
        lines = _plain_frame(cols)
        t1 = time.perf_counter()
        X = base_feature_matrix(lines, self.lex, cfg, model)
        t2 = time.perf_counter()
        labels: list[str] = []
        for _, a, b in slices:
            lab, _ = score_matrix(X[a:b], model, cfg)
            labels.extend(lab)
        t3 = time.perf_counter()
        rows = spans_from_labels(
            cols["url"], cols["line_no"], cols["block_id"], cols["text"],
            labels, slices, cfg,
        )
        t4 = time.perf_counter()
        times["lines"] = len(cols["line_no"])
        for k, dt in zip(("segment", "featurize", "score", "spans"),
                         (t1 - t0, t2 - t1, t3 - t2, t4 - t3)):
            times.setdefault(k, []).append(dt)
        return rows

    def kernel_us_per_line(self) -> dict[str, float]:
        """The four flagship kernels, timed in the driver on a pandas slice
        of the workload's own pages; median of three runs after one that
        warms the model's caches."""
        pdf = self.corpus.pdf.sample(n=KERNEL_SAMPLE_DOCS, random_state=self.seed)
        times: dict = {}
        for _ in range(1 + SETUP_REPEATS):
            self.fused_spans(pdf, times)
        n = max(times.pop("lines"), 1)
        return {
            k: statistics.median(v[1:]) * 1e6 / n for k, v in times.items()
        }

    def probe(self) -> None:
        out = self.probed
        k = self.kernel_us_per_line()
        out["operators.segment.us_per_line"] = k["segment"]
        out["operators.vectorized.featurize_us_per_line"] = k["featurize"]
        out["operators.vectorized.score_us_per_line"] = k["score"]
        out["operators.vectorized.spans_us_per_line"] = k["spans"]
        self.group("probe:scan", True)
        with self.tracer.span("sources.pages.read_pages", "probe"):
            out["sources.pages.scan_s"], _ = median_time(
                lambda: force(read_pages(self.spark, self.corpus.path))
            )
        self.group("probe:stats", True)
        with self.tracer.span("plans.chunked.corpus_char_stats", "probe"):
            out["plans.chunked.stats_s"], _ = median_time(
                lambda: corpus_char_stats(self.pages)
            )
        self.probe_checkpoint()
        self.probe_skewed()

    def probe_checkpoint(self) -> None:
        """One ``run_checkpointed_detect`` over the uniform pages: its
        manifest is complete and it commits the reference spans."""
        out_dir = os.path.join(self.run_dir, "checkpoint")
        self.group("probe:checkpoint", True)
        with self.tracer.span("plans.checkpoint.run_checkpointed_detect", "probe"):
            manifest = run_checkpointed_detect(
                self.spark, self.pages, self.ctx, out_dir,
                n_buckets=self.n_buckets, buckets_per_commit=self.per_commit,
            )
        self.group("probe:checkpoint-verify", True)
        complete = verify_complete(out_dir, self.n_buckets)
        got = force(self.spark.read.parquet(out_dir).select(*SPANS_SCHEMA.names))
        self.ckpt_written = dir_size(out_dir)
        shutil.rmtree(out_dir)
        if not complete:
            raise GateError("plans.checkpoint.verify_complete: manifest incomplete")
        if got != self.expected:
            raise GateError(
                f"plans.checkpoint: committed spans {got} != fused {self.expected}"
            )
        if sum(m["n_spans"] for m in manifest.values()) != self.expected[0]:
            raise GateError("plans.checkpoint: manifest n_spans != fused span count")

    def probe_skewed(self) -> None:
        """The skewed corpus through ``detect_spans_auto``: it must take the
        chunked plan and reproduce the fused spans, and the oracle sample
        includes the mega-document (about 30 s of pure-Python oracle)."""
        corpus = Corpus(
            self.spark, os.path.join(self.run_dir, "pages-skewed"), self.seed,
            self.skew_docs, 1, self.skew_mega_paragraphs,
        )
        path = corpus.path_choice(self.ctx)
        self.detail["skewed"] = {
            "docs": len(corpus.pdf), "lines": corpus.n_lines,
            "max_chars": int(corpus.pdf["chars"].max()),
            "plans.chunked.path": path,
        }
        if path != "chunked":
            raise GateError(f"skewed plans.chunked.path: chose {path}, expected chunked")
        expected, _ = self.reference(corpus, "probe:skewed-setup", megas_to_oracle=1)
        with self.tracer.span("plans.chunked.detect_spans_auto", "probe:skewed"):
            dt, got, taken = self.detect(corpus.pages, "probe:skewed")
        self.detail["skewed"].update(pass_s=dt, spans=expected[0])
        self.skewed_lines = corpus.n_lines
        if (got, taken) != (expected, "chunked"):
            raise GateError(
                f"skewed: spans {got} on the {taken} path, expected "
                f"{expected} on the chunked path"
            )

    def layer_metrics(self, log, traced_passes):
        out = dict(self.probed)
        kernel_us = sum(
            out[k] for k in (
                "operators.segment.us_per_line",
                "operators.vectorized.featurize_us_per_line",
                "operators.vectorized.score_us_per_line",
                "operators.vectorized.spans_us_per_line",
            )
        )
        # Executor time per line that the driver-timed kernels do not
        # account for: Arrow serialization and the Python worker hand-off.
        runs = [
            tracing.spark_totals(log, tracing.select_jobs(log, f"pass:{i}"))
            ["executor_run_s"] for i in traced_passes
        ]
        if runs:
            out["plans.pipeline.handoff_us_per_line"] = max(
                statistics.median(runs) * 1e6 / self.corpus.n_lines - kernel_us,
                0.0,
            )

        skewed = tracing.select_jobs(log, "probe:skewed")
        shape = tracing.kernel_stage_shape(log, skewed)
        out["plans.chunked.task_skew"] = shape["task_skew"]
        out["plans.chunked.tail_s"] = shape["tail_s"]
        out["plans.chunked.shuffle_write_bytes"] = tracing.spark_totals(
            log, skewed
        )["shuffle_write_bytes"]

        ckpt = tracing.select_jobs(log, "probe:checkpoint")
        out["plans.checkpoint.write_s"] = tracing.job_wall_s(
            tracing.checkpoint_write_jobs(ckpt)
        )
        out["plans.checkpoint.lineage_s"] = tracing.job_wall_s(
            tracing.checkpoint_lineage_jobs(ckpt)
        )
        out["plans.checkpoint.jobs_per_commit"] = len(ckpt) / -(
            -self.n_buckets // self.per_commit
        )
        out["plans.checkpoint.bytes_written"] = self.ckpt_written[0]
        out["plans.checkpoint.files_written"] = self.ckpt_written[1]
        return out


# ---------------------------------------------------------------------------
# Registry sweep
# ---------------------------------------------------------------------------

class RegistrySweep(Workload):
    """Registry queries on seeded registry tables, in a fixed order (an order
    drawn from the seed decided which query met a cold JVM and moved the
    reading). No flagship kernel work."""

    name = "registry_sweep"
    # Query times keep falling for several passes after the first (JIT
    # and generated-code caches); report the median of three.
    min_passes = 3

    def setup(self) -> None:
        import duckdb

        from igtdetect_spark.entry_queries import oracle_sql, queries
        from tables import TABLES, write_tables

        self.sf_dir = os.path.join(self.run_dir, "tables")
        t0 = time.perf_counter()
        self.detail["table_rows"] = write_tables(
            self.sf_dir, REGISTRY_SF, self.seed
        )
        self.detail["inputs_s"] = time.perf_counter() - t0

        with self.tracer.span("entry_queries.queries", "setup"):
            self.prepare_s, self.builders = median_time(queries)
        osql = oracle_sql()
        self.order = list(REGISTRY_QUERIES)

        con = duckdb.connect()
        for t in TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        # Warm-up pass, which is also the oracle gate: each query's rows
        # must hash like DuckDB's oracle_sql() rows, and the (rows,
        # checksum) of those checked rows is what every timed pass must
        # reproduce.
        self.expected: dict[str, tuple[int, int]] = {}
        bad = []
        timing = {}
        for name in self.order:
            self.group(f"setup:{name}", True)
            t0 = time.perf_counter()
            with self.tracer.span(f"entry_queries.{name}", "setup"):
                df = self.builders[name](self.spark, self.sf_dir)
                rows = df.collect()
                release_plan_caches(df)
            t1 = time.perf_counter()
            self.expected[name] = force(
                self.spark.createDataFrame(rows, df.schema)
            )
            t2 = time.perf_counter()
            if name in osql:
                rel = con.sql(osql[name])
                want = oracles.value_hash(
                    [d[0] for d in rel.description], rel.fetchall()
                )
                if oracles.value_hash(df.columns, rows) != want:
                    bad.append(name)
            timing[name] = {
                "collect_s": t1 - t0, "checksum_s": t2 - t1,
                "duckdb_s": time.perf_counter() - t2, "rows": len(rows),
            }
        self.detail["setup_queries"] = timing
        con.close()
        self.detail["oracle_checked"] = sum(1 for n in self.order if n in osql)
        self.detail["expected"] = {n: list(v) for n, v in self.expected.items()}
        if bad:
            raise GateError("oracle_sql mismatch: " + ", ".join(bad))
        self.leaked = 0
        self.query_rows: list[dict] = []

    def run_pass(self, i, traced):
        ops, failures = [], []
        for name in self.order:
            tid = f"{self.name}:pass{i}"
            row = {"pass": i, "query": name}
            with self.tracer.span(f"entry_queries.{name}", tid):
                self.group(f"pass:{i}:q:{name}:build", traced)
                t0 = time.perf_counter()
                df = self.builders[name](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                agg = forced(df)
                self.group(f"pass:{i}:q:{name}:action", traced)
                if traced:
                    agg._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                r = agg.collect()[0]
                t3 = time.perf_counter()
            got = (int(r["n"]), int(r["chk"] or 0))
            ops.append(t3 - t0)
            with self.tracer.span("operators.dedup.release_plan_caches", tid):
                release_plan_caches(df)
            left = persistent_rdds(self.spark)
            self.leaked = max(self.leaked, left)
            if got != self.expected[name]:
                failures.append(f"{name}: {got} != {self.expected[name]}")
            if traced:
                row.update(build_s=t1 - t0, plan_s=t2 - t1, action_s=t3 - t2,
                           rows=got[0], persistent_rdds_after_release=left)
                self.query_rows.append(row)
        return ops, failures

    def layer_metrics(self, log, traced_passes):
        out = {}
        per_pass = {k: [] for k in ("build_s", "plan_s", "action_s", "build_jobs", "action_jobs")}
        for i in traced_passes:
            rows = [r for r in self.query_rows if r["pass"] == i]
            for k in ("build_s", "plan_s", "action_s"):
                per_pass[k].append(sum(r[k] for r in rows))
            for r in rows:
                b = tracing.select_jobs(log, f"pass:{i}:q:{r['query']}:build")
                a = tracing.select_jobs(log, f"pass:{i}:q:{r['query']}:action")
                r["build_jobs"], r["action_jobs"] = len(b), len(a)
            per_pass["build_jobs"].append(sum(r["build_jobs"] for r in rows))
            per_pass["action_jobs"].append(sum(r["action_jobs"] for r in rows))
        for k, v in per_pass.items():
            if v:
                out[f"entry_queries.{k}"] = statistics.median(v)
        self.detail["queries"] = self.query_rows
        return out


WORKLOADS = {
    w.name: w
    for w in (DetectUniform, RegistrySweep)
}
