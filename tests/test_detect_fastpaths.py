"""Exactness of the batch token index and the gram fast path, the
job-free fused decision of ``detect_spans_auto``, chunked-vs-fused parity,
and the fused stages' per-document sequential decode.

Everything is built from the synthetic generator's word pools and a model
trained on its corpus, so no reference data directory is needed.
"""

from __future__ import annotations

import random
import re
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from igtdetect_spark.config import DEFAULT_CONFIG
from igtdetect_spark.featurespec import Lexicons, split_words
from igtdetect_spark.operators.segment import _plain_frame, batch_to_columns
from igtdetect_spark.operators.vectorized import (
    _folded_gram_re,
    base_feature_matrix,
    gram_feature,
    gram_fold,
)
from igtdetect_spark.oracle import corpus as C
from igtdetect_spark.oracle.corpus import doc_from_text, make_doc
from igtdetect_spark.oracle.pipeline import _base_matrix, extract_doc_features
from igtdetect_spark.training import train_model

CFG = DEFAULT_CONFIG.with_(prev_tag=False, real_oov_features=True)


def _lexicons(gram_list=None) -> Lexicons:
    atoms = [a for g in C.GLOSS_TOKENS for a in re.split(r"[-._]", g) if a]
    grams = sorted({a for a in atoms if a.isupper()})
    prose = [w for s in C.PROSE + C.TRANSLATIONS for w in split_words(s)]
    return Lexicons(
        langnames=frozenset(n.lower() for n, _ in C.LANG_NAMES if len(n) >= 5),
        gram_list=(
            sorted({g.lower() for g in grams if len(g) >= 3})
            if gram_list is None else gram_list
        ),
        gram_list_cased=grams,
        en_words=frozenset(prose),
        gls_words=frozenset(a.lower() for a in atoms),
        met_words=frozenset(prose + [a.lower() for a in C.AUTHORS]),
    )


@pytest.fixture(scope="module")
def lex():
    return _lexicons()


def _train(lex, cfg):
    fds, labels = [], []
    for d in C.make_corpus(20, seed=7):
        doc = doc_from_text(d.url, d.text, d.gold_tags)
        for li in extract_doc_features(doc, lex, cfg):
            fds.append(li.feats)
            labels.append(li.norm_label)
    return train_model(fds, labels, max_features=5000, iters=50)


@pytest.fixture(scope="module")
def model(lex):
    return _train(lex, CFG)


# Lines next to which a re.I search and a plain lower-case search could
# part: codepoints re.I folds onto ASCII letters, right beside gram
# strings, grams at both line edges, Cyrillic, token-less lines.
TRICKY = [
    "İstanbul ACC det",
    "DETİ ſacc nom",
    "NOM",
    "aKk ACC",
    "perfſ erg",
    "ERG. ﬆ acc",
    "жена NOM-DAT пишу́",
    "(1)  кни́га   acc",
    "--- ... ---",
    "()",
    "“ ” *",
    "Russian and French are languages",
    "they sent me schulze quechua",
    "det",
    "1sg poss",
    "ıacc ſdat",
    "the poſs",
    "2ſg",
]


def _pages() -> list[tuple[str, str]]:
    pages = [(d.url, d.text) for d in (make_doc(i, seed=11) for i in range(30))]
    rng = random.Random(3)
    for k in range(4):
        lines = TRICKY[:]
        rng.shuffle(lines)
        pages.append((f"http://tricky/{k}", "\n".join(lines[:8]) + "\n\n"
                      + "\n".join(lines[8:])))
    return pages


@pytest.mark.parametrize("variant", ["real_oov", "word_overlap", "fixed_dia"])
def test_base_feature_matrix_equals_oracle_rows(lex, model, variant):
    """Every row of base_feature_matrix equals the oracle's per-line
    features (extract_doc_features → its base matrix), including empty
    lines, token-less lines and non-ASCII case-folding traps."""
    cfg = {
        "real_oov": CFG,
        "word_overlap": CFG.with_(word_overlap=True),
        "fixed_dia": CFG.with_(buggy_diacritic_class=False),
    }[variant]
    if cfg is not CFG:
        model = _train(lex, cfg)
    pages = _pages()
    cols, slices = batch_to_columns(
        [u for u, _ in pages], [None] * len(pages), [t for _, t in pages]
    )
    # Empty lines never come out of segmentation, but scored line tables
    # may hold them: blank a few lines on both sides.
    blank = set(range(5, len(cols["text"]), 97))
    for k in blank:
        cols["text"][k] = ""
    X = base_feature_matrix(_plain_frame(cols), lex, cfg, model)

    for (url, text), (_, a, b) in zip(pages, slices):
        doc = doc_from_text(url, text)
        for k, line in zip(range(a, b), doc.lines()):
            if k in blank:
                line.text = ""
        want = _base_matrix(extract_doc_features(doc, lex, cfg), model)
        np.testing.assert_array_equal(X[a:b], want, err_msg=url)

    fired = X.sum(axis=0)
    for name in ("has_grams", "has_langname", "high_oov_rate",
                 "high_gls_oov", "has_cyr"):
        assert fired[model.base_index[name]] > 0, name
    assert any(fired[j] for n, j in model.base_index.items()
               if n.startswith("word_"))


def test_gram_fast_path_equals_gram_re(lex):
    texts = [line for _, t in _pages() for line in t.split("\n")]
    texts += ["", "K", "ſ", "İ", "ı"]
    assert _folded_gram_re(tuple(lex.gram_list)) is not None
    want = np.array([
        bool(lex.gram_re.search(t) or lex.gram_cased_re.search(t))
        for t in texts
    ])
    np.testing.assert_array_equal(gram_feature(texts, lex), want)
    assert want.any() and not want.all()


def test_gram_list_with_metacharacter_takes_the_regex_path():
    lx = _lexicons(gram_list=["acc", "n.m", "erg"])
    assert _folded_gram_re(tuple(lx.gram_list)) is None
    texts = ["nAm here", "NOM", "xERGx", "none", "İ"]
    got = gram_feature(texts, lx)
    want = [bool(lx.gram_re.search(t) or lx.gram_cased_re.search(t))
            for t in texts]
    assert got.tolist() == want == [True, True, True, False, False]


def test_gram_fold_matches_re_ignorecase_on_every_codepoint():
    """gram_fold keeps every codepoint's position, and yields an ASCII
    letter or digit exactly where re.I matches that letter or digit."""
    chars = "".join(
        chr(c) for c in range(sys.maxunicode + 1) if not 0xD800 <= c <= 0xDFFF
    )
    folded = gram_fold(chars)
    assert len(folded) == len(chars)
    for p in "0123456789abcdefghijklmnopqrstuvwxyz":
        ci = [m.start() for m in re.finditer(p, chars, re.I)]
        assert ci == [m.start() for m in re.finditer(p, folded)], p


# ---------------------------------------------------------------------------
# detect_path_decision
# ---------------------------------------------------------------------------

PAGES_ARROW = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])


@pytest.fixture(scope="module")
def pages_dir(tmp_path_factory):
    docs = [make_doc(i, seed=5, as_html=i % 5 == 1) for i in range(40)]
    rows = [
        {"url": r["url"], "html": r["html"], "text": r["text"],
         "lang": "en" if i % 2 else "de"}
        for i, r in enumerate(C.corpus_rows(docs))
    ]
    d = tmp_path_factory.mktemp("pages")
    table = pa.Table.from_pylist(rows, schema=PAGES_ARROW)
    for k in range(4):
        pq.write_table(table.slice(10 * k, 10), str(d / f"part-{k}.parquet"))
    return d


@pytest.fixture(scope="module")
def ctx(spark, model, lex):
    from igtdetect_spark.plans.pipeline import DetectContext

    return DetectContext(spark, model, lex, CFG)


def _decide(spark, pages, ctx, group, **kw):
    """detect_path_decision under a job group: (path, reason, number of
    Spark jobs it ran). The status tracker learns of jobs from the
    listener bus, in order, so a sentinel job is run afterwards in a
    group of its own and waited for: once it shows, every job of the
    decision's group does too."""
    from igtdetect_spark.plans.chunked import detect_path_decision

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup(group, group)
        path, reason = detect_path_decision(pages, ctx, 4, **kw)
        sc.setJobGroup(group + ":sentinel", group)
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(group + ":sentinel"):
        assert time.monotonic() < deadline, "sentinel job never recorded"
        time.sleep(0.05)
    return path, reason, len(tracker.getJobIdsForGroup(group))


def test_decision_footer_bound_for_parquet_scans(spark, ctx, pages_dir):
    pages = spark.read.parquet(str(pages_dir))
    assert _decide(spark, pages, ctx, "fp:scan") == ("fused", "footer bound", 0)
    filtered = pages.filter("lang = 'en'").select("url", "html", "text")
    assert _decide(spark, filtered, ctx, "fp:filter") == (
        "fused", "footer bound", 0
    )


def test_decision_falls_back_to_stats_when_bound_is_too_large(
    spark, ctx, pages_dir
):
    from igtdetect_spark.plans.chunked import (
        choose_detect_path,
        corpus_char_stats,
        footer_char_bound,
    )

    pages = spark.read.parquet(str(pages_dir))
    mx, tot = corpus_char_stats(pages)
    assert footer_char_bound(pages) >= mx > 10
    path, reason, jobs = _decide(
        spark, pages, ctx, "fp:small-overhead", overhead_chars=10
    )
    assert (path, reason) == (choose_detect_path(mx, tot, 4, 10), "stats")
    assert jobs > 0


def test_decision_uses_stats_for_other_frames(spark, ctx, pages_dir, tmp_path):
    from pyspark.sql import functions as F

    derived = spark.read.parquet(str(pages_dir)).withColumn(
        "text", F.upper("text")
    )
    spark.read.parquet(str(pages_dir)).write.parquet(str(tmp_path / "copy"))
    cached = spark.read.parquet(str(tmp_path / "copy")).cache()
    spark.read.parquet(str(pages_dir)).select("url", "text").write.json(
        str(tmp_path / "json")
    )
    js = spark.read.schema("url string, html binary, text string").json(
        str(tmp_path / "json")
    )
    try:
        for name, df in (("derived", derived), ("cached", cached), ("json", js)):
            path, reason, jobs = _decide(spark, df, ctx, f"fp:{name}")
            assert (path, reason) == ("fused", "stats"), name
            assert jobs > 0, name
    finally:
        cached.unpersist(blocking=True)


def test_decision_refusal_runs_no_job(spark, lex, model, pages_dir):
    from igtdetect_spark.plans.pipeline import DetectContext

    ctx_wo = DetectContext(spark, model, lex, CFG.with_(word_overlap=True))
    derived = spark.read.parquet(str(pages_dir)).selectExpr(
        "url", "html", "upper(text) AS text"
    )
    path, reason, jobs = _decide(spark, derived, ctx_wo, "fp:refused")
    assert path == "fused" and reason.startswith("refused: ")
    assert jobs == 0


def test_auto_with_a_mega_document_takes_the_chunked_plan(
    spark, ctx, pages_dir, tmp_path
):
    """A row group holding a mega-document defeats the footer bound; the
    stats pass then picks the chunked plan, which reproduces fused."""
    from igtdetect_spark.plans.chunked import (
        detect_path_decision,
        detect_spans_auto,
    )
    from igtdetect_spark.plans.pipeline import detect_spans_fused

    mega = make_doc(99, seed=5, n_paragraphs=300)
    table = pa.Table.from_pylist(
        [{"url": mega.url, "html": None, "text": mega.text, "lang": "en"}],
        schema=PAGES_ARROW,
    )
    d = tmp_path / "skewed"
    d.mkdir()
    for f in pages_dir.iterdir():
        (d / f.name).write_bytes(f.read_bytes())
    pq.write_table(table, str(d / "part-mega.parquet"))
    pages = spark.read.parquet(str(d))

    assert detect_path_decision(pages, ctx, 4, overhead_chars=1_000) == (
        "chunked", "stats"
    )
    auto = detect_spans_auto(pages, ctx, cores=4, overhead_chars=1_000)
    plan = auto._jdf.queryExecution().logical().toString()
    assert plan.count("MapInPandas") > 1
    assert _span_rows(auto) == _span_rows(detect_spans_fused(pages, ctx))


def _span_rows(spans) -> list[tuple]:
    """A spans frame's rows, hashable and sorted."""
    key = lambda r: tuple(tuple(v) if isinstance(v, list) else v for v in r)
    return sorted(map(key, spans.collect()))


def test_chunked_with_many_chunks_equals_fused(spark, ctx):
    """Small chunks give every document pre- and post-halos and
    chunk-local spans to stitch; the spans must equal the fused path's."""
    from igtdetect_spark.plans.chunked import detect_spans_chunked
    from igtdetect_spark.plans.pipeline import detect_spans_fused

    docs = [make_doc(i, seed=5, n_paragraphs=12) for i in range(8)]
    pages = spark.createDataFrame(
        [(d.url, None, d.text) for d in docs], "url string, html binary, text string"
    )
    chunked = detect_spans_chunked(pages, ctx, chunk_lines=2, mega_doc_chars=1)
    want = _span_rows(detect_spans_fused(pages, ctx))
    assert len(want) > len(docs)
    assert _span_rows(chunked) == want


# ---------------------------------------------------------------------------
# Sequential (prev_tag) models
# ---------------------------------------------------------------------------

SEQ_CFG = DEFAULT_CONFIG.with_(real_oov_features=True)


@pytest.fixture(scope="module")
def seq_model(lex):
    """Trained with the prev_tag feature: scoring takes the sequential
    greedy decode."""
    m = _train(lex, SEQ_CFG)
    assert SEQ_CFG.prev_tag and m.has_prev_tag
    return m


@pytest.fixture(scope="module")
def seq_ctx(spark, lex, seq_model):
    from igtdetect_spark.plans.pipeline import DetectContext

    return DetectContext(spark, seq_model, lex, SEQ_CFG)


def test_sequential_model_is_refused_by_chunked_and_fused_by_auto(
    spark, seq_ctx, pages_dir
):
    from igtdetect_spark.plans.chunked import detect_spans_chunked

    pages = spark.read.parquet(str(pages_dir))
    with pytest.raises(ValueError, match="sequential"):
        detect_spans_chunked(pages, seq_ctx)
    # a derived column defeats the footer bound, so only the refusal
    # keeps the decision from running the stats pass
    derived = pages.selectExpr("url", "html", "upper(text) AS text")
    path, reason, jobs = _decide(spark, derived, seq_ctx, "fp:sequential")
    assert path == "fused" and reason.startswith("refused: ")
    assert "sequential" in reason
    assert jobs == 0


def test_fused_sequential_decode_equals_oracle_per_document(
    spark, lex, seq_model, seq_ctx, pages_dir
):
    """Each Arrow batch holds several documents; the decode must start
    afresh at every document, as the oracle's does."""
    from igtdetect_spark.oracle.pipeline import (
        detect_spans,
        detected_text,
        score_doc,
    )
    from igtdetect_spark.plans.pipeline import (
        classify_lines_fused,
        detect_spans_fused,
        detected_text_df,
    )
    from igtdetect_spark.segmentation import extract_page_text

    want_lines, want_text = {}, {}
    docs = [make_doc(i, seed=5, as_html=i % 5 == 1) for i in range(40)]
    for r in C.corpus_rows(docs):
        doc = doc_from_text(r["url"], extract_page_text(r["html"], r["text"]))
        inst = extract_doc_features(doc, lex, SEQ_CFG)
        labels, _ = score_doc(inst, seq_model, SEQ_CFG)
        want_lines[r["url"]] = labels
        text = detected_text(detect_spans(doc, labels, SEQ_CFG))
        if text:
            want_text[r["url"]] = text
    assert len(want_text) > len(docs) // 2

    pages = spark.read.parquet(str(pages_dir))
    got_lines = {}
    for r in classify_lines_fused(pages, seq_ctx).collect():
        got_lines.setdefault(r["url"], []).append((r["line_no"], r["pred"]))
    assert {u: [p for _, p in sorted(v)] for u, v in got_lines.items()} == (
        want_lines
    )
    got_text = {
        r["url"]: r["detected_text"]
        for r in detected_text_df(detect_spans_fused(pages, seq_ctx)).collect()
    }
    assert got_text == want_text


# ---------------------------------------------------------------------------
# Featurize once per distinct line text
# ---------------------------------------------------------------------------

FOX = "the quick brown fox"

# The same texts at different indentation (is_indented), in blocks of
# different sizes (prev/next_line_same_block) and after different
# predecessors (the word-overlap features), within and across documents.
REPEATS = [
    ("http://rep/a",
     f"Boilerplate line here\n{FOX}\n{FOX}\n\n    {FOX}\n    1sg ACC det\n\n"
     f"footer text (c) 2019\n\n{FOX}\n\nfooter text (c) 2019"),
    ("http://rep/b",
     f"    {FOX}\n    footer text (c) 2019\n\n  Boilerplate line here\n"
     f"  {FOX} jumps\n\n    1sg ACC det\n    {FOX}"),
    ("http://rep/c", f"{FOX}\n\nBoilerplate line here\n\n{FOX}\n1sg ACC det"),
]

# Lines replaced after segmentation: missing, empty and whitespace-only
# texts, next to each other and to real ones.
HOLES = [None, float("nan"), "", "   ", "\t", None, ""]


def _repeated_batch():
    """(pages, columns, slices, oracle text per row): generator pages
    (which repeat boilerplate) and ``REPEATS``, with ``HOLES`` written
    over a spread of rows."""
    pages = [(d.url, d.text) for d in (make_doc(i, seed=21) for i in range(12))]
    pages = pages[:6] + REPEATS + pages[6:]
    cols, slices = batch_to_columns(
        [u for u, _ in pages], [None] * len(pages), [t for _, t in pages]
    )
    want_text = list(cols["text"])
    rows = range(3, len(want_text), len(want_text) // (2 * len(HOLES)))
    for k, hole in zip(rows, HOLES * 2):
        cols["text"][k] = hole
        want_text[k] = hole if isinstance(hole, str) else ""
    return pages, cols, slices, want_text


def _oracle_docs(pages, slices, want_text, lex, cfg):
    """Per page: (row range, the oracle's LineInstances) over the same
    texts as the batch."""
    for (url, text), (_, a, b) in zip(pages, slices):
        doc = doc_from_text(url, text)
        for line, t in zip(doc.lines(), want_text[a:b]):
            line.text = t
        yield a, b, extract_doc_features(doc, lex, cfg)


@pytest.mark.parametrize("overlap", [False, True], ids=["default", "word_overlap"])
def test_repeated_lines_equal_oracle_rows(lex, overlap):
    from igtdetect_spark.operators.vectorized import BatchFeatures

    cfg = CFG.with_(word_overlap=overlap)
    model = _train(lex, cfg)
    pages, cols, slices, want_text = _repeated_batch()
    frame = _plain_frame(cols)
    f = BatchFeatures(frame, lex, cfg)
    assert f.toks.n < len(frame)
    X = base_feature_matrix(frame, lex, cfg, model)
    for a, b, inst in _oracle_docs(pages, slices, want_text, lex, cfg):
        np.testing.assert_array_equal(X[a:b], _base_matrix(inst, model))

    # One text on several lines, in several documents: the per-line
    # columns must tell those lines apart.
    rows = [i for i, t in enumerate(want_text) if t.strip() == FOX]
    assert len({cols["url"][i] for i in rows}) == len(REPEATS)
    varying = ["is_indented", "prev_line_same_block", "next_line_same_block"]
    if overlap:
        varying += ["high_overlap", "no_overlap"]
    for name in varying:
        assert any(
            len(set(f.line[name][f.codes == c])) == 2 for c in set(f.codes)
        ), name


def test_all_distinct_batch_equals_oracle_rows(lex, model):
    from igtdetect_spark.operators.vectorized import BatchFeatures

    pages, cols, slices, want_text = _repeated_batch()
    for k, t in enumerate(want_text):
        if t.strip():
            cols["text"][k] = want_text[k] = f"{t} {k}"
    # one hole of each kind is all a distinct batch may hold
    cols["text"] = [
        t if isinstance(t, str) and t.strip() else "" for t in cols["text"]
    ]
    want_text = [t if t.strip() else "" for t in want_text]
    blank = [k for k, t in enumerate(cols["text"]) if not t]
    for k in blank[1:]:
        cols["text"][k] = want_text[k] = f"{k}"
    cols["text"][blank[0]] = None
    frame = _plain_frame(cols)
    f = BatchFeatures(frame, lex, CFG)
    np.testing.assert_array_equal(f.codes, np.arange(len(frame)))
    X = base_feature_matrix(frame, lex, CFG, model)
    for a, b, inst in _oracle_docs(pages, slices, want_text, lex, CFG):
        np.testing.assert_array_equal(X[a:b], _base_matrix(inst, model))


@pytest.mark.parametrize("overlap", [False, True], ids=["default", "word_overlap"])
def test_fired_name_lists_equal_oracle_names(lex, overlap):
    """The svmlight operator's fired names come from the same per-text
    and per-line columns, and equal the oracle's current-line names."""
    from igtdetect_spark.operators.vectorized import fired_name_lists
    from igtdetect_spark.refmodel import split_prefix

    cfg = CFG.with_(word_overlap=overlap)
    pages, cols, slices, want_text = _repeated_batch()
    got = fired_name_lists(_plain_frame(cols), lex, cfg)

    def base(name):
        ctx, b = split_prefix(name)
        return ctx == "cur" and not b.startswith("prev_tag_")

    for a, b, inst in _oracle_docs(pages, slices, want_text, lex, cfg):
        want = [sorted(k for k, v in li.feats.items() if v and base(k))
                for li in inst]
        assert got[a:b] == want
    flat = {n for names in got for n in names}
    assert {"is_indented", "has_grams", "has_langname"} <= flat
    assert any(n.startswith("word_") for n in flat)
    assert ("high_overlap" in flat) == overlap


def test_leading_ws_counts_only_spaces_and_tabs():
    from igtdetect_spark.segmentation import _TAB_WIDTH, _leading_ws

    def loop(line):  # the per-character definition
        n = 0
        for ch in line:
            if ch == " ":
                n += 1
            elif ch == "\t":
                n += _TAB_WIDTH
            else:
                break
        return n

    rng = random.Random(17)
    alphabet = [" ", "\t", "　", "\xa0", "\x0b", "a"]
    lines = ["", " ", "\t", "a", " \t a", "　 x"] + [
        "".join(rng.choices(alphabet, k=rng.randrange(12)))
        for _ in range(5000)
    ]
    assert [_leading_ws(t) for t in lines] == [loop(t) for t in lines]
    assert _leading_ws(" \t\xa0 x") == 1 + _TAB_WIDTH


def _inferred_frame(cols):
    """``_plain_frame`` as pandas would infer it from the lists."""
    import pandas as pd

    from igtdetect_spark.segmentation import DEFAULT_FONT

    pdf = pd.DataFrame(cols)
    pdf["fonts"] = None
    pdf["def_font_id"] = DEFAULT_FONT[0]
    pdf["def_font_size"] = DEFAULT_FONT[1]
    pdf["iscore"] = None
    return pdf


def test_plain_frame_equals_inferred_frame():
    import pandas as pd

    _, cols, _, _ = _repeated_batch()
    got, want = _plain_frame(cols), _inferred_frame(cols)
    assert got.dtypes.to_dict() == want.dtypes.to_dict()
    assert got.dtypes["line_no"] == np.int64 and got.dtypes["llx"] == np.float64
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_plain_frame_equals_inferred_frame_for_chunk_frames(spark):
    import pandas as pd

    from igtdetect_spark.plans.chunked import (
        chunk_frame_columns,
        split_mega_pages,
    )

    docs = [make_doc(i, seed=5, n_paragraphs=12) for i in range(3)]
    pages = spark.createDataFrame(
        [(d.url, None, d.text) for d in docs], "url string, html binary, text string"
    )
    chunks = split_mega_pages(pages, chunk_lines=15).toPandas()
    assert len(chunks) > len(docs)
    framed = 0
    for r in chunks.itertuples(index=False):
        cols, body = chunk_frame_columns(r)
        framed += body.start > 0
        got, want = _plain_frame(cols), _inferred_frame(cols)
        assert got.dtypes.to_dict() == want.dtypes.to_dict()
        pd.testing.assert_frame_equal(got, want, check_exact=True)
    assert framed  # some chunks carry a pre-halo
