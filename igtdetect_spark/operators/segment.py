"""Segmentation operator: ``pages`` → ``lines`` (SURVEY.md §2.1 Freki scan).

``mapInPandas`` over pages batches — each input row is a whole document, so
segmentation, doc-level stats (llx mode / default font, deterministic
first-occurrence tie-break) and line adjacency (prev/next block id) are all
computed document-locally and denormalized onto the emitted rows. The
feature stage downstream therefore needs **no shuffle, no window, no join**
— the one shape that survives a 1000-executor 100 TB scan unchanged.

Hot path is columnar (``segment_text_columns``): per-line Python objects
are never allocated — a 100k-line mega-document segments in ~0.2 s.

A generic window/agg path for pre-sharded line tables lives in
``doc_stats.py``; both are parity-tested against the oracle.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType

from ..oracle.freki import FrekiDoc, parse_freki, safe_mode
from ..segmentation import DEFAULT_FONT, extract_page_text, segment_text_columns
from .schema import LINES_SCHEMA

_COLS = [f.name for f in LINES_SCHEMA.fields]


def doc_columns(url: str, content: str) -> Optional[dict[str, list]]:
    """Columnar lines for one plain-text document, with denormalized
    adjacency + doc stats. None if the document has no lines."""
    c = segment_text_columns(content)
    n = len(c["line_no"])
    if n == 0:
        return None
    bid = c["block_id"]
    c["url"] = [url] * n
    c["llx"] = c.pop("block_llx")
    c["prev_block_id"] = [None] + bid[:-1]
    c["next_block_id"] = bid[1:] + [None]
    c["doc_llx_mode"] = [safe_mode(c["llx"])] * n
    return c


def _append_doc(cols: dict[str, list], doc: dict[str, list]) -> None:
    for k, v in doc.items():
        cols[k].extend(v)


def _empty_cols() -> dict[str, list]:
    return {
        k: []
        for k in (
            "url", "line_no", "page", "block_id", "llx", "line_llx",
            "text", "prev_block_id", "next_block_id", "doc_llx_mode",
        )
    }


def batch_to_columns(
    urls, htmls, texts, html_main_content: bool = False
) -> tuple[dict[str, list], list[tuple[str, int, int]]]:
    """Segment a batch of pages into one columnar frame + per-doc row
    slices [(url, start, stop)]."""
    cols = _empty_cols()
    slices: list[tuple[str, int, int]] = []
    n = 0
    for url, html, text in zip(urls, htmls, texts):
        content = extract_page_text(
            bytes(html) if html is not None else None, text,
            html_main_content=html_main_content,
        )
        doc = doc_columns(url, content)
        if doc is None:
            continue
        _append_doc(cols, doc)
        start = n
        n = len(cols["line_no"])
        slices.append((url, start, n))
    return cols, slices


# numpy dtype of each numeric LINES_SCHEMA column; the rest are object.
_NP_DTYPES = {
    f.name: np.int64 if isinstance(f.dataType, IntegerType) else np.float64
    for f in LINES_SCHEMA.fields
    if isinstance(f.dataType, (IntegerType, DoubleType))
}


def _typed(name: str, values: list, n: int) -> np.ndarray:
    """One column of ``_plain_frame`` as the array ``pd.DataFrame`` would
    infer for it, built without the per-cell inference."""
    dtype = _NP_DTYPES.get(name)
    if dtype is not None:
        return np.array(values, dtype=dtype)
    out = np.empty(n, dtype=object)
    out[:] = values
    return out


def _plain_frame(cols: dict[str, list]) -> pd.DataFrame:
    """Internal scoring frame for plain-text pages: no font info (all
    lines carry the single default font ⇒ font features are identically
    False, so the font columns are nulled and the font loop is skipped).

    Columns come in typed — int64 line numbers and pages, float64 llx
    values, object for the rest — so pandas infers nothing per cell."""
    n = len(cols["line_no"])
    data = {k: _typed(k, v, n) for k, v in cols.items()}
    data["fonts"] = np.full(n, None, dtype=object)
    data["def_font_id"] = np.full(n, DEFAULT_FONT[0], dtype=object)
    data["def_font_size"] = np.full(n, DEFAULT_FONT[1], dtype=np.float64)
    data["iscore"] = np.full(n, None, dtype=object)
    return pd.DataFrame(data, copy=False)


def segment_pages(pages: DataFrame, html_main_content: bool = False) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → lines DataFrame."""

    fid, fsize = DEFAULT_FONT

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols, _ = batch_to_columns(
                pdf["url"], pdf["html"], pdf["text"], html_main_content
            )
            n = len(cols["line_no"])
            out = pd.DataFrame(cols)
            font_cell = [{"font_id": fid, "size": fsize}]
            out["fonts"] = [font_cell] * n
            out["tag"] = "O"
            out["span_id"] = None
            out["lang_name"] = None
            out["lang_code"] = None
            out["iscore"] = None
            out["attrs"] = None
            out["def_font_id"] = fid
            out["def_font_size"] = fsize
            yield out[_COLS] if n else pd.DataFrame(columns=_COLS)

    # only the columns segmentation needs reach Python (column pruning)
    return pages.select("url", "html", "text").mapInPandas(
        gen, schema=LINES_SCHEMA
    )


def rows_for_freki_doc(url: str, doc: FrekiDoc) -> Iterable[dict]:
    """Flatten a parsed FrekiDoc into lines rows (freki-file parity path)."""
    lines = list(doc.lines())
    if not lines:
        return
    def_font = safe_mode(doc.fonts())
    llx_mode = safe_mode(doc.llxs())
    n = len(lines)
    for i, ln in enumerate(lines):
        iscore = ln.attrs.get("iscore")
        yield {
            "url": url,
            "line_no": ln.lineno,
            "page": ln.block.page,
            "block_id": ln.block.block_id,
            "llx": ln.block.llx,
            "line_llx": ln.block.llx,
            "text": ln.text,
            "fonts": [{"font_id": f, "size": s} for f, s in ln.fonts],
            "tag": ln.tag,
            "span_id": ln.span_id,
            "lang_name": ln.lang_name,
            "lang_code": ln.lang_code,
            "iscore": float(iscore) if iscore is not None else None,
            "attrs": dict(ln.attrs) if ln.attrs else None,
            "prev_block_id": lines[i - 1].block.block_id if i > 0 else None,
            "next_block_id": lines[i + 1].block.block_id if i < n - 1 else None,
            "doc_llx_mode": llx_mode,
            "def_font_id": def_font[0] if def_font else None,
            "def_font_size": def_font[1] if def_font else None,
        }


def render_freki_df(lines: DataFrame, tag_col: str = "tag") -> DataFrame:
    """Classified-doc sink: re-serialize lines to freki text per url
    (reference str(fd) write, igtdetect.py:1281) — grouped-map UDF, one
    group per document, byte-parity with the oracle renderer (it IS the
    oracle renderer, fed from columns). Output: (url, freki_text)."""
    from ..oracle.freki import FrekiBlock, FrekiDoc, FrekiLine

    def render(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("line_no", kind="mergesort")
        url = pdf["url"].iloc[0]
        doc = FrekiDoc(url)
        blocks: dict[str, FrekiBlock] = {}
        for r in pdf.itertuples(index=False):
            b = blocks.get(r.block_id)
            if b is None:
                b = FrekiBlock(
                    doc_id=url, page=int(r.page), block_id=r.block_id,
                    bbox=(float(r.llx or 0.0), 0.0, 0.0, 0.0),
                    start_line=int(r.line_no), stop_line=int(r.line_no),
                )
                blocks[r.block_id] = b
                doc.add_block(b)
            raw_fonts = r.fonts if r.fonts is not None else []
            fonts = [
                (f["font_id"], f["size"]) if isinstance(f, dict) else tuple(f)
                for f in raw_fonts
            ]
            ln = FrekiLine(
                lineno=int(r.line_no), text=r.text or "",
                tag=getattr(r, tag_col) or "O",
                span_id=r.span_id, lang_name=r.lang_name,
                lang_code=r.lang_code, fonts=fonts,
            )
            ln.block = b
            b.lines.append(ln)
            b.stop_line = int(r.line_no)
            doc._by_lineno[ln.lineno] = ln
        return pd.DataFrame({"url": [url], "freki_text": [doc.render()]})

    cols = [
        "url", "line_no", "page", "block_id", "llx", "text", "fonts",
        "span_id", "lang_name", "lang_code",
    ]
    if tag_col not in cols:
        cols.append(tag_col)
    return lines.select(*cols).groupBy("url").applyInPandas(
        render, schema="url string, freki_text string"
    )


def segment_freki_files(spark, paths: list[str]) -> DataFrame:
    """Read freki text files (one doc per file) → lines DataFrame.

    Files are read distributed (``spark.read.text`` wholetext) so the
    parser runs on executors.
    """
    raw = spark.read.text(paths, wholetext=True).withColumn(
        "path", F.input_file_name()
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for path, value in zip(pdf["path"], pdf["value"]):
                doc = parse_freki(value)
                url = doc.doc_id or path
                rows.extend(rows_for_freki_doc(url, doc))
            yield pd.DataFrame(rows, columns=_COLS)

    return raw.mapInPandas(gen, schema=LINES_SCHEMA)
