"""Freki-style segmentation of raw page content into lines/blocks.

The reference consumes pre-segmented freki files produced offline by
pdf-to-text tooling. Our engine ingests Common-Crawl-style ``pages`` rows
(``url, warc_ts, html, text, lang`` — driver input_hint) and performs the
segmentation itself. Deterministic rules, shared verbatim by the oracle and
the Spark ``mapInPandas`` UDF:

- pages (PDF-text convention): form-feed ``\\f`` separates pages, 1-based.
- blocks: maximal runs of non-blank lines (blank = ``strip() == ''``);
  ``block_id = "{page}-{k}"`` with ``k`` a per-page 1-based counter.
- line numbers: doc-global, 1-based, over non-blank lines only (blank lines
  are separators, not lines — matches the freki sample numbering).
- llx: plain text has no layout, so indentation stands in — llx = leading
  space count (tabs count 4) of the line, block llx = min over its lines
  (mirrors ``line.block.llx`` granularity the features consume).
- fonts: unknown from plain text → every line gets the default ``F0-12.0``
  (font features then never fire, exactly like a single-font freki doc).

HTML rows (``html`` non-null wins over ``text``) are boilerplate-stripped
with deterministic DOM-free heuristics (north_rule: "HTML boilerplate
strip"): drop <script>/<style>/<head> content, block-level tags become
paragraph breaks, <br> a line break, remaining tags stripped, entities
unescaped — then the plain-text segmentation above applies.
"""

from __future__ import annotations

import html as _htmlmod
import re
from dataclasses import dataclass
from typing import Optional

DEFAULT_FONT = ("F0", 12.0)


@dataclass
class SegmentedLine:
    line_no: int          # doc-global, 1-based
    page: int
    block_id: str
    block_llx: float
    line_llx: float
    text: str


_TAB_WIDTH = 4


def _leading_ws(line: str) -> int:
    """Indent width of ``line``: its leading spaces, a tab counting
    ``_TAB_WIDTH``; no other whitespace counts."""
    k = len(line) - len(line.lstrip(" \t"))
    return k + (_TAB_WIDTH - 1) * line.count("\t", 0, k) if k else 0


def segment_text(text: str) -> list[SegmentedLine]:
    """Segment one plain-text document into numbered lines with block ids."""
    out: list[SegmentedLine] = []
    line_no = 0
    pages = text.split("\f")
    for page_idx, page_text in enumerate(pages, start=1):
        block_no = 0
        cur_block: list[tuple[int, str]] = []  # (line_no, text)

        def flush(cur_block, block_no):
            if not cur_block:
                return block_no
            block_no += 1
            block_id = f"{page_idx}-{block_no}"
            llx = float(min(_leading_ws(t) for _, t in cur_block))
            for ln, t in cur_block:
                out.append(
                    SegmentedLine(
                        line_no=ln,
                        page=page_idx,
                        block_id=block_id,
                        block_llx=llx,
                        line_llx=float(_leading_ws(t)),
                        text=t,
                    )
                )
            return block_no

        for raw in page_text.split("\n"):
            line = raw.rstrip("\r")
            if line.strip() == "":
                block_no = flush(cur_block, block_no)
                cur_block = []
            else:
                line_no += 1
                cur_block.append((line_no, line))
        block_no = flush(cur_block, block_no)
    return out


def segment_text_columns(text: str) -> dict[str, list]:
    """Columnar fast path of ``segment_text`` — same rules, but emits
    parallel lists instead of per-line objects (the per-line dataclass
    allocation dominates mega-document segmentation cost). Parity with
    ``segment_text`` is pinned by tests."""
    line_no: list[int] = []
    page_col: list[int] = []
    block_id: list[str] = []
    block_llx: list[float] = []
    line_llx: list[float] = []
    texts: list[str] = []

    n_total = 0
    for page_idx, page_text in enumerate(text.split("\f"), start=1):
        block_no = 0
        blk_start = None  # index into the output arrays
        blk_min_ws = 0
        for raw in page_text.split("\n"):
            line = raw.rstrip("\r")
            if not line.strip():
                if blk_start is not None:
                    llx = float(blk_min_ws)
                    for i in range(blk_start, n_total):
                        block_llx[i] = llx
                    blk_start = None
                continue
            if blk_start is None:
                block_no += 1
                blk_start = n_total
                blk_min_ws = 1 << 30
            ws = _leading_ws(line)
            blk_min_ws = min(blk_min_ws, ws)
            n_total += 1
            line_no.append(n_total)
            page_col.append(page_idx)
            block_id.append(f"{page_idx}-{block_no}")
            block_llx.append(0.0)
            line_llx.append(float(ws))
            texts.append(line)
        if blk_start is not None:
            llx = float(blk_min_ws)
            for i in range(blk_start, n_total):
                block_llx[i] = llx
    return {
        "line_no": line_no,
        "page": page_col,
        "block_id": block_id,
        "block_llx": block_llx,
        "line_llx": line_llx,
        "text": texts,
    }


# ---------------------------------------------------------------------------
# HTML boilerplate strip (deterministic, regex-based)
# ---------------------------------------------------------------------------

_RE_DROP = re.compile(
    r"<(script|style|head|noscript|template|svg)\b[^>]*>.*?</\1\s*>",
    re.I | re.S,
)
_RE_COMMENT = re.compile(r"<!--.*?-->", re.S)
_RE_BR = re.compile(r"<br\s*/?>", re.I)
_BLOCK_TAGS = (
    "p|div|section|article|header|footer|nav|aside|main|h[1-6]|li|ul|ol|"
    "table|tr|td|th|blockquote|pre|figure|figcaption|form|hr"
)
_RE_BLOCK_OPEN = re.compile(r"<(?:%s)\b[^>]*>" % _BLOCK_TAGS, re.I)
_RE_BLOCK_CLOSE = re.compile(r"</(?:%s)\s*>" % _BLOCK_TAGS, re.I)
_RE_ANY_TAG = re.compile(r"<[^>]+>")
_RE_MULTIBLANK = re.compile(r"\n{3,}")


def strip_html(html_bytes: bytes | str) -> str:
    """HTML → plain text with paragraph structure, deterministically."""
    if isinstance(html_bytes, (bytes, bytearray)):
        s = bytes(html_bytes).decode("utf-8", errors="replace")
    else:
        s = html_bytes
    s = _RE_COMMENT.sub(" ", s)
    s = _RE_DROP.sub(" ", s)
    s = _RE_BR.sub("\n", s)
    s = _RE_BLOCK_OPEN.sub("\n\n", s)
    s = _RE_BLOCK_CLOSE.sub("\n\n", s)
    s = _RE_ANY_TAG.sub("", s)
    s = _htmlmod.unescape(s)
    # normalize: strip per-line trailing ws, collapse 3+ blank lines to one
    lines = [ln.rstrip() for ln in s.split("\n")]
    s = "\n".join(lines)
    s = _RE_MULTIBLANK.sub("\n\n", s)
    return s.strip("\n")


# ---------------------------------------------------------------------------
# Main-content extraction (DOM-free density heuristics, north_rule)
# ---------------------------------------------------------------------------

_A_OPEN = "\x02"
_A_CLOSE = "\x03"
_RE_ANCHOR = re.compile(r"<a\b[^>]*>(.*?)</a\s*>", re.I | re.S)
_EN_STOP_SMALL = frozenset(
    "the a an of to in and is are was were that this it for on with as by".split()
)


def _mark_anchors(s: str) -> str:
    return _RE_ANCHOR.sub(lambda m: _A_OPEN + m.group(1) + _A_CLOSE, s)


def main_content_text(
    html_bytes: bytes | str,
    min_block_chars: int = 25,
    max_link_frac: float = 0.4,
    min_stopword_hits: int = 1,
) -> str:
    """Main-content extraction: boilerplate blocks (navigation, footers,
    link farms) are dropped by deterministic density heuristics —
    per-block link-character fraction (chars inside <a> tags), block text
    mass, and function-word presence. DOM-free: anchors are marked with
    sentinels before tag stripping, so the link mass survives into the
    block segmentation. A block is kept iff

        chars ≥ min_block_chars ∧ link_frac ≤ max_link_frac
        ∧ stopword_hits ≥ min_stopword_hits

    (the standard text-density/link-density boilerplate signal, computed
    per block instead of per DOM node)."""
    if isinstance(html_bytes, (bytes, bytearray)):
        s = bytes(html_bytes).decode("utf-8", errors="replace")
    else:
        s = html_bytes
    s = _RE_COMMENT.sub(" ", s)
    s = _RE_DROP.sub(" ", s)
    s = _mark_anchors(s)
    s = _RE_BR.sub("\n", s)
    s = _RE_BLOCK_OPEN.sub("\n\n", s)
    s = _RE_BLOCK_CLOSE.sub("\n\n", s)
    s = _RE_ANY_TAG.sub("", s)
    s = _htmlmod.unescape(s)
    lines = [ln.rstrip() for ln in s.split("\n")]
    s = _RE_MULTIBLANK.sub("\n\n", "\n".join(lines)).strip("\n")

    kept_blocks: list[str] = []
    for block in s.split("\n\n"):
        visible = block.replace(_A_OPEN, "").replace(_A_CLOSE, "")
        stripped = visible.strip()
        if not stripped:
            continue
        # link mass: characters between anchor sentinels
        link_chars = 0
        depth = 0
        for ch in block:
            if ch == _A_OPEN:
                depth += 1
            elif ch == _A_CLOSE:
                depth = max(0, depth - 1)
            elif depth > 0 and not ch.isspace():
                link_chars += 1
        n_chars = sum(1 for ch in stripped if not ch.isspace())
        link_frac = link_chars / n_chars if n_chars else 1.0
        toks = [t.lower() for t in _WORD_SPLIT.findall(visible)]
        sw_hits = sum(1 for t in toks if t in _EN_STOP_SMALL)
        if (
            len(stripped) >= min_block_chars
            and link_frac <= max_link_frac
            and sw_hits >= min_stopword_hits
        ):
            kept_blocks.append(visible)
    return "\n\n".join(kept_blocks)


_WORD_SPLIT = re.compile(r"[A-Za-z']+")


def extract_page_text(
    html: Optional[bytes],
    text: Optional[str],
    html_main_content: bool = False,
) -> str:
    """Pick the page's content source: html wins when present, else text
    (the pdf-to-text path). ``html_main_content`` switches the HTML path
    from plain boilerplate-strip to density-based main-content
    extraction."""
    if html is not None and len(html) > 0:
        if html_main_content:
            return main_content_text(html)
        return strip_html(html)
    return text or ""


def segment_page(html: Optional[bytes], text: Optional[str]) -> list[SegmentedLine]:
    return segment_text(extract_page_text(html, text))
