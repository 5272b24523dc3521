"""Vectorized (Arrow-batch) feature extraction + scoring kernels.

These run inside ``mapInPandas``/``applyInPandas`` on executors.
``BatchFeatures`` factorizes the line texts once and computes every
text-only feature over the *distinct* texts (``text_feature_columns``),
then gathers those boolean columns, and each line's ``word_*`` hits, to
the lines. Only the layout features (``layout_feature_columns``) and the
word-overlap context features run per line. This saves work in
proportion to how often a batch repeats a line; a batch with no repeats
pays the ``factorize`` and the gathers.

Regex features are direct ``pattern.search`` calls over a list of texts —
the same Python ``re`` engine as the oracle (``featurespec``), so parity
is by construction. Token-set features (word_*, has_langname, the OOV
rates) go through one ``TokenIndex`` over the distinct texts: a set
lookup per *distinct* token, then numpy gathers and bincounts.

The scoring kernel materializes the per-document boolean base-feature
matrix and applies the context-decomposed weights (``refmodel``) as numpy
matmuls — no per-line Python in the hot path. ``label_lines`` is the
labelling body every fused-style stage runs (``plans/pipeline.py``, the
chunked score stage): featurize the batch once, score each document.
"""

from __future__ import annotations

import re
from functools import lru_cache
from itertools import chain
from typing import Iterable, Optional

import numpy as np
import pandas as pd

from ..config import (
    PipelineConfig,
    F_HAS_LARGER_FONT,
    F_HAS_NONSTANDARD_FONT,
    F_HAS_SMALLER_FONT,
    F_HIGH_ISCORE,
    F_IS_FIRST_PAGE,
    F_IS_INDENTED,
    F_LOW_ISCORE,
    F_MED_ISCORE,
    F_NEXT_LINE_SAME_BLOCK,
    F_PREV_LINE_SAME_BLOCK,
    T_BASIC,
    T_HAS_ACC,
    T_HAS_ASTERISK,
    T_HAS_BRACKETING,
    T_HAS_CITATION,
    T_HAS_CYR,
    T_HAS_DIA,
    T_HAS_GRAMS,
    T_HAS_GRK,
    T_HAS_JPN,
    T_HAS_KOR,
    T_HAS_LANGNAME,
    T_HAS_LEADING_WHITESPACE,
    T_HAS_NUMBERING,
    T_HAS_PARENTHETICAL,
    T_HAS_QUOTATION,
    T_HAS_UNDERSCORE,
    T_HAS_UNI,
    T_HAS_YEAR,
    T_HIGH_GLS_OOV_RATE,
    T_HIGH_MET_OOV_RATE,
    T_HIGH_OOV_RATE,
    T_MED_OOV_RATE,
)
from ..featurespec import (
    Lexicons,
    _RE_ACC_LAT,
    _RE_BRACKETING,
    _RE_CITATION,
    _RE_CYR,
    _RE_DIA_BUGGY,
    _RE_DIA_FIXED,
    _RE_GRK,
    _RE_HIRAGANA,
    _RE_KANJI,
    _RE_KATAKANA,
    _RE_KOR,
    _RE_LEADING_WS,
    _RE_NUMBERING,
    _RE_PARENTHETICAL,
    _RE_QUOTATION,
    _RE_YEAR,
    _WORD_RE,
)
from ..labels import prev_label_feat
from ..refmodel import ModelWeights


def tokenize_series(texts: pd.Series) -> pd.Series:
    """split_words over a batch: \\w+ findall on the ORIGINAL text, then
    per-token lowercase (reference igtdetect.py:1428-1433; the ':'/'#'
    strip is a no-op on \\w+ tokens).

    NULL CONTRACT: null/NaN text maps to ``[]`` (the ``fillna("")``
    below), the same tokens an empty line yields — deliberate, so
    every output cell is a list and downstream kernels never branch on
    NaN. Callers that must distinguish missing from empty text should
    test for null BEFORE tokenizing (the pipeline pre-fills text, so
    in-engine callers never see the difference).

    Order matters: lowercasing the whole line first can change \\w
    boundaries — 'İ' (U+0130) lowercases to 'i' + U+0307 COMBINING DOT,
    a non-word codepoint, so lower-then-findall splits 'İstanbul' into
    ['i', 'stanbul'] while the reference yields ['i̇stanbul']. U+0130 is
    the ONLY such codepoint in Unicode (exhaustively scanned, pinned in
    tests: every other case mapping is 1:1 with \\w-ness preserved, and
    the other multi-char expansions stay inside \\w), so only rows
    containing it take the token-at-a-time lowercase; everything else
    keeps the fully vectorized lower-then-findall fast path.
    """
    # Direct C calls per line (one lower + one findall) — the earlier
    # pandas form paid _str_map dispatch twice per line plus a third
    # pass for the risky-row check; same values, ~2× faster on mega docs.
    fa = _WORD_RE.findall
    out = [
        [w.lower() for w in fa(t)] if "İ" in t else fa(t.lower())
        for t in texts.fillna("").tolist()
    ]
    return pd.Series(out, index=texts.index, dtype=object)


class TokenIndex:
    """A batch's tokens flattened once and factorized.

    ``tokens`` holds one token list per line (``BatchFeatures`` passes one
    per distinct line text).
    ``rows[k]`` is the line of the k-th token and ``codes[k]`` its slot in
    ``uniques``; ``lens`` counts tokens per line. A token-set feature is
    then one set lookup per distinct token plus a gather — web text
    repeats a small vocabulary, so a batch of 100k tokens typically has
    a few hundred distinct ones."""

    def __init__(self, tokens: pd.Series):
        self.tokens = tokens
        tk = tokens.tolist()
        self.n = len(tk)
        self.lens = np.fromiter(map(len, tk), dtype=np.int64, count=self.n)
        self.rows = np.repeat(np.arange(self.n), self.lens)
        codes, self.uniques = pd.factorize(
            np.array(list(chain.from_iterable(tk)), dtype=object)
        )
        self.codes = codes.astype(np.intp, copy=False)

    def member(self, words) -> np.ndarray:
        """Per token: is it in ``words``."""
        u = self.uniques
        hit = np.fromiter((w in words for w in u), dtype=bool, count=len(u))
        return hit[self.codes]

    def any_per_line(self, tok_mask: np.ndarray) -> np.ndarray:
        out = np.zeros(self.n, dtype=bool)
        out[self.rows[tok_mask]] = True
        return out

    def take_lines(
        self, tok_mask: np.ndarray, codes: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray]:
        """Line i carries the tokens of token-list row ``codes[i]``.
        Returns every (line i, token position k) pair whose token is in
        ``tok_mask``, as two arrays, without a Python loop."""
        hits = np.flatnonzero(tok_mask)
        counts = np.bincount(self.rows[hits], minlength=self.n)
        per = counts[codes]
        rows = np.repeat(np.arange(len(codes)), per)
        # hits are grouped by token-list row (``rows`` is sorted), so the
        # hits of row c are hits[start[c] : start[c] + counts[c]].
        shift = (np.cumsum(counts) - counts)[codes] - (np.cumsum(per) - per)
        return rows, hits[np.repeat(shift, per) + np.arange(len(rows))]

    def rate_per_line(self, tok_mask: np.ndarray) -> np.ndarray:
        """Share of each line's tokens in ``tok_mask`` (0.0 for token-less
        lines): integer count / integer length, one IEEE division — the
        same float as the oracle's ``sum(...) / len(words)``."""
        cnt = np.bincount(self.rows[tok_mask], minlength=self.n)
        return np.divide(
            cnt, self.lens, out=np.zeros(self.n), where=self.lens > 0
        )


_PLAIN_GRAM = re.compile(r"[0-9A-Za-z]+")

# Non-ASCII codepoints that ``re.I`` matches against an ASCII letter but
# ``str.lower()`` does not turn into it: U+0130 (whose lower() is 'i' plus
# a combining dot), and U+0131 and U+017F, which the re module treats as
# case-equivalents of 'i' and 's'. (U+212A KELVIN SIGN lower()s to 'k'.)
_GRAM_FOLD = (("İ", "i"), ("ı", "i"), ("ſ", "s"))


def gram_fold(text: str) -> str:
    """``text`` as ``re.I`` sees it against ASCII letters and digits.

    A ``re.I`` match of an ASCII alphanumeric literal is exactly a
    case-sensitive match of its lower-cased form in ``gram_fold(text)``:
    every codepoint maps to one codepoint (U+0130 is the only one whose
    ``lower()`` expands, and it is folded first), and a codepoint comes
    out as an ASCII letter or digit iff ``re.I`` matches it to that
    letter or digit. Pinned over every codepoint in the tests."""
    for a, b in _GRAM_FOLD:
        text = text.replace(a, b)
    return text.lower()


@lru_cache(maxsize=16)
def _folded_gram_re(grams: tuple[str, ...]):
    """Case-sensitive alternation of the lower-cased grams, to search in
    ``gram_fold``-ed text, when every gram is plain ASCII alphanumeric;
    else None (the gram list is then a regex, not a list of literals)."""
    if not grams or not all(_PLAIN_GRAM.fullmatch(g) for g in grams):
        return None
    return re.compile("|".join(g.lower() for g in grams))


def _search_lines(pat, texts: list[str]) -> np.ndarray:
    f = pat.search
    return np.fromiter(
        (m is not None for m in map(f, texts)), dtype=bool, count=len(texts)
    )


def _folded_lines_matching(pat, texts: list[str]) -> np.ndarray:
    """Which of ``texts`` contain a match of ``pat`` once ``gram_fold``-ed,
    from one ``finditer`` over the folded lines joined by newlines. Exact
    when no match of ``pat`` can contain a newline: every match then lies
    inside one line, and a line with a match always yields one."""
    n = len(texts)
    out = np.zeros(n, dtype=bool)
    if n == 0:
        return out
    ends = np.cumsum(np.fromiter(map(len, texts), dtype=np.int64, count=n) + 1)
    hits = np.fromiter(
        (m.start() for m in pat.finditer(gram_fold("\n".join(texts)))),
        dtype=np.int64,
    )
    out[np.searchsorted(ends, hits, side="right")] = True
    return out


def gram_feature(texts: list[str], lex: Lexicons) -> np.ndarray:
    """has_grams per line: ``lex.gram_re`` (``re.I``) or
    ``lex.gram_cased_re`` finds a match in the line.

    A plain ASCII alphanumeric ``gram_list`` skips the per-line ``re.I``
    search: its lower-cased alternation runs without ``re.I`` over the
    folded batch (``gram_fold``), once over the ASCII lines and once over
    the rest, so that most of the batch is scanned as a one-byte-per-char
    string. Any other gram list keeps the per-line search."""
    n = len(texts)
    v = np.zeros(n, dtype=bool)
    if lex.gram_re is not None:
        fast = _folded_gram_re(tuple(lex.gram_list))
        if fast is None:
            v |= _search_lines(lex.gram_re, texts)
        else:
            ascii_mask = np.fromiter(
                (t.isascii() for t in texts), dtype=bool, count=n
            )
            v[ascii_mask] = _folded_lines_matching(
                fast, [t for t, a in zip(texts, ascii_mask) if a]
            )
            v[~ascii_mask] = _folded_lines_matching(
                fast, [t for t, a in zip(texts, ascii_mask) if not a]
            )
    if lex.gram_cased_re is not None:
        v |= _search_lines(lex.gram_cased_re, texts)
    return v


def text_feature_columns(
    texts: list[str],
    toks: TokenIndex,
    lex: Lexicons,
    cfg: PipelineConfig,
) -> dict[str, np.ndarray]:
    """name → boolean ndarray over ``texts`` for every enabled text feature
    but the ``word_*`` ones (``toks`` indexes the tokens of ``texts``).

    Each feature is a function of the line's text alone, so callers pass
    a batch's *distinct* texts and gather the rows back per line."""
    out: dict[str, np.ndarray] = {}
    if not cfg.text_feats_enabled:
        return out
    # Plain-list + direct ``pattern.search`` beats pandas ``str.contains``
    # ~3× on the regex features (profiled on a 100k-line mega: 0.87 s of
    # the 1.28 s regex cost was pandas ``_str_map`` per-call overhead, not
    # the C regex engine). Per-LINE semantics are unchanged — each search
    # still runs against one line's string.
    n = len(texts)
    te = cfg.enabled_text_feats

    def contains(pat) -> np.ndarray:
        return _search_lines(pat, texts)

    # Every unicode-script class matches only non-ASCII codepoints, and most
    # web-text lines are pure ASCII — evaluate the 9 script regexes on the
    # non-ASCII subset only (bitwise parity, big constant-factor win).
    # str.isascii() is a C flag check — far cheaper than the regex scan it
    # replaced (bitwise-identical: isascii() ⟺ no [^\x00-\x7f] match).
    _non_ascii_mask: np.ndarray | None = None
    _non_ascii_texts: list[str] | None = None

    def contains_nonascii(pat) -> np.ndarray:
        nonlocal _non_ascii_mask, _non_ascii_texts
        if _non_ascii_mask is None:
            _non_ascii_mask = np.fromiter(
                (not t.isascii() for t in texts), dtype=bool, count=n
            )
            _non_ascii_texts = [t for t in texts if not t.isascii()]
        res = np.zeros(n, dtype=bool)
        if _non_ascii_texts:
            res[_non_ascii_mask] = _search_lines(pat, _non_ascii_texts)
        return res

    if T_HAS_LANGNAME in te:
        out[T_HAS_LANGNAME] = toks.any_per_line(toks.member(lex.langnames))
    if T_HAS_GRAMS in te:
        out[T_HAS_GRAMS] = gram_feature(texts, lex)
    if T_HAS_PARENTHETICAL in te:
        out[T_HAS_PARENTHETICAL] = contains(_RE_PARENTHETICAL)
    if T_HAS_CITATION in te:
        out[T_HAS_CITATION] = contains(_RE_CITATION)
    if T_HAS_ASTERISK in te:
        out[T_HAS_ASTERISK] = np.fromiter(
            ("*" in t for t in texts), dtype=bool, count=n
        )
    if T_HAS_UNDERSCORE in te:
        out[T_HAS_UNDERSCORE] = np.fromiter(
            ("_" in t for t in texts), dtype=bool, count=n
        )
    if T_HAS_BRACKETING in te:
        out[T_HAS_BRACKETING] = contains(_RE_BRACKETING)
    if T_HAS_QUOTATION in te:
        out[T_HAS_QUOTATION] = contains(_RE_QUOTATION)
    if T_HAS_NUMBERING in te:
        out[T_HAS_NUMBERING] = contains(_RE_NUMBERING)
    if T_HAS_LEADING_WHITESPACE in te:
        out[T_HAS_LEADING_WHITESPACE] = contains(_RE_LEADING_WS)

    if cfg.real_oov_features:
        rates = {
            key: toks.rate_per_line(~toks.member(ws))
            for key, ws in (("en", lex.en_words), ("gls", lex.gls_words),
                            ("met", lex.met_words))
        }
        if T_HIGH_OOV_RATE in te:
            out[T_HIGH_OOV_RATE] = rates["en"] >= cfg.high_oov
        if T_MED_OOV_RATE in te:
            out[T_MED_OOV_RATE] = (rates["en"] > cfg.med_oov) & (rates["en"] < cfg.high_oov)
        if T_HIGH_GLS_OOV_RATE in te:
            out[T_HIGH_GLS_OOV_RATE] = rates["gls"] > cfg.high_oov
        if T_HIGH_MET_OOV_RATE in te:
            out[T_HIGH_MET_OOV_RATE] = rates["met"] > cfg.high_oov
    # dead-by-default OOV features are always False → never fire →
    # contribute nothing to X nor to fired-name lists; omit entirely.

    hj = hg = hk = hc = ha = hd = None
    need_uni = T_HAS_UNI in te
    if T_HAS_JPN in te or need_uni:
        hj = (
            contains_nonascii(_RE_KANJI)
            | contains_nonascii(_RE_HIRAGANA)
            | contains_nonascii(_RE_KATAKANA)
        )
    if T_HAS_GRK in te or need_uni:
        hg = contains_nonascii(_RE_GRK)
    if T_HAS_KOR in te or need_uni:
        hk = contains_nonascii(_RE_KOR)
    if T_HAS_CYR in te or need_uni:
        hc = contains_nonascii(_RE_CYR)
    if T_HAS_ACC in te or need_uni:
        ha = contains_nonascii(_RE_ACC_LAT)
    if T_HAS_DIA in te or need_uni:
        hd = contains_nonascii(
            _RE_DIA_BUGGY if cfg.buggy_diacritic_class else _RE_DIA_FIXED
        )
    if T_HAS_JPN in te:
        out[T_HAS_JPN] = hj
    if T_HAS_GRK in te:
        out[T_HAS_GRK] = hg
    if T_HAS_KOR in te:
        out[T_HAS_KOR] = hk
    if T_HAS_CYR in te:
        out[T_HAS_CYR] = hc
    if T_HAS_ACC in te:
        out[T_HAS_ACC] = ha
    if T_HAS_DIA in te:
        out[T_HAS_DIA] = hd
    if need_uni:
        out[T_HAS_UNI] = hc | hd | hg | hj | ha | hk
    if T_HAS_YEAR in te:
        out[T_HAS_YEAR] = contains(_RE_YEAR)
    return out


def layout_feature_columns(
    pdf: pd.DataFrame, cfg: PipelineConfig
) -> dict[str, np.ndarray]:
    """name → boolean ndarray per line of ``pdf`` for every enabled layout
    (freki) feature.

    ``pdf`` needs: page, llx, doc_llx_mode, block_id, prev_block_id,
    next_block_id, fonts, def_font_id, def_font_size, iscore.
    """
    out: dict[str, np.ndarray] = {}
    if not cfg.freki_feats_enabled:
        return out
    n = len(pdf)
    fe = cfg.enabled_freki_feats
    if F_IS_INDENTED in fe:
        llx = pdf["llx"].to_numpy(dtype=np.float64, na_value=0.0)
        mode = pdf["doc_llx_mode"].to_numpy(dtype=np.float64, na_value=np.inf)
        out[F_IS_INDENTED] = llx > mode
    if F_IS_FIRST_PAGE in fe:
        out[F_IS_FIRST_PAGE] = (
            pdf["page"].to_numpy(dtype=np.float64, na_value=0) == 1
        )
    if F_PREV_LINE_SAME_BLOCK in fe:
        out[F_PREV_LINE_SAME_BLOCK] = (
            (pdf["prev_block_id"] == pdf["block_id"])
            & pdf["prev_block_id"].notna()
        ).to_numpy(dtype=bool)
    if F_NEXT_LINE_SAME_BLOCK in fe:
        out[F_NEXT_LINE_SAME_BLOCK] = (
            (pdf["next_block_id"] == pdf["block_id"])
            & pdf["next_block_id"].notna()
        ).to_numpy(dtype=bool)

    font_feats = {F_HAS_NONSTANDARD_FONT, F_HAS_SMALLER_FONT, F_HAS_LARGER_FONT} & fe
    if font_feats:
        nonstd = np.zeros(n, dtype=bool)
        smaller = np.zeros(n, dtype=bool)
        larger = np.zeros(n, dtype=bool)
        def_ids = pdf["def_font_id"].to_numpy(dtype=object)
        def_sizes = pdf["def_font_size"].to_numpy(dtype=object)
        for i, fonts in enumerate(pdf["fonts"].to_numpy(dtype=object)):
            if fonts is None:
                continue
            did, dsz = def_ids[i], def_sizes[i]
            for f in fonts:
                fid = f["font_id"] if isinstance(f, dict) else f[0]
                sz = f["size"] if isinstance(f, dict) else f[1]
                if did is not None and (fid != did or sz != dsz):
                    nonstd[i] = True
                elif did is None:
                    nonstd[i] = True
                if dsz is not None and sz < dsz:
                    smaller[i] = True
                if dsz is not None and sz > dsz:
                    larger[i] = True
        if F_HAS_NONSTANDARD_FONT in fe:
            out[F_HAS_NONSTANDARD_FONT] = nonstd
        if F_HAS_SMALLER_FONT in fe:
            out[F_HAS_SMALLER_FONT] = smaller
        if F_HAS_LARGER_FONT in fe:
            out[F_HAS_LARGER_FONT] = larger

    iscore_feats = {F_LOW_ISCORE, F_MED_ISCORE, F_HIGH_ISCORE} & fe
    if iscore_feats:
        sc = pdf["iscore"].to_numpy(dtype=np.float64, na_value=0.0)
        sc = np.nan_to_num(sc, nan=0.0)
        if F_LOW_ISCORE in fe:
            out[F_LOW_ISCORE] = ~(sc >= cfg.low_iscore)
        if F_MED_ISCORE in fe:
            out[F_MED_ISCORE] = sc >= cfg.med_iscore
        if F_HIGH_ISCORE in fe:
            out[F_HIGH_ISCORE] = sc >= cfg.high_iscore
    return out


def overlap_feature_columns(
    pdf: pd.DataFrame,
    tokens: pd.Series,
    cfg: PipelineConfig,
) -> dict[str, np.ndarray]:
    """Word-overlap-with-previous-line features (igtdetect.py:453-470),
    computed against the previous line *of the same document* (url
    transitions reset the context). Off by default."""
    n = len(pdf)
    out = {
        "high_overlap": np.zeros(n, dtype=bool),
        "med_overlap": np.zeros(n, dtype=bool),
        "no_overlap": np.zeros(n, dtype=bool),
    }
    urls = pdf["url"].to_numpy(dtype=object)
    tk = tokens.to_numpy(dtype=object)
    prev_words: set | None = None
    prev_url = None
    for i in range(n):
        if urls[i] != prev_url:
            prev_words = None
            prev_url = urls[i]
        words = tk[i]
        if prev_words is not None and words:
            overlapping = sum(1 for w in words if w in prev_words)
            ratio = overlapping / len(words)
            if ratio > cfg.high_overlap:
                out["high_overlap"][i] = True
            if ratio > cfg.med_overlap:
                out["med_overlap"][i] = True
            if ratio == 0:
                out["no_overlap"][i] = True
        prev_words = set(words)
    return out


class BatchFeatures:
    """A batch's base features, each computed at its own grain.

    ``text`` columns (every text-only feature) and ``toks`` (their token
    index) run once per distinct line text; ``codes[i]`` is line i's slot
    among the distinct texts. ``line`` columns are the layout features
    plus, when enabled, the word-overlap context features, per line."""

    def __init__(self, pdf: pd.DataFrame, lex: Lexicons, cfg: PipelineConfig):
        codes, uniques = pd.factorize(pdf["text"].fillna("").to_numpy(dtype=object))
        texts: list[str] = uniques.tolist()
        self.n = len(pdf)
        self.codes = codes
        self.toks = TokenIndex(tokenize_series(pd.Series(texts, dtype=object)))
        self.text = text_feature_columns(texts, self.toks, lex, cfg)
        self.line = layout_feature_columns(pdf, cfg)
        if cfg.word_overlap and cfg.text_feats_enabled:
            tokens = pd.Series(self.toks.tokens.to_numpy(dtype=object)[codes], dtype=object)
            self.line.update(overlap_feature_columns(pdf, tokens, cfg))
        self.words = cfg.text_feats_enabled and T_BASIC in cfg.enabled_text_feats


def base_feature_matrix(
    pdf: pd.DataFrame,
    lex: Lexicons,
    cfg: PipelineConfig,
    model: ModelWeights,
) -> np.ndarray:
    """(n × B) float64 indicator matrix over the model's base vocabulary.

    ``pdf`` must be in document order within each url (the caller slices
    per-document ranges out of it). The text-only columns are computed
    once per distinct text and gathered per line as booleans; the layout
    and context columns are set per line.
    """
    f = BatchFeatures(pdf, lex, cfg)
    toks, idx, codes = f.toks, model.base_index, f.codes
    X = np.zeros((f.n, model.n_base), dtype=np.float64)
    for name, arr in f.text.items():
        j = idx.get(name)
        if j is not None:
            X[:, j] = arr[codes]
    if f.words:
        # word_* scatter: one column lookup per distinct token, then one
        # fancy-index store of each line's hit tokens (duplicate cells are
        # idempotent).
        widx = model.word_columns
        u = toks.uniques
        col = np.fromiter(
            (widx.get(w, -1) for w in u), dtype=np.int64, count=len(u)
        )[toks.codes]
        rows, k = toks.take_lines(col >= 0, codes)
        X[rows, col[k]] = 1.0
    for name, arr in f.line.items():
        j = idx.get(name)
        if j is not None:
            X[:, j] = arr
    return X


def _fired(cols: dict[str, np.ndarray], n: int) -> list[list[str]]:
    """Per row, the names of ``cols`` that are true there."""
    names = list(cols)
    if not names:
        return [[] for _ in range(n)]
    mat = np.column_stack([cols[c] for c in names])
    return [[names[j] for j in np.flatnonzero(row)] for row in mat]


def fired_name_lists(
    pdf: pd.DataFrame,
    lex: Lexicons,
    cfg: PipelineConfig,
) -> list[list[str]]:
    """Sorted fired base-feature names per line (checkpoint/parity path —
    svmlight invariant: only-true, sorted). Text names are listed once per
    distinct text, like ``base_feature_matrix``'s columns."""
    f = BatchFeatures(pdf, lex, cfg)
    per_text = _fired(f.text, f.toks.n)
    if f.words:
        for names, tk in zip(per_text, f.toks.tokens):
            names.extend("word_" + w for w in tk if w)
    return [
        sorted({*per_text[k], *names})
        for k, names in zip(f.codes, _fired(f.line, f.n))
    ]


# ---------------------------------------------------------------------------
# Scoring kernels
# ---------------------------------------------------------------------------

def score_matrix(
    X: np.ndarray,
    model: ModelWeights,
    cfg: PipelineConfig,
    want_probs: bool = False,
):
    """Score one document's base matrix → (labels, probs|None).

    Batch path unless the model carries prev_tag features and cfg.prev_tag
    is on (then the strict left-to-right greedy decode runs — reference
    cw.test with prev_label_func, igtdetect.py:1140-1146)."""
    if not (cfg.prev_tag and model.has_prev_tag):
        d = model.decision_doc(X)
        labels = [model.classes[i] for i in d.argmax(axis=1)]
        return labels, (model.probabilities(d) if want_probs else None)

    d_static = model.decision_doc(X)
    L = X.shape[0]
    labels: list[str] = []
    probs = np.zeros_like(d_static) if want_probs else None
    prev = "O"
    for i in range(L):
        di = d_static[i]
        j = model.base_index.get(prev_label_feat(prev))
        if j is not None:
            di = di + model.w_cur[:, j]
        k = int(di.argmax())
        if want_probs:
            probs[i] = model.probabilities(di[None, :])[0]
        prev = model.classes[k]
        labels.append(prev)
    return labels, probs


def label_lines(
    frame: pd.DataFrame,
    slices: list[tuple[str, int, int]],
    lex: Lexicons,
    cfg: PipelineConfig,
    model: ModelWeights,
) -> list[str]:
    """Labels for the rows the ``(url, start, stop)`` document ``slices``
    cover, in order: the whole frame is featurized once, then each
    document is scored on its own. Scoring stays per document — the
    sequential prev_tag decode cannot cross documents, and one matmul
    over the whole batch changes decision bits (BLAS blocking depends on
    the row count)."""
    X = base_feature_matrix(frame, lex, cfg, model)
    labels: list[str] = []
    for _, a, b in slices:
        labels.extend(score_matrix(X[a:b], model, cfg)[0])
    return labels


def spans_from_labels(
    urls: np.ndarray,
    line_nos: np.ndarray,
    block_ids: np.ndarray,
    texts: np.ndarray,
    labels: list[str],
    doc_slices: list[tuple[str, int, int]],
    cfg: PipelineConfig,
) -> list[dict]:
    """Detected-span assembly over scored lines (reference classify_docs
    loop semantics incl. block dedup + EOF non-flush quirk; SURVEY §2.4).

    ``doc_slices`` = [(url, start, stop)] row ranges per document.

    A span's text is the concatenation of the **full rendered blocks** it
    touches (the reference writes ``str(line.block)`` — the whole block,
    including any O lines it contains — deduped by block_id in
    first-occurrence order, igtdetect.py:1269-1276)."""
    out: list[dict] = []
    for url, a, b in doc_slices:
        # doc-local full block texts (every line of the doc is in the slice)
        block_text: dict[str, list[str]] = {}
        for i in range(a, b):
            block_text.setdefault(block_ids[i], []).append(texts[i])

        span_no = 0
        cur_blocks: dict[str, None] = {}
        cur_lines: list[int] = []
        cur_tags: list[str] = []

        def flush():
            nonlocal span_no
            if not cur_blocks:
                return
            span_no += 1
            text = "\n".join(
                "\n".join(block_text[bid]) for bid in cur_blocks
            )
            out.append(
                {
                    "url": url,
                    "span_no": span_no,
                    "start_line": int(cur_lines[0]),
                    "end_line": int(cur_lines[-1]),
                    "tags": list(cur_tags),
                    "block_ids": list(cur_blocks.keys()),
                    "text": text,
                }
            )

        for i in range(a, b):
            lab = labels[i]
            if lab == "O":
                if cur_blocks:
                    flush()
                    cur_blocks = {}
                    cur_lines = []
                    cur_tags = []
            else:
                cur_blocks[block_ids[i]] = None
                cur_lines.append(line_nos[i])
                cur_tags.append(lab)
        if cfg.flush_eof_span:
            flush()
    return out
