"""Classifier-weight extraction from the reference's pickled model.

The reference ships gzipped pickles of ``riples_classifier``'s
``LogisticRegressionWrapper`` (``/root/reference/data/igt-classifier-nobio.model``;
structure verified in SURVEY.md §0): a DictVectorizer (``dv``), a chi²
SelectKBest (``feat_selector``) and a liblinear one-vs-rest
LogisticRegression (``learner``). Neither riples_classifier, freki nor
sklearn is installed here, so we unpickle with a stub ``find_class`` that
captures ``__setstate__`` dicts — numpy (installed) is enough to carry the
arrays.

The extracted model is folded into four dense weight matrices over the
*base* feature space (prefixes ``prev_`` / ``prev_prev_`` / ``next_``
stripped, reference ``igtdetect/igtdetect.py:225-257``), so per-document
scoring becomes

    decision[n] = X[n] @ W0.T + X[n-1] @ Wp.T + X[n-2] @ Wpp.T
                + X[n+1] @ Wn.T + intercept

with ``X`` the boolean base-feature indicator matrix of the document —
pure numpy matrix products inside one Arrow batch, no per-row Python.
"""

from __future__ import annotations

import gzip
import pickle
from dataclasses import dataclass, field
from functools import cached_property

import numpy as np


class _Stub:
    def __init__(self, *a, **k):
        pass

    def __setstate__(self, state):
        if isinstance(state, dict):
            self.__dict__.update(state)
        else:
            self.__dict__["_state"] = state


class _StubUnpickler(pickle.Unpickler):
    """Unpickler that substitutes stub classes for unavailable modules."""

    _REAL = ("numpy", "copyreg", "builtins", "collections")

    def find_class(self, module, name):
        if module.split(".")[0] in self._REAL:
            try:
                return super().find_class(module, name)
            except Exception:
                pass
        return type(name, (_Stub,), {"_module": module, "_name": name})


def _clean_nans(scores: np.ndarray) -> np.ndarray:
    # sklearn's SelectKBest replaces NaN scores with -inf before ranking.
    scores = np.asarray(scores, dtype=np.float64).copy()
    scores[np.isnan(scores)] = np.finfo(scores.dtype).min
    return scores


def _select_k_best_mask(scores: np.ndarray, k: int) -> np.ndarray:
    """Support mask of SelectKBest(chi2, k) — stable mergesort top-k,
    matching sklearn's ``_get_support_mask`` (public sklearn behavior)."""
    scores = _clean_nans(scores)
    if k in (-1, "all") or k >= scores.shape[0]:
        return np.ones(scores.shape[0], dtype=bool)
    mask = np.zeros(scores.shape, dtype=bool)
    mask[np.argsort(scores, kind="mergesort")[-k:]] = True
    return mask


_PREFIXES = (("prev_prev_", "prev_prev"), ("prev_", "prev"), ("next_", "next"))

# Static base feature names (needed to disambiguate context prefixes from
# base names that *start with* a prefix — e.g. ``prev_line_same_block`` is a
# base feature, while ``prev_prev_line_same_block`` is its prev_-copy).
_KNOWN_BASE = frozenset([
    "is_indented", "is_first_page", "prev_line_same_block",
    "next_line_same_block", "has_nonstandard_font", "has_smaller_font",
    "has_larger_font", "f_high_iscore", "f_med_iscore", "f_low_iscore",
    "has_langname", "has_grams", "has_parenthetical", "has_citation",
    "has_asterisk", "has_underscore", "has_bracketing", "has_quotation",
    "has_numbering", "has_leading_whitespace", "high_oov_rate",
    "med_oov_rate", "high_gls_oov", "high_met_oov", "med_gls_oov",
    "has_jpn", "has_grk", "has_kor", "has_cyr", "has_acc_lat", "has_dia",
    "has_uni", "has_year", "high_overlap", "med_overlap", "no_overlap",
])


def _is_base(name: str) -> bool:
    return (
        name in _KNOWN_BASE
        or name.startswith("word_")
        or name.startswith("prev_tag_")
    )


def split_prefix(name: str) -> tuple[str, str]:
    """Split a model feature name into (context, base_name).

    Context widening applies exactly one prefix to a base name
    (``igtdetect.py:225-257``), so resolution is: if the whole name is a
    base name keep it; else strip the longest prefix whose remainder is a
    valid base name. ``prev_tag_*`` is NOT a context copy — it's the
    sequential-decode feature (``igtdetect.py:304-305``)."""
    if _is_base(name):
        return ("cur", name)
    for p, ctx in _PREFIXES:
        if name.startswith(p) and _is_base(name[len(p):]):
            return (ctx, name[len(p):])
    return ("cur", name)


@dataclass
class ModelWeights:
    """Flattened classifier: everything scoring needs, numpy-only.

    ``base_names``/``base_index``: the de-prefixed feature vocabulary.
    ``w_cur/w_prev/w_prev_prev/w_next``: (C × B) dense weight matrices.
    ``intercept``: (C,). ``classes``: label per row.
    """

    classes: list[str]
    base_names: list[str]
    base_index: dict[str, int]
    w_cur: np.ndarray
    w_prev: np.ndarray
    w_prev_prev: np.ndarray
    w_next: np.ndarray
    intercept: np.ndarray
    # raw view (full selected-feature space) for parity/debug
    feature_names: list[str] = field(default_factory=list, repr=False)
    coef_full: np.ndarray | None = field(default=None, repr=False)

    @property
    def n_classes(self) -> int:
        return len(self.classes)

    @property
    def n_base(self) -> int:
        return len(self.base_names)

    @cached_property
    def has_prev_tag(self) -> bool:
        """Whether the vocabulary carries sequential-decode features."""
        return any(k.startswith("prev_tag_") for k in self.base_index)

    @cached_property
    def word_columns(self) -> dict[str, int]:
        """token → base column of its ``word_<token>`` feature."""
        return {
            k[5:]: j for k, j in self.base_index.items() if k.startswith("word_")
        }

    def decision_doc(self, X: np.ndarray) -> np.ndarray:
        """Per-line OvR decision values for one document.

        :param X: (L × B) boolean/float base-feature indicator matrix in
            line order.
        :returns: (L × C) decision matrix.
        """
        X = np.asarray(X, dtype=np.float64)
        L = X.shape[0]
        d = X @ self.w_cur.T + self.intercept
        if L > 1:
            d[1:] += X[:-1] @ self.w_prev.T
            d[:-1] += X[1:] @ self.w_next.T
        if L > 2:
            d[2:] += X[:-2] @ self.w_prev_prev.T
        return d

    def probabilities(self, decision: np.ndarray) -> np.ndarray:
        """liblinear OvR probabilities: per-class sigmoid, L1-normalized
        (sklearn's ovr ``predict_proba``). argmax(prob) == argmax(decision)
        since the sigmoid is monotone."""
        p = 1.0 / (1.0 + np.exp(-decision))
        s = p.sum(axis=1, keepdims=True)
        s[s == 0.0] = 1.0
        return p / s

    def predict_doc(self, X: np.ndarray) -> list[str]:
        d = self.decision_doc(X)
        return [self.classes[i] for i in d.argmax(axis=1)]

    def as_broadcastable(self) -> dict:
        """Plain-dict form for ``SparkContext.broadcast`` (no class pickle
        coupling between driver and executors)."""
        return {
            "classes": self.classes,
            "base_names": self.base_names,
            "w_cur": self.w_cur,
            "w_prev": self.w_prev,
            "w_prev_prev": self.w_prev_prev,
            "w_next": self.w_next,
            "intercept": self.intercept,
        }

    @classmethod
    def from_broadcastable(cls, d: dict) -> "ModelWeights":
        return cls(
            classes=list(d["classes"]),
            base_names=list(d["base_names"]),
            base_index={n: i for i, n in enumerate(d["base_names"])},
            w_cur=d["w_cur"],
            w_prev=d["w_prev"],
            w_prev_prev=d["w_prev_prev"],
            w_next=d["w_next"],
            intercept=d["intercept"],
        )

    @classmethod
    def from_arrays(cls, classes, feature_names, coef, intercept) -> "ModelWeights":
        """Build the context-decomposed weights from a flat
        (selected-feature-name → coefficient-column) model."""
        classes = [str(c) for c in classes]
        coef = np.asarray(coef, dtype=np.float64)
        C = len(classes)
        base_names: list[str] = []
        base_index: dict[str, int] = {}
        placed: list[tuple[str, int, int]] = []  # (context, base_col, feat_col)
        for j, name in enumerate(feature_names):
            ctx, base = split_prefix(name)
            if base not in base_index:
                base_index[base] = len(base_names)
                base_names.append(base)
            placed.append((ctx, base_index[base], j))
        B = len(base_names)
        mats = {
            "cur": np.zeros((C, B)),
            "prev": np.zeros((C, B)),
            "prev_prev": np.zeros((C, B)),
            "next": np.zeros((C, B)),
        }
        for ctx, b, j in placed:
            mats[ctx][:, b] += coef[:, j]
        return cls(
            classes=classes,
            base_names=base_names,
            base_index=base_index,
            w_cur=mats["cur"],
            w_prev=mats["prev"],
            w_prev_prev=mats["prev_prev"],
            w_next=mats["next"],
            intercept=np.asarray(intercept, dtype=np.float64),
            feature_names=list(feature_names),
            coef_full=coef,
        )


def save_model(model: ModelWeights, path: str) -> None:
    """Persist trained weights as npz (classes, feature names, coef,
    intercept) — the engine's model format (reference: gzipped pickle)."""
    import os

    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    np.savez_compressed(
        path,
        classes=np.array(model.classes),
        feature_names=np.array(model.feature_names),
        coef=model.coef_full,
        intercept=model.intercept,
    )


def load_model(path: str) -> ModelWeights:
    """Load an engine npz model; falls back to reference-pickle extraction
    for ``.model`` files (so reference model files keep working)."""
    if path.endswith(".model"):
        return load_reference_model(path)
    z = np.load(path, allow_pickle=False)
    return ModelWeights.from_arrays(
        [str(c) for c in z["classes"]],
        [str(f) for f in z["feature_names"]],
        z["coef"],
        z["intercept"],
    )


def load_reference_model(path: str) -> ModelWeights:
    """Extract weights from a reference gzipped-pickle model file.

    Layout per SURVEY.md §0: wrapper with attrs ``dv`` (DictVectorizer:
    ``feature_names_``), ``feat_selector`` (SelectKBest: ``scores_``, ``k``),
    ``learner`` (LogisticRegression: ``classes_``, ``coef_``, ``intercept_``).
    """
    with gzip.open(path, "rb") as f:
        obj = _StubUnpickler(f).load()
    dv = obj.dv
    fs = getattr(obj, "feat_selector", None)
    lr = obj.learner

    all_names = list(dv.feature_names_)
    if fs is not None and getattr(fs, "scores_", None) is not None:
        k = fs.k if isinstance(fs.k, int) else -1
        mask = _select_k_best_mask(np.asarray(fs.scores_), k)
        sel_names = [n for n, m in zip(all_names, mask) if m]
    else:
        sel_names = all_names

    coef = np.asarray(lr.coef_, dtype=np.float64)
    intercept = np.asarray(lr.intercept_, dtype=np.float64)
    classes = [str(c) for c in np.asarray(lr.classes_).tolist()]
    if coef.shape[1] != len(sel_names):
        raise ValueError(
            f"selected feature count {len(sel_names)} != coef columns {coef.shape[1]}"
        )
    return ModelWeights.from_arrays(classes, sel_names, coef, intercept)
