"""Flagship inputs derived from the benchmark seed.

The lexicons come from the synthetic generator's own word pools
(``oracle.corpus``) and the model is trained on ``make_corpus(40, seed)``,
so the detect workloads read nothing outside the program's source tree:
no reference data directory and no cached ``data/*.npz`` model.
"""

from __future__ import annotations

import random
import re

from igtdetect_spark.config import DEFAULT_CONFIG
from igtdetect_spark.featurespec import Lexicons, split_words
from igtdetect_spark.oracle import corpus as C
from igtdetect_spark.oracle.pipeline import extract_doc_features
from igtdetect_spark.refmodel import ModelWeights
from igtdetect_spark.training import train_model

TRAIN_DOCS = 40


def _shuffled(rng: random.Random, items) -> list[str]:
    out = sorted(set(items))
    rng.shuffle(out)
    return out


def seeded_lexicons(seed: int) -> Lexicons:
    """Lexicons over the generator's vocabulary. The seed sets the order
    of every list; a gram regex is an alternation, so order never
    changes which lines match."""
    rng = random.Random(seed)
    atoms = [a for g in C.GLOSS_TOKENS for a in re.split(r"[-._]", g) if a]
    grams = [a for a in atoms if a.isupper()]
    prose = [w for s in C.PROSE + C.TRANSLATIONS for w in split_words(s)]
    return Lexicons(
        langnames=frozenset(
            n.lower() for n, _ in C.LANG_NAMES if len(n) >= 5
        ),
        gram_list=_shuffled(rng, (g.lower() for g in grams if len(g) >= 3)),
        gram_list_cased=_shuffled(rng, grams),
        en_words=frozenset(prose),
        gls_words=frozenset(a.lower() for a in atoms),
        met_words=frozenset(prose + [a.lower() for a in C.AUTHORS]),
    )


def seeded_model(seed: int, lex: Lexicons) -> ModelWeights:
    """Flagship-style model: trained without ``prev_tag`` so scoring takes
    the batch path and ``chunking_refusal`` allows the chunked plan."""
    cfg = DEFAULT_CONFIG.with_(prev_tag=False)
    fds, labels = [], []
    for d in C.make_corpus(TRAIN_DOCS, seed=seed):
        doc = C.doc_from_text(d.url, d.text, d.gold_tags)
        for li in extract_doc_features(doc, lex, cfg):
            fds.append(li.feats)
            labels.append(li.norm_label)
    return train_model(fds, labels, max_features=5000, iters=200)
