"""Reference results the benchmark checks the program against.

- ``detected_text``: the pure-Python oracle chain for one page
  (``segmentation.extract_page_text`` → ``oracle.corpus.doc_from_text`` →
  ``extract_doc_features`` → ``score_doc`` → ``detect_spans`` →
  ``detected_text``), the byte-parity unit of the detect workloads.
- ``value_hash``: an order-free hash of a result's rows, computed the same
  way for Spark's collected rows and DuckDB's ``oracle_sql()`` rows.
"""

from __future__ import annotations

import hashlib
from datetime import date, datetime
from decimal import Decimal

from igtdetect_spark.config import DEFAULT_CONFIG
from igtdetect_spark.oracle.corpus import doc_from_text
from igtdetect_spark.oracle.pipeline import (
    detect_spans,
    detected_text as spans_text,
    extract_doc_features,
    score_doc,
)
from igtdetect_spark.segmentation import extract_page_text


def detected_text(url: str, html: bytes | None, text: str | None,
                  model, lex, cfg=DEFAULT_CONFIG) -> str:
    doc = doc_from_text(url, extract_page_text(html, text))
    instances = extract_doc_features(doc, lex, cfg)
    labels, _ = score_doc(instances, model, cfg)
    return spans_text(detect_spans(doc, labels, cfg))


def _cell(v) -> str:
    if isinstance(v, (float, Decimal)):
        return f"{float(v):.9g}"
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.strftime("%Y-%m-%d 00:00:00.000000")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows) -> str:
    """Hash of the sorted, column-name-ordered, normalized rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    h = hashlib.sha256()
    for line in sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()[:16]
