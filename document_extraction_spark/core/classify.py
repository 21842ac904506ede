"""Payload classification (operator O23 in SURVEY.md §2.2).

Cheap byte/pattern test deciding ``html`` / ``pdf`` / ``plain`` per
turn — the engine's dispatch step replacing the reference's implicit "every
input is a PDF" assumption (/root/reference/src/pdf_extractor/extractor.py:23).

Rules (checked in order, deterministic):

1. ``html``  — payload contains a recognizable HTML tag.
2. ``pdf``   — first non-empty (stripped) line matches the deterministic
   textual page representation ``token@x,y`` (SURVEY.md §2.2 O21).
3. ``plain`` — everything else (markdown, fenced JSON, prose, empty).

:func:`classify_one` is the production classifier; :func:`classify_series`
is its pandas equality oracle (and the ``x_pandas_udf_classify`` UDF body).
"""

from __future__ import annotations

import re

import pandas as pd

KIND_HTML = "html"
KIND_PDF = "pdf"
KIND_PLAIN = "plain"

_HTML_TAG = re.compile(
    r"(?is)<\s*(?:!doctype|html|head|body|div|p|br|hr|nav|section|article|main|"
    r"footer|header|aside|span|ul|ol|li|table|tr|td|th|a|h[1-6]|blockquote|pre|"
    r"script|style|form|img|title)\b[^>]*>"
)
# token@x,y with numeric coordinates (optionally signed / decimal)
_PDF_TOKEN = re.compile(r"^\S+@-?\d+(?:\.\d+)?,-?\d+(?:\.\d+)?$")
# first non-empty line of the payload
_FIRST_LINE = re.compile(r"\A\s*([^\n]*[^\s\n][^\n]*)\n?", re.S)


def classify_one(s: str | None) -> str:
    """Classify one payload."""
    if not s:
        return KIND_PLAIN
    if _HTML_TAG.search(s):
        return KIND_HTML
    m = _FIRST_LINE.match(s)
    if m and _PDF_TOKEN.match(m.group(1).strip()):
        return KIND_PDF
    return KIND_PLAIN


def classify_series(ser: pd.Series) -> pd.Series:
    """Pandas oracle of :func:`classify_one` over a column."""
    s = ser.fillna("")
    is_html = s.str.contains(_HTML_TAG, regex=True)
    first = s.str.extract(_FIRST_LINE, expand=False).fillna("").str.strip()
    is_pdf = ~is_html & first.str.match(_PDF_TOKEN)
    out = pd.Series(KIND_PLAIN, index=s.index, dtype="object")
    out[is_pdf] = KIND_PDF
    out[is_html] = KIND_HTML
    return out
