"""Span normalization (operator O22 in SURVEY.md §2.2).

Pipeline per payload string:

1. **Markdown-fence strip** with the exact slice semantics of the reference
   (/root/reference/src/pdf_extractor/extractor.py:112-118): ``strip()``, drop
   a leading ``"```json"`` (7 chars), then a leading ``"```"`` (3 chars, note:
   evaluated on the *result* of the previous step), then a trailing ``"```"``,
   then ``strip()`` again.
2. Unicode **NFC** normalization.
3. Newline canonicalization: CRLF / CR -> LF.
4. Horizontal-whitespace collapse (runs of spaces/tabs/unicode spaces -> one
   space), per-line trim.
5. Collapse 3+ consecutive newlines to exactly 2 (paragraph break).
6. Overall strip.

:func:`normalize_one` is the production implementation. The pandas
:func:`normalize_series` / :func:`fence_strip_series` are its independent
equality oracle, which no production path calls; they agree byte-for-byte.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd

_HWS = r"[^\S\n]"  # horizontal whitespace: any whitespace except newline
_RE_HWS_RUN = re.compile(_HWS + "+")
_RE_LINE_TRIM = re.compile(_HWS + r"*\n" + _HWS + "*")
_RE_PARA = re.compile(r"\n{3,}")


def fence_strip_one(s: str) -> str:
    """Reference-exact markdown fence strip (extractor.py:112-118)."""
    s = s.strip()
    if s.startswith("```json"):
        s = s[7:]
    if s.startswith("```"):
        s = s[3:]
    if s.endswith("```"):
        s = s[:-3]
    return s.strip()


def normalize_one(s: str | None, fence: bool = True) -> str:
    """Scalar oracle for span normalization."""
    if s is None:
        return ""
    if fence:
        s = fence_strip_one(s)
    s = unicodedata.normalize("NFC", s)
    s = s.replace("\r\n", "\n").replace("\r", "\n")
    s = _RE_HWS_RUN.sub(" ", s)
    s = _RE_LINE_TRIM.sub("\n", s)
    s = _RE_PARA.sub("\n\n", s)
    return s.strip()


def fence_strip_series(ser: pd.Series) -> pd.Series:
    """Pandas oracle of :func:`fence_strip_one` (masks replicate its slices)."""
    s = ser.fillna("").str.strip()
    m = s.str.startswith("```json")
    s = s.mask(m, s.str.slice(7))
    m = s.str.startswith("```")
    s = s.mask(m, s.str.slice(3))
    m = s.str.endswith("```")
    s = s.mask(m, s.str.slice(0, -3))
    return s.str.strip()


def normalize_series(ser: pd.Series) -> pd.Series:
    """Pandas oracle of :func:`normalize_one` over a column."""
    s = fence_strip_series(ser).str.normalize("NFC")
    s = s.str.replace("\r\n", "\n", regex=False).str.replace("\r", "\n", regex=False)
    s = s.str.replace(_RE_HWS_RUN, " ", regex=True)
    s = s.str.replace(_RE_LINE_TRIM, "\n", regex=True)
    s = s.str.replace(_RE_PARA, "\n\n", regex=True)
    return s.str.strip()


def paragraph_spans(text: str, kind: str) -> list[dict]:
    """Span bookkeeping over the *final* normalized text: one span per
    paragraph (``\\n\\n``-separated), offsets valid post-normalization."""
    spans: list[dict] = []
    pos = 0
    for para in text.split("\n\n"):
        end = pos + len(para)
        if para:
            spans.append({"kind": kind, "start": pos, "end": end})
        pos = end + 2  # the two newline chars
    return spans
