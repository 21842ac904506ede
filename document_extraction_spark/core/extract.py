"""Per-turn extraction: classify -> dispatch -> normalize -> spans + metrics.

This module is the deterministic replacement for the reference's whole
"extraction engine" (the VLM call at /root/reference/src/pdf_extractor/
client.py:37-38 orchestrated by extractor.py:40-132). Two implementations:

* :func:`extract_one` — scalar, row-wise, simple Python. This is the
  **reference oracle** the Spark output must match byte-for-byte
  (north rule: per-turn text equality under stable turn ordering).
* :func:`extract_batch_pdf` — vectorized over a pandas batch (one Arrow
  record batch inside ``mapInPandas``). The plain path is fully vectorized
  pandas ``str`` ops; the html/pdf paths run the streaming parsers per
  payload (string parsing is inherently per-string) but batched, with all
  surrounding bookkeeping vectorized.

Both must be **stateless across rows and batches**: equality under any
repartitioning / Arrow batch size is a tested invariant (SURVEY.md §5.3).
"""

from __future__ import annotations

import unicodedata
from typing import Iterable

import pandas as pd

from document_extraction_spark.core import classify as C
from document_extraction_spark.core import html_strip as H
from document_extraction_spark.core import normalize as N
from document_extraction_spark.core import pdf_layout as P

def _finalize_text(kind: str, blocks: list[str], parse_failed: bool,
                   raw: str) -> tuple[str, bool]:
    """Shared tail: join kept blocks, normalize, degrade on failure.

    One normalize over the joined blocks equals joining the non-empty
    per-block normalizations: the line trim and the 3+ newline collapse
    absorb empty blocks and whitespace at block edges, and NFC never
    composes across a newline (pinned by a property test).

    Degrading to the normalized raw payload (instead of crashing) is the
    deliberate divergence from the reference's uncaught json.loads
    (extractor.py:120): no turn is silently lost."""
    text = N.normalize_one("\n\n".join(blocks), fence=False)
    if parse_failed or (not text and kind != C.KIND_PLAIN):
        return N.normalize_one(raw), True
    return text, parse_failed


def _finalize(kind: str, blocks: list[str], n_kept: int, n_dropped: int,
              parse_failed: bool, raw: str) -> dict:
    """Scalar-oracle tail: text + spans + byte metrics as one dict."""
    text, parse_failed = _finalize_text(kind, blocks, parse_failed, raw)
    return {
        "payload_kind": kind,
        "text": text,
        "spans": N.paragraph_spans(text, kind),
        "n_blocks_kept": n_kept,
        "n_blocks_dropped": n_dropped,
        "parse_failed": parse_failed,
        "truncated": False,
        "bytes_in": len(raw.encode("utf-8")),
        "bytes_out": len(text.encode("utf-8")),
    }


def extract_one(raw: str | None) -> dict:
    """Row-wise reference oracle: one payload string -> result dict."""
    raw = raw or ""
    kind = C.classify_one(raw)
    if kind == C.KIND_HTML:
        blocks, n_kept, n_dropped, failed = H.html_strip_one(raw)
    elif kind == C.KIND_PDF:
        blocks, n_kept, n_dropped, failed = P.pdf_layout_one(raw)
    else:
        text = N.normalize_one(raw)  # fence strip + normalize, vectorizable
        return {
            "payload_kind": kind,
            "text": text,
            "spans": N.paragraph_spans(text, kind),
            "n_blocks_kept": 1 if text else 0,
            "n_blocks_dropped": 0,
            "parse_failed": False,
            "truncated": False,
            "bytes_in": len(raw.encode("utf-8")),
            "bytes_out": len(text.encode("utf-8")),
        }
    return _finalize(kind, blocks, n_kept, n_dropped, failed, raw)


def extract_batch_pdf(pdf: pd.DataFrame, max_chars: int | None = None) -> pd.DataFrame:
    """Vectorized extraction over one pandas batch.

    Returns ``pdf`` with the ``text`` payload column replaced by the
    extracted text and the kernel's result columns added. Row order and
    index are preserved (stable turn ordering is carried by (conv_id,
    turn_idx) key columns, not by physical order).

    ``max_chars`` is the oversized-payload policy (SURVEY.md §7 "skew: a
    single 10 MB turn is the real skew unit"): payloads longer than the cap
    are deterministically truncated before extraction and flagged
    ``truncated`` — opt-in, off by default (the default preserves per-turn
    equality with the uncapped reference).
    """
    raw = pdf["text"].fillna("").astype("object")
    # lineage metric: bytes_in reports the RAW input size, pre-truncation —
    # post-truncation it would under-report exactly the rows the cap hit
    bytes_in = raw.str.encode("utf-8").str.len().astype("int64")
    truncated = pd.Series(False, index=raw.index, dtype="bool")
    if max_chars is not None:
        lens = raw.str.len()
        over = lens > max_chars
        if over.any():
            truncated[over] = True
            raw = raw.mask(over, raw.str.slice(0, max_chars))
    kind = C.classify_series(raw)

    text = pd.Series("", index=raw.index, dtype="object")
    n_kept = pd.Series(0, index=raw.index, dtype="int64")
    n_dropped = pd.Series(0, index=raw.index, dtype="int64")
    failed = pd.Series(False, index=raw.index, dtype="bool")

    # --- plain path: fully vectorized pandas str ops ---------------------
    m_plain = kind == C.KIND_PLAIN
    if m_plain.any():
        norm = N.normalize_series(raw[m_plain])
        text.loc[m_plain] = norm
        n_kept.loc[m_plain] = (norm.str.len() > 0).astype("int64")

    # --- html / pdf paths: streaming parsers, batched ---------------------
    # _finalize_text only: spans/byte metrics are computed vectorized below,
    # so the per-row hot loop does no work that gets discarded
    for m, fn, k in ((kind == C.KIND_HTML, H.html_strip_one, C.KIND_HTML),
                     (kind == C.KIND_PDF, P.pdf_layout_one, C.KIND_PDF)):
        if not m.any():
            continue
        texts: list[str] = []
        kept_l: list[int] = []
        drop_l: list[int] = []
        fail_l: list[bool] = []
        for s in raw[m]:
            blocks, nk, nd, pf = fn(s)
            # both parsers emit whitespace-canonical blocks (HTML: words
            # joined by one space; PDF: that, lines joined by one newline),
            # so on NFC text normalize_one is the identity
            t = "\n\n".join(blocks)
            if pf or not t or not unicodedata.is_normalized("NFC", t):
                t, pf = _finalize_text(k, blocks, pf, s)
            texts.append(t)
            kept_l.append(nk)
            drop_l.append(nd)
            fail_l.append(pf)
        idx = raw.index[m]
        text.loc[m] = pd.Series(texts, index=idx, dtype="object")
        n_kept.loc[m] = pd.Series(kept_l, index=idx, dtype="int64")
        n_dropped.loc[m] = pd.Series(drop_l, index=idx, dtype="int64")
        failed.loc[m] = pd.Series(fail_l, index=idx, dtype="bool")

    # spans as primitive offset arrays: Arrow converts list<int32> an order
    # of magnitude faster than list<struct>; the (kind,start,end) struct is
    # assembled JVM-side in build_extract_df (measured ~33% kernel win)
    starts_col: list[list[int]] = []
    ends_col: list[list[int]] = []
    for t in text:
        starts, ends = _paragraph_offsets(t)
        starts_col.append(starts)
        ends_col.append(ends)

    out = pd.DataFrame(index=pdf.index)
    for c in pdf.columns:
        if c != "text":
            out[c] = pdf[c]
    out["payload_kind"] = kind
    out["text"] = text
    out["span_starts"] = starts_col
    out["span_ends"] = ends_col
    out["n_blocks_kept"] = n_kept
    out["n_blocks_dropped"] = n_dropped
    out["parse_failed"] = failed
    out["truncated"] = truncated
    out["bytes_in"] = bytes_in
    out["bytes_out"] = text.str.encode("utf-8").str.len().astype("int64")
    return out


def _paragraph_offsets(text: str) -> tuple[list[int], list[int]]:
    """Non-empty paragraph (start, end) offsets — list form of
    normalize.paragraph_spans, kinds carried by the payload_kind column."""
    starts: list[int] = []
    ends: list[int] = []
    pos = 0
    for para in text.split("\n\n"):
        end = pos + len(para)
        if para:
            starts.append(pos)
            ends.append(end)
        pos = end + 2
    return starts, ends


def make_extract_kernel(max_chars: int | None):
    """Kernel factory carrying the oversized-payload policy to executors."""

    def kernel(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            yield extract_batch_pdf(pdf, max_chars=max_chars)

    return kernel
