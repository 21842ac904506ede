"""Per-turn extraction: classify -> dispatch -> normalize -> spans + metrics.

This module is the deterministic replacement for the reference's whole
"extraction engine" (the VLM call at /root/reference/src/pdf_extractor/
client.py:37-38 orchestrated by extractor.py:40-132). Two implementations:

* :func:`extract_one` — scalar, row-wise, simple Python. This is the
  **reference oracle** the Spark output must match byte-for-byte
  (north rule: per-turn text equality under stable turn ordering).
* :func:`extract_batch_pdf` — one pandas batch (one Arrow record batch
  inside ``mapInPandas``) in one pass over its payloads, building the
  result frame once. Parsed rows skip the oracle's second normalize where
  it is the identity.

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


# the kernel's result columns in output order, with their frame dtypes
_RESULT_DTYPES = dict(
    payload_kind=object, text=object, span_starts=object, span_ends=object,
    n_blocks_kept="int64", n_blocks_dropped="int64", parse_failed=bool,
    truncated=bool, bytes_in="int64", bytes_out="int64",
)


def _extract_row(raw: str | None, max_chars: int | None) -> tuple:
    """One payload -> its result columns, in ``_RESULT_DTYPES`` order."""
    raw = raw or ""
    # lineage metric: bytes_in reports the RAW input size, pre-truncation —
    # post-truncation it would under-report exactly the rows the cap hit
    bytes_in = len(raw.encode("utf-8"))
    truncated = max_chars is not None and len(raw) > max_chars
    if truncated:
        raw = raw[:max_chars]
    kind = C.classify_one(raw)
    if kind == C.KIND_PLAIN:
        text = N.normalize_one(raw)
        n_kept, n_dropped, failed = (1 if text else 0), 0, False
    else:
        parse = H.html_strip_one if kind == C.KIND_HTML else P.pdf_layout_one
        blocks, n_kept, n_dropped, failed = parse(raw)
        # both parsers emit whitespace-canonical blocks (HTML: words joined
        # by one space; PDF: that, lines joined by one newline), so on NFC
        # text normalize_one is the identity
        text = "\n\n".join(blocks)
        if failed or not text or not unicodedata.is_normalized("NFC", text):
            text, failed = _finalize_text(kind, blocks, failed, raw)
    # spans as primitive offset arrays: Arrow converts list<int32> an order
    # of magnitude faster than list<struct>; the (kind,start,end) struct is
    # assembled JVM-side in build_extract_df (measured ~33% kernel win)
    starts, ends = _paragraph_offsets(text)
    return (kind, text, starts, ends, n_kept, n_dropped, failed, truncated,
            bytes_in, len(text.encode("utf-8")))


def extract_batch_pdf(pdf: pd.DataFrame, max_chars: int | None = None) -> pd.DataFrame:
    """Extraction over one pandas batch: one pass over its payloads.

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
    rows = [_extract_row(raw, max_chars) for raw in pdf["text"]]
    res = pd.DataFrame(rows, index=pdf.index, columns=list(_RESULT_DTYPES))
    return pd.concat([pdf.drop(columns="text"), res.astype(_RESULT_DTYPES)], axis=1)


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
