"""Property-based tests (hypothesis): the scalar oracle and the vectorized
pandas kernels agree on arbitrary unicode inputs — the §5.3 determinism
guarantee at the pure-kernel level."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from document_extraction_spark.core import classify as C
from document_extraction_spark.core import normalize as N
from document_extraction_spark.core.extract import (
    _finalize_text,
    extract_batch_pdf,
    extract_one,
)

# arbitrary unicode incl. controls/newlines/backticks; surrogates excluded
TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400
)
FENCY = st.one_of(
    TEXT,
    TEXT.map(lambda s: f"```json\n{s}\n```"),
    TEXT.map(lambda s: f"```{s}```"),
    TEXT.map(lambda s: s.replace(" ", "\r\n")),
)


@given(st.lists(FENCY, min_size=1, max_size=20))
@settings(max_examples=150, deadline=None)
def test_normalize_scalar_equals_vectorized(cases):
    ser = pd.Series(cases, dtype="object")
    assert N.normalize_series(ser).tolist() == [N.normalize_one(c) for c in cases]


@given(st.lists(FENCY, min_size=1, max_size=20))
@settings(max_examples=150, deadline=None)
def test_classify_scalar_equals_vectorized(cases):
    ser = pd.Series(cases, dtype="object")
    assert C.classify_series(ser).tolist() == [C.classify_one(c) for c in cases]


@given(st.lists(FENCY, min_size=1, max_size=12))
@settings(max_examples=60, deadline=None)
def test_extract_batch_equals_rowwise_oracle(cases):
    pdf = pd.DataFrame({"conv_id": [str(i) for i in range(len(cases))], "text": cases})
    out = extract_batch_pdf(pdf)
    for i, raw in enumerate(cases):
        exp = extract_one(raw)
        assert out["text"].iloc[i] == exp["text"]
        assert out["payload_kind"].iloc[i] == exp["payload_kind"]
        assert bool(out["parse_failed"].iloc[i]) == exp["parse_failed"]
        got_spans = list(zip(out["span_starts"].iloc[i], out["span_ends"].iloc[i]))
        assert got_spans == [(s["start"], s["end"]) for s in exp["spans"]]


@given(FENCY)
@settings(max_examples=150, deadline=None)
def test_batch_size_invariance(case):
    """A row's result never depends on its batch neighbours."""
    alone = extract_batch_pdf(pd.DataFrame({"text": [case]}))
    packed = extract_batch_pdf(pd.DataFrame({"text": ["<p>pad pad pad</p>", case, "x@1,2"]}))
    assert alone["text"].iloc[0] == packed["text"].iloc[1]
    assert alone["payload_kind"].iloc[0] == packed["payload_kind"].iloc[1]


# block edges where a joined normalize could differ from per-block ones:
# line breaks of every kind, unicode and ASCII spaces, combining marks and
# Hangul jamo (NFC composers), fences, empty and whitespace-only blocks
EDGY = st.lists(
    st.sampled_from(
        ["\r", "\n", "\r\n", " ", "\t", "\x0b", "\x0c", "\x1c", "\x85",
         "\xa0", "\u2003", "\u2028", "\u2029", "\u3000", "\u0301", "\u0308",
         "\u0327", "\u1100", "\u1161", "\u11a8", "e", "A", "```", "."]
    ),
    max_size=12,
).map("".join)
BLOCK = st.one_of(EDGY, TEXT, st.tuples(EDGY, TEXT, EDGY).map("".join))


def _finalize_text_per_block(kind, blocks, parse_failed, raw):
    """The per-block formulation of extract._finalize_text: normalize each
    block, drop the empty ones, join."""
    norm_blocks = [t for t in (N.normalize_one(b, fence=False) for b in blocks) if t]
    if parse_failed or (not norm_blocks and kind != C.KIND_PLAIN):
        return N.normalize_one(raw), True
    return "\n\n".join(norm_blocks), parse_failed


@given(
    st.sampled_from([C.KIND_HTML, C.KIND_PDF, C.KIND_PLAIN]),
    st.lists(BLOCK, max_size=8),
    st.booleans(),
    FENCY,
)
@settings(max_examples=600, deadline=None)
def test_finalize_text_equals_per_block_normalize(kind, blocks, parse_failed, raw):
    assert _finalize_text(kind, blocks, parse_failed, raw) == _finalize_text_per_block(
        kind, blocks, parse_failed, raw
    )
