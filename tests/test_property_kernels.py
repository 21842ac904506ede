"""Property-based tests (hypothesis): the scalar oracle and the vectorized
pandas kernels agree on arbitrary unicode inputs — the §5.3 determinism
guarantee at the pure-kernel level."""

from __future__ import annotations

import re

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from document_extraction_spark.core import classify as C
from document_extraction_spark.core import normalize as N
from document_extraction_spark.core import pdf_layout as PL
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


@given(
    st.lists(st.one_of(FENCY, st.none()), min_size=1, max_size=12),
    st.one_of(st.none(), st.integers(1, 400)),
)
@settings(max_examples=100, deadline=None)
def test_extract_batch_equals_rowwise_oracle(cases, max_chars):
    """Each row is the oracle's over the payload cut to ``max_chars``;
    ``truncated`` and ``bytes_in`` describe the uncut payload."""
    pdf = pd.DataFrame({"conv_id": [str(i) for i in range(len(cases))], "text": cases})
    out = extract_batch_pdf(pdf, max_chars=max_chars)
    for i, raw in enumerate(cases):
        raw = raw or ""
        exp = extract_one(raw[:max_chars])
        exp["truncated"] = max_chars is not None and len(raw) > max_chars
        exp["bytes_in"] = len(raw.encode("utf-8"))
        _assert_row_equals_oracle(out.iloc[i], exp)


def _assert_row_equals_oracle(row, exp):
    """Every result field of one extract_batch_pdf row equals extract_one's."""
    got_spans = list(zip(row["span_starts"], row["span_ends"]))
    assert got_spans == [(s["start"], s["end"]) for s in exp["spans"]]
    for k, v in exp.items():
        if k != "spans":
            assert row[k] == v, k


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


# parser payloads whose text comes from EDGY: FENCY almost never classifies
# as HTML or PDF, so it cannot reach the parsed rows' skip of the second
# normalize. Padding words let blocks pass the length gate and be kept.
PARSED_TEXT = st.one_of(
    EDGY,
    st.tuples(EDGY, st.just(" enough words to keep "), EDGY).map("".join),
    st.sampled_from(["&amp; &nbsp;x", "e&#769;", "caf&eacute; au lait long enough"]),
)
HTML_PAYLOAD = st.lists(
    st.one_of(
        PARSED_TEXT,
        st.sampled_from(
            ["<p>", "</p>", "<div>", "</div>", "<h2>", "</h2>", "<li>", "</li>",
             "<b>", "</b>", "<a href='x'>", "</a>", "<nav>", "</nav>",
             "<footer>", "</footer>", "<br>", "<hr/>", "<div/>", "<P>", "</P>",
             "<script>x<p>y</p></script>", "<!-- c -->"]
        ),
    ),
    max_size=16,
).map(lambda pieces: "<p>" + "".join(pieces))
# the first line makes the payload classify as PDF; later lines may be
# malformed (a word with whitespace), blank, or page breaks
PDF_LINE = st.one_of(
    st.tuples(EDGY, st.integers(0, 400), st.integers(0, 200)).map(
        lambda t: f"{t[0]}@{t[1]},{t[2]}"
    ),
    st.tuples(EDGY, st.integers(0, 400)).map(lambda t: f"{t[0]}x@{t[1]}.5,12"),
    st.sampled_from(["", "\f", "  ", "not a token"]),
)
PDF_PAYLOAD = st.lists(PDF_LINE, max_size=20).map(lambda ls: "\n".join(["start@0,0", *ls]))


@given(st.lists(st.one_of(HTML_PAYLOAD, PDF_PAYLOAD), min_size=1, max_size=8))
@settings(max_examples=300, deadline=None)
def test_parsed_rows_equal_rowwise_oracle(cases):
    out = extract_batch_pdf(pd.DataFrame({"text": cases}))
    for i, raw in enumerate(cases):
        exp = extract_one(raw)
        assert exp["payload_kind"] in (C.KIND_HTML, C.KIND_PDF)
        _assert_row_equals_oracle(out.iloc[i], exp)


_TOKEN_LINE = re.compile(r"[^\S\n]*(\S+)@(-?\d+(?:\.\d+)?),(-?\d+(?:\.\d+)?)[^\S\n]*")


def _parse_tokens_per_line(page_text):
    tokens, bad = [], 0
    for line in page_text.split("\n"):
        m = _TOKEN_LINE.fullmatch(line)
        if m:
            tokens.append((m[1], float(m[2]), float(m[3])))
        elif line.strip():
            bad += 1
    return tokens, bad


@given(PDF_PAYLOAD)
@settings(max_examples=300, deadline=None)
def test_parse_tokens_equals_per_line_match(payload):
    for page in payload.split("\f"):
        assert PL._parse_tokens(page) == _parse_tokens_per_line(page)
