"""PDF layout parsing (operator O21 in SURVEY.md §2.2).

pdfminer-style layout analysis (LTChar -> LTTextLine -> LTTextBox grouping)
over a **deterministic textual page representation**: the payload is a set of
positioned tokens, one per line, formatted ``token@x,y`` (x right-positive,
y DOWN-positive, raster-style). Pages are separated by a form-feed (``\\f``)
line. This keeps the algorithm testable without binary PDFs while exercising
the same clustering + reading-order semantics the reference delegates to its
VLM (/root/reference/src/pdf_extractor/extractor.py:26-29 rasterizes pages in
document order; we re-linearize explicitly).

Algorithm (fixed thresholds => deterministic; mirrors pdfminer's
LTTextLine/LTTextBox grouping):

1. parse tokens; malformed token lines are counted as dropped;
2. **rows**: group tokens by y-proximity (``|y - row_y0| <= Y_TOL``);
3. **line segments**: within a row (x-sorted), split where the horizontal gap
   between the estimated end of one token (``x + CHAR_W * len(word)``) and
   the start of the next exceeds ``X_GAP`` — this is what separates columns
   that share baselines;
4. **blocks**: a segment joins the most recently updated block whose last
   line is within ``LEADING`` vertically and whose x-range overlaps;
5. **reading order**: columns detected by x-midpoint bimodality; blocks
   sorted by (column, top-y, min-x); tokens joined by spaces, lines by
   ``\\n``, blocks by ``\\n\\n``.
"""

from __future__ import annotations

import re

Y_TOL = 2.0      # same text line if |dy| <= this
LEADING = 20.0   # same block if vertical gap <= this
X_GAP = 30.0     # new segment (column break) if horizontal gap > this
CHAR_W = 6.0     # estimated glyph advance used for token extent

# one pass over the page instead of per-line matching
_TOKEN_ML = re.compile(
    r"(?m)^[^\S\n]*(\S+)@(-?\d+(?:\.\d+)?),(-?\d+(?:\.\d+)?)[^\S\n]*$"
)
_NONEMPTY_LINE = re.compile(r"(?m)^[^\S\n]*\S")


def _parse_tokens(page_text: str) -> tuple[list[tuple[str, float, float]], int]:
    """One-pass token parse; a non-empty line that isn't a well-formed
    ``token@x,y`` counts as dropped (same semantics as per-line matching).
    A match spans one whole line, so when every line matched there is no
    non-empty line left to count."""
    tokens = [(w, float(x), float(y)) for w, x, y in _TOKEN_ML.findall(page_text)]
    n = len(tokens)
    if n == page_text.count("\n") + 1:
        return tokens, 0
    return tokens, len(_NONEMPTY_LINE.findall(page_text)) - n


def _segments(tokens: list[tuple[str, float, float]]) -> list[dict]:
    """Tokens -> x-gap-split line segments, ordered by (y, x).

    Decorate-sort (tuples, no per-element key lambdas): sort (y, i) pairs —
    i as tiebreak == the stable by-y sort; within a row sort (x, i, word)
    tuples directly. Same ordering semantics as the lambda-keyed version,
    measured ~25% less kernel time."""
    ys = sorted((t[2], i) for i, t in enumerate(tokens))
    rows: list[tuple[float, list]] = []  # (row_y0, [(x, idx, word), ...])
    row_y0 = None
    for y, i in ys:
        if row_y0 is None or y - row_y0 > Y_TOL:
            rows.append((y, []))
            row_y0 = y
        t = tokens[i]
        rows[-1][1].append((t[1], i, t[0]))  # (x, idx, word)

    segs: list[dict] = []
    for y0, row in rows:
        row.sort()
        cur: dict | None = None
        prev_end = None
        for x, _i, word in row:
            if cur is None or (prev_end is not None and x - prev_end > X_GAP):
                cur = {"words": [], "x0": x, "y0": y0}
                segs.append(cur)
            cur["words"].append(word)
            prev_end = x + CHAR_W * len(word)
            cur["x1"] = prev_end
    for s in segs:
        s["text"] = " ".join(s["words"])
    return segs


def _cluster_blocks(segs: list[dict]) -> list[dict]:
    """Segments -> blocks: vertical leading + horizontal overlap (pdfminer
    LTTextBox grouping)."""
    blocks: list[dict] = []
    for s in segs:  # segs are in (y, x) order
        target = None
        for b in reversed(blocks):
            close = s["y0"] - b["last_y"] <= LEADING and s["y0"] >= b["last_y"]
            overlap = s["x0"] < b["x1"] and b["x0"] < s["x1"]
            if close and overlap:
                target = b
                break
        if target is None:
            target = {
                "lines": [], "y0": s["y0"], "last_y": s["y0"],
                "x0": s["x0"], "x1": s["x1"],
            }
            blocks.append(target)
        target["lines"].append(s["text"])
        target["last_y"] = s["y0"]
        target["x0"] = min(target["x0"], s["x0"])
        target["x1"] = max(target["x1"], s["x1"])
    return blocks


def _reading_order(blocks: list[dict]) -> list[dict]:
    if not blocks:
        return blocks
    x_lo = min(b["x0"] for b in blocks)
    x_hi = max(b["x1"] for b in blocks)
    mid = (x_lo + x_hi) / 2.0
    bimodal = any(b["x0"] > mid for b in blocks) and any(b["x0"] <= mid for b in blocks)
    for b in blocks:
        b["col"] = 1 if (bimodal and b["x0"] > mid) else 0
    return sorted(blocks, key=lambda b: (b["col"], b["y0"], b["x0"]))


def pdf_layout_one(payload: str) -> tuple[list[str], int, int, bool]:
    """Linearize one positioned-token payload into reading-order block texts.

    Returns ``(block_texts, n_blocks_kept, n_tokens_dropped, parse_failed)``.
    ``parse_failed`` is True when a non-empty payload yields no parseable
    tokens at all.
    """
    out_blocks: list[str] = []
    n_kept = 0
    n_dropped = 0
    any_tokens = False
    for page_text in payload.split("\f"):
        tokens, bad = _parse_tokens(page_text)
        n_dropped += bad
        if not tokens:
            continue
        any_tokens = True
        blocks = _reading_order(_cluster_blocks(_segments(tokens)))
        for b in blocks:
            out_blocks.append("\n".join(b["lines"]))
            n_kept += 1
    parse_failed = (not any_tokens) and bool(payload.strip())
    return out_blocks, n_kept, n_dropped, parse_failed
