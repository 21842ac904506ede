"""Seeded input generators for the benchmark workloads.

The program under test only ever sees the tables written here. They are
built by the benchmark itself, not by ``document_extraction_spark.sources``,
so a change to the program's own fixture generator cannot silently change
a workload. ``digest`` hashes a table's content (not its parquet bytes), so
a change to this generator shows up in every result line.
"""

from __future__ import annotations

import hashlib
import os
import unicodedata

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu data query table column filter window merge batch stream "
    "river stone garden signal engine market letter winter orange silver"
).split()
EN_STOP = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]
FR_STOP = ["le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"]
ROLES = ["user", "assistant", "tool", "system"]
TOOLS = ["search", "browser", "python", "calculator"]
_EPOCH = pd.Timestamp("2026-01-01")

TRANSCRIPT_SCHEMA = pa.schema([
    pa.field("conv_id", pa.string()),
    pa.field("turn_idx", pa.int32()),
    pa.field("role", pa.string()),
    pa.field("text", pa.string()),
    pa.field("tool", pa.string()),
    pa.field("ts", pa.timestamp("us")),
])
DOC_SCHEMA = pa.schema([pa.field("doc_id", pa.int64()), pa.field("text", pa.string())])

# FIXTURES.md §1 edge rows: empty / whitespace payloads, lone fences, NFD
# input, CR newlines, broken HTML and PDF, and one oversized turn
EDGE_ROWS = [
    ("conv-edge-empty", 0, "user", "", None),
    ("conv-edge-empty", 1, "assistant", "   \t  ", None),
    ("conv-edge-empty", 2, "tool", "\n\n\n", "search"),
    ("conv-edge-fence", 0, "user", "```json\n{\"a\": 1}\n```", None),
    ("conv-edge-fence", 1, "assistant", "```", None),
    ("conv-edge-fence", 2, "user", "``` ```", None),
    ("conv-edge-fence", 3, "assistant", "```json```x```", None),
    ("conv-edge-fence", 4, "user", "```json\n{\"broken\": \n```", None),
    ("conv-edge-unicode", 0, "user", unicodedata.normalize("NFD", "café crème"), None),
    ("conv-edge-unicode", 1, "assistant", "a\r\nb\rc d e", None),
    ("conv-edge-badhtml", 0, "user", "<div><p>unclosed paragraph drifting", None),
    ("conv-edge-badhtml", 1, "assistant", "<p></p><div> </div>", None),
    ("conv-edge-badpdf", 0, "tool", "tok@1,2\nnot a token line\nword@3.5,4", "python"),
    ("conv-edge-huge", 0, "user", ("lorem ipsum dolor sit amet " * 8000).strip(), None),
]


def _words(rng: np.random.Generator, lo: int, hi: int) -> list[str]:
    return [WORDS[i] for i in rng.integers(0, len(WORDS), int(rng.integers(lo, hi)))]


def _sentence(rng: np.random.Generator, lo: int = 6, hi: int = 18) -> str:
    return " ".join(_words(rng, lo, hi)) + "."


def _html(rng: np.random.Generator, tag: str) -> str:
    paras = [_sentence(rng, 8, 30) for _ in range(int(rng.integers(2, 5)))]
    paras[0] = f"{tag} {paras[0]}"
    nav = " ".join(f'<a href="/{w}">{w}</a>' for w in _words(rng, 5, 6))
    heading = f"<h1>{_sentence(rng, 3, 6)}</h1>" if rng.random() < 0.5 else ""
    related = " ".join(f'<a href="#{w}">{w} {w}</a>' for w in _words(rng, 6, 7))
    body = "\n".join(f"<p>{p}</p>" for p in paras)
    return (
        "<html><head><title>t</title></head><body>"
        f"<nav>{nav}</nav><header><span>site</span></header>"
        f"<article>{heading}{body}</article>"
        f'<div class="related">{related}</div>'
        f"<aside>{_sentence(rng, 4, 8)}</aside>"
        f"<footer>{nav}</footer></body></html>"
    )


def _pdf(rng: np.random.Generator, tag: str) -> str:
    # a right column starts beyond any left-column line extent
    cols = [50.0, 560.0] if rng.random() < 0.4 else [50.0]
    toks: list[str] = []
    for x0 in cols:
        y = 40.0
        for _ in range(int(rng.integers(1, 4))):  # blocks
            for _ in range(int(rng.integers(1, 5))):  # lines per block
                x = x0
                for w in _words(rng, 3, 8):
                    toks.append(f"{w}@{x:.1f},{y:.1f}")
                    x += 6.0 * (len(w) + 1)
                y += 12.0
            y += 30.0  # block gap
    toks[0] = f"{tag}@{toks[0].split('@', 1)[1]}"
    order = rng.permutation(len(toks))  # the layout parser must re-sort
    return "\n".join(toks[i] for i in order)


def _plain(rng: np.random.Generator, tag: str, lo: int = 1, hi: int = 4) -> str:
    body = "\n\n".join(_sentence(rng, 8, 30) for _ in range(int(rng.integers(lo, hi))))
    body = f"{tag} {body}"
    r = rng.random()
    if r < 0.30:
        inner = ",\n".join(
            f'  "{k}": "{_sentence(rng, 2, 5)}"' for k in [tag] + _words(rng, 2, 3)
        )
        return f"```json\n{{\n{inner}\n}}\n```"
    if r < 0.40:
        return "```\n" + body + "\n```"
    if r < 0.50:
        return body.replace("\n", "\r\n")
    if r < 0.60:
        return "  " + body.replace(" ", "  ") + "\t"
    return body


def _conversations(rng: np.random.Generator, n_turns: int, prefix: str):
    """(conv_id, turn_idx) for ``n_turns`` turns: most conversations have
    2-20 turns, ~3% have 50-400 (the skewed shape of FIXTURES.md §1)."""
    sizes: list[int] = []
    while sum(sizes) < n_turns:
        sizes.append(int(rng.integers(50, 400) if rng.random() < 0.03 else rng.integers(2, 21)))
    sizes[-1] -= sum(sizes) - n_turns
    conv = np.repeat(np.arange(len(sizes)), sizes)
    starts = np.repeat(np.cumsum(sizes) - sizes, sizes)
    turn = np.arange(n_turns) - starts
    return [f"{prefix}-{c:07d}" for c in conv], turn


def _transcripts(rng: np.random.Generator, conv_ids: list[str], turn_idx: np.ndarray,
                 text: list[str], edge: bool) -> pd.DataFrame:
    n = len(text)
    alt = np.where(turn_idx % 2 == 0, "user", "assistant")
    rand = np.array(ROLES, dtype=object)[rng.integers(0, len(ROLES), n)]
    roles = np.where(rng.random(n) < 0.8, alt, rand).astype(object)
    tools = np.array(TOOLS, dtype=object)[rng.integers(0, len(TOOLS), n)]
    pdf = pd.DataFrame({
        "conv_id": conv_ids,
        "turn_idx": turn_idx,
        "role": roles,
        "text": text,
        "tool": np.where(roles == "tool", tools, None),
    })
    if edge:
        pdf = pd.concat(
            [pdf, pd.DataFrame(EDGE_ROWS, columns=list(pdf.columns))], ignore_index=True
        )
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    codes = pdf["conv_id"].astype("category").cat.codes.astype("int64")
    pdf["ts"] = _EPOCH + pd.to_timedelta(codes * 3600 + pdf["turn_idx"].astype("int64"), unit="s")
    return pdf


def transcripts_mixed(seed: int, n_turns: int) -> pd.DataFrame:
    """FIXTURES.md §1 mix (~40% HTML, 30% PDF layout, 30% plain) plus the
    edge rows. Every generated payload carries a unique serial token, so no
    two payloads are equal."""
    rng = np.random.default_rng([seed, 1])
    conv_ids, turn_idx = _conversations(rng, n_turns, f"conv-{seed}")
    kinds = rng.random(n_turns)
    text = [
        _html(rng, f"n{i}") if k < 0.40 else _pdf(rng, f"n{i}") if k < 0.70 else _plain(rng, f"n{i}")
        for i, k in enumerate(kinds)
    ]
    if len(set(text)) != len(text):
        raise AssertionError("transcripts_mixed produced a repeated payload")
    return _transcripts(rng, conv_ids, turn_idx, text, edge=True)


def transcripts_plain(seed: int, n_turns: int) -> pd.DataFrame:
    """Short plain-only turns: one or two sentences, some fenced or CRLF."""
    rng = np.random.default_rng([seed, 2])
    conv_ids, turn_idx = _conversations(rng, n_turns, f"conv-{seed}")
    text = [_plain(rng, f"t{i}", 1, 3) for i in range(n_turns)]
    return _transcripts(rng, conv_ids, turn_idx, text, edge=False)


def _en_doc(rng: np.random.Generator, n_tok: int) -> str:
    toks = [
        EN_STOP[int(rng.integers(0, len(EN_STOP)))] if rng.random() < 0.35
        else WORDS[int(rng.integers(0, len(WORDS)))]
        for _ in range(n_tok)
    ]
    out, i = [], 0
    while i < n_tok:  # sentences of 6-14 tokens, paragraphs of 2-4 sentences
        j = min(n_tok, i + int(rng.integers(6, 15)))
        s = " ".join(toks[i:j])
        out.append(s[0].upper() + s[1:] + ".")
        i = j
    paras, k = [], 0
    while k < len(out):
        step = int(rng.integers(2, 5))
        paras.append(" ".join(out[k:k + step]))
        k += step
    return "\n\n".join(paras)


def _near_copy(rng: np.random.Generator, text: str) -> str:
    """Replace ~5% of the words (at least one) with other words: a near
    duplicate whose 3-shingle Jaccard stays well above 0.6."""
    toks = text.split(" ")
    for i in rng.choice(len(toks), max(1, len(toks) // 20), replace=False):
        tail = "." if toks[i].endswith(".") else ""
        toks[i] = WORDS[int(rng.integers(0, len(WORDS)))] + tail
    return " ".join(toks)


def documents_dedup(seed: int, n_docs: int, exact_share: float, near_share: float,
                    short_share: float, foreign_share: float) -> pd.DataFrame:
    """Plain English-stopword documents of 40-120 tokens with the stated
    shares of exact duplicates (verbatim, or differing only in whitespace),
    near duplicates (~5% of words replaced), short documents that fail the
    quality gate and French-stopword documents that fail the language gate.
    Duplicates copy a random long English base document."""
    rng = np.random.default_rng([seed, 3])
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_short = int(n_docs * short_share)
    n_foreign = int(n_docs * foreign_share)
    n_base = n_docs - n_exact - n_near - n_short - n_foreign
    base = [_en_doc(rng, int(rng.integers(40, 121))) for _ in range(n_base)]
    texts = list(base)
    texts += [_en_doc(rng, int(rng.integers(4, 12))) for _ in range(n_short)]
    texts += [
        " ".join(FR_STOP[int(rng.integers(0, len(FR_STOP)))] if rng.random() < 0.4
                 else WORDS[int(rng.integers(0, len(WORDS)))]
                 for _ in range(int(rng.integers(40, 121)))) + "."
        for _ in range(n_foreign)
    ]
    for _ in range(n_exact):
        t = base[int(rng.integers(0, n_base))]
        texts.append(t if rng.random() < 0.5 else "  " + t.replace(" ", "  ", 3) + " \t")
    texts += [_near_copy(rng, base[int(rng.integers(0, n_base))]) for _ in range(n_near)]
    order = rng.permutation(n_docs)
    return pd.DataFrame({
        "doc_id": (np.arange(n_docs, dtype=np.int64) + 1),
        "text": [texts[i] for i in order],
    })


def write_parquet(pdf: pd.DataFrame, path: str, schema: pa.Schema, rows_per_file: int) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    for i, start in enumerate(range(0, table.num_rows, rows_per_file)):
        pq.write_table(table.slice(start, rows_per_file), os.path.join(path, f"part-{i:05d}.parquet"))


def digest(pdf: pd.DataFrame) -> str:
    """Content hash of a table: column names, then every cell's repr."""
    h = hashlib.sha256(repr(list(pdf.columns)).encode())
    for row in pdf.itertuples(index=False):
        h.update(repr(tuple(row)).encode("utf-8", "surrogatepass"))
    return h.hexdigest()[:16]
