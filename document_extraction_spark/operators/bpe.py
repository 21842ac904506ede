"""Distributed BPE (byte-pair-encoding) subword training — real iterative
BPE (Sennrich et al. 2016), not a frequency-regex approximation: each round
counts symbol pairs over the CURRENT corpus segmentation, merges the
globally most frequent pair, and re-segments.

Engine-exact formulation: a word's segmentation is a string of wrapped
symbols, e.g. 'lower' -> '<l><o><w><e><r>'; merging pair ('<e>', '<r>') is
``replace(seq, '<e><r>', '<er>')``. Both Spark and DuckDB ``replace`` scan
left-to-right replacing non-overlapping occurrences — exactly BPE's greedy
leftmost merge — and the '<...>' wrapping makes misaligned matches
impossible ('<' occurs only at symbol starts, so a pattern can never match
across a symbol boundary; space-separator encodings DO misalign, because a
replacement consumes the boundary space the next occurrence needs). Merge
selection ties break on (count desc, pair asc). Every round is therefore
bit-identical across engines and the full merge table hash-verifies
(unrolled-CTE DuckDB twin, same pattern as the PageRank oracle).

Distributed shape per round:
- pair counting: map-only pair explode over the word table (UNIQUE words
  weighted by their corpus count — cost scales with |vocab|, not corpus
  tokens) + ONE map-side-combinable groupBy(pair);
- best-pair selection: orderBy(count desc, pair).limit(1) — a bounded
  1-row driver collect per round (same class as the CC convergence sums);
- re-segmentation: map-only replace.

At 100 TB the word table is the standard trick (BPE trainers operate on
word-frequency tables; Sennrich's reference implementation does exactly
this), so R rounds cost R bounded shuffles over vocabulary-sized data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from document_extraction_spark.functions.textstats import py_tokens, tokens

ROUNDS = 6


def _wrap_chars(col):
    """'abc' -> '<a><b><c>' (codegen: transform over the char sequence)."""
    return F.concat(
        F.lit(""),
        F.array_join(
            F.transform(
                F.split(col, ""), lambda ch: F.concat(F.lit("<"), ch, F.lit(">"))
            ),
            "",
        ),
    )


def word_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, c, s): unique lowercase alphabetic words, corpus counts, and the
    initial single-char segmentation."""
    return (
        docs.where(F.col(text_col).isNotNull())
        .select(F.explode(tokens(F.lower(F.col(text_col)))).alias("w"))
        .where(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("s", _wrap_chars(F.col("w")))
    )


def _pair_counts(wt: DataFrame) -> DataFrame:
    """(pair, n): adjacent-symbol pair counts over the current
    segmentation, weighted by word frequency. Map-only explode + one
    groupBy."""
    syms = F.split(F.expr("replace(s, '><', '> <')"), " ")
    pairs = F.expr(
        "transform(sequence(1, size(_syms) - 1),"
        " i -> concat(_syms[i - 1], _syms[i]))"
    )
    return (
        wt.withColumn("_syms", syms)
        .where(F.size("_syms") >= 2)
        .select("c", F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("c").alias("n"))
    )


def bpe_train(docs: DataFrame, rounds: int = ROUNDS,
              text_col: str = "text") -> tuple[list[tuple[int, str, int]], DataFrame]:
    """Train ``rounds`` BPE merges. Returns (merges, final_word_table):
    merges as [(rank, pair, count)] with pair in wrapped form
    ('<e><r>'), and the word table carrying the final segmentation."""
    wt = docs
    if set(wt.columns) != {"w", "c", "s"}:
        # r7: materialize the word table ONCE before the round loop — round
        # 1's best-pair collect and the round-1 lazy checkpoint each re-ran
        # the full corpus token explode + groupBy without this (guide §5:
        # localCheckpoint to cut lineage on a reused intermediate)
        wt = word_table(docs, text_col).localCheckpoint(eager=True)
    merges: list[tuple[int, str, int]] = []
    for r in range(1, rounds + 1):
        best = (
            _pair_counts(wt)
            .orderBy(F.col("n").desc(), F.col("pair"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        pair, n = best[0]["pair"], best[0]["n"]
        merged = "<" + pair.replace("<", "").replace(">", "") + ">"
        merges.append((r, pair, int(n)))
        wt = wt.withColumn(
            "s", F.expr(f"replace(s, '{pair}', '{merged}')")
        ).localCheckpoint(eager=False)
    return merges, wt


def bpe_merge_table(docs: DataFrame, rounds: int = ROUNDS,
                    text_col: str = "text") -> DataFrame:
    """The merge table as a DataFrame: (rank, pair, n) — the trained
    artifact a tokenizer ships."""
    spark = docs.sparkSession
    merges, _ = bpe_train(docs, rounds, text_col)
    return spark.createDataFrame(merges, "rank int, pair string, n bigint")


def bpe_encode(docs: DataFrame, merges: list[tuple[int, str, int]],
               id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Apply a trained merge table to the corpus — the tokenizer's
    *encode* step, the one that actually runs over 100 TB (training touches
    only the vocabulary-sized word table; encoding touches every byte).

    Engine-exact, fully map-only (ZERO shuffles): each document's
    lowercase alphabetic tokens are wrapped-symbol segmented
    ('<l><o><w>…'), joined with a space (pairs are '<x><y>', so a merge
    replace can never cross the '> <' word boundary), and the merges are
    applied as a chain of plain ``replace`` calls in rank order — the same
    greedy-leftmost semantics on both engines that makes training
    hash-verifiable (see module docstring).

    Returns (id, n_words, n_symbols, enc_hash): symbol counts are the
    post-merge token counts a budget planner needs; the md5 of the full
    encoded segmentation pins byte-exact parity without shipping the
    (large) encoded text through the comparator.

    r7 Arrow kernel (guide §4.2): the expression form evaluated the
    char-wrap HOF (one interpreted lambda per CHARACTER) and the whole
    replace chain up to three times per row (n_symbols needs length(enc)
    twice, enc_hash once; HOF projections fall out of whole-stage codegen
    and its subexpression elimination).  The kernel runs the identical
    string pipeline once per doc in Python — str.replace is the same
    leftmost non-overlapping scan as SQL replace, so the segmentation and
    its md5 are byte-identical (pinned vs the expression form in
    tests/test_dedup_kernels.py, and by the q_bpe_encode oracle)."""
    import re as _re

    id_type = docs.schema[id_col].dataType
    schema = T.StructType([
        T.StructField(id_col, id_type),
        T.StructField("n_words", T.LongType()),
        T.StructField("n_symbols", T.LongType()),
        T.StructField("enc_hash", T.StringType()),
    ])
    reps = [
        (pair, "<" + pair.replace("<", "").replace(">", "") + ">")
        for _rank, pair, _n in merges
    ]
    alpha = _re.compile(r"[a-z]+")

    def kernel(batches):
        import hashlib

        import pandas as pd

        word_memo: dict[str, str] = {}

        def encode_word(w: str) -> str:
            e = word_memo.get(w)
            if e is None:
                e = "".join("<" + ch + ">" for ch in w)
                if len(word_memo) >= 1_000_000:
                    word_memo.clear()
                word_memo[w] = e
            return e

        for pdf in batches:
            ids: list = []
            n_words: list[int] = []
            n_syms: list[int] = []
            hashes: list[str] = []
            for doc_id, text in zip(pdf["_id"], pdf["_txt"]):
                if text is None:
                    continue
                toks = [t for t in py_tokens(text) if alpha.fullmatch(t)]
                enc = " ".join(encode_word(w) for w in toks)
                for pair, merged in reps:
                    enc = enc.replace(pair, merged)
                ids.append(doc_id)
                n_words.append(len(toks))
                n_syms.append(enc.count("<"))
                hashes.append(hashlib.md5(enc.encode("utf-8")).hexdigest())
            if ids:
                yield pd.DataFrame(
                    {
                        id_col: ids,
                        "n_words": n_words,
                        "n_symbols": n_syms,
                        "enc_hash": hashes,
                    }
                )

    return docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_txt")
    ).mapInPandas(kernel, schema=schema)


def bpe_segment_counts(docs: DataFrame, rounds: int = ROUNDS,
                       text_col: str = "text", top: int = 30) -> DataFrame:
    """Top subword symbols after training: (symbol, n_words, total_count)
    — the vocabulary head, weighted by word frequency."""
    _, wt = bpe_train(docs, rounds, text_col)
    syms = F.split(F.expr("replace(s, '><', '> <')"), " ")
    return (
        wt.select("c", F.explode(syms).alias("symbol"))
        .groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("c").alias("total_count"),
        )
        .orderBy(F.col("total_count").desc(), F.col("symbol"))
        .limit(top)
    )
