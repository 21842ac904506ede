"""Pure-Column higher-order-function twins of the Arrow kernels in
operators/ (dedup shingles and MinHash, decontamination n-grams, span-dedup
gram occurrences, BPE encoding). Their expression trees are what the DuckDB
oracles mirror, and tests/test_dedup_kernels.py pins the kernels row-equal
to them."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from document_extraction_spark.functions.textstats import tokens, word_ngrams
from document_extraction_spark.operators.dedup import MINHASH_K, SHINGLE_WIDTH, _tokens_df


def shingle_array_df(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                     width: int = SHINGLE_WIDTH) -> DataFrame:
    """(doc_id, sh: array<string>) — distinct word-``width``-gram shingles."""
    step = _tokens_df(df, id_col, text_col)
    tk = F.col("_tk")
    grams = F.when(
        F.size(tk) >= width,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - (width - 1)),
            lambda i: F.array_join(F.slice(tk, i, width), " "),
        ),
    ).otherwise(F.array(F.array_join(tk, " ")))
    return step.select("doc_id", F.array_distinct(grams).alias("sh"))


def shingles_hof(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                 width: int = SHINGLE_WIDTH) -> DataFrame:
    """The HOF twin of ``dedup.shingles``: exploded (doc_id, shingle)."""
    return shingle_array_df(df, id_col, text_col, width).select(
        "doc_id", F.explode("sh").alias("shingle")
    )


def minhash_signatures_hof(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", k: int = MINHASH_K) -> DataFrame:
    """The HOF twin of ``dedup.minhash_signatures``: two md5s per shingle
    inside array higher-order functions, signature i = array_min over the
    i-th 8-hex window."""
    sh = shingle_array_df(df, id_col, text_col)
    hashed = sh.select(
        "doc_id",
        F.transform("sh", lambda s: F.md5(s)).alias("_h1"),
        F.transform("sh", lambda s: F.md5(F.concat(F.lit("x"), s))).alias("_h2"),
    )
    cols = []
    for i in range(k):
        src = "_h1" if i < 4 else "_h2"  # 32 hex chars => 4 windows per md5
        start = 1 + 8 * (i % 4)
        cols.append(
            F.array_min(
                F.transform(src, lambda x: F.substring(x, start, 8))
            ).alias(f"h{i}")
        )
    return hashed.select("doc_id", *cols)


def doc_grams_hof(df: DataFrame, n: int, id_col: str, text_col: str) -> DataFrame:
    """The HOF twin of ``decontaminate._doc_grams``: (doc_id, gram), each
    document's distinct lowercase word n-grams."""
    toks = tokens(F.lower(F.col(text_col)))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(word_ngrams(toks, n))).alias("gram"),
    )


def gram_occurrences_hof(base: DataFrame, width: int) -> DataFrame:
    """The HOF twin of ``span_dedup._gram_occurrences``: (doc_id, p, ghash)
    per width-gram start position."""
    tk = F.col("_tk")
    return (
        base.filter(F.size(tk) >= width)
        .select(
            "doc_id",
            tk,
            F.explode(F.sequence(F.lit(1), F.size(tk) - (width - 1))).alias("p"),
        )
        .select(
            "doc_id",
            "p",
            F.md5(F.array_join(F.slice(tk, F.col("p"), width), " ")).alias("ghash"),
        )
    )


def bpe_encode_expr(docs: DataFrame, merges: list[tuple[int, str, int]],
                    id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """The expression twin of ``bpe.bpe_encode``: (id, n_words, n_symbols,
    enc_hash)."""
    tk = F.filter(
        tokens(F.lower(F.col(text_col))), lambda w: w.rlike("^[a-z]+$")
    )
    wrapped = F.transform(tk, lambda w: F.regexp_replace(w, "(.)", "<$1>"))
    enc = F.array_join(wrapped, " ")
    for _rank, pair, _n in merges:
        merged = "<" + pair.replace("<", "").replace(">", "") + ">"
        enc = F.replace(enc, F.lit(pair), F.lit(merged))
    return docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.size(tk).cast("long").alias("n_words"),
        (F.length(enc) - F.length(F.replace(enc, F.lit("<"), F.lit(""))))
        .cast("long").alias("n_symbols"),
        F.md5(enc).alias("enc_hash"),
    )
