"""Pure-Column higher-order-function twins of the dedup shingle and MinHash
kernels. Their expression trees are what the DuckDB oracles mirror, and
tests/test_dedup_kernels.py pins the Arrow kernels in operators/dedup.py
row-equal to them."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
