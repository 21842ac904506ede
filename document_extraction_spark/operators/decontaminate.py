"""Benchmark decontamination: flag corpus documents that share word n-grams
with an evaluation/benchmark set.

This is the standard pre-training hygiene pass (the reference pipeline has no
analogue — it is a per-document extractor; decontamination is one of the
"operations a large-scale training-data pipeline would need" the engine adds
on top): any training document containing an n-gram that also appears in a
held-out benchmark is flagged (and typically dropped or redacted) so the
benchmark stays uncontaminated.

Plan shape, and why it holds at 100 TB:

* Per-document n-grams are built **map-only** by one Arrow kernel
  (:func:`_doc_grams`), deduplicated per document BEFORE they leave it — so
  the gram stream carries each (doc, gram) once, never raw token positions.
* The benchmark side is tiny by construction (eval sets are MBs against a
  100 TB corpus), so its distinct-gram set is **broadcast**: the corpus-side
  stream is filtered by a broadcast hash semi-join — zero shuffle of corpus
  grams.
* The only shuffle is the final ``groupBy(doc_id)`` count over the *matched*
  grams — a vanishingly small fraction of the corpus — with map-side partial
  aggregation.
* If the benchmark is too big to broadcast (unusual), pass
  ``broadcast_benchmark=False`` to fall back to a shuffled semi-join; the
  gram key is high-cardinality and uniform, so no skew handling is needed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from document_extraction_spark.functions.textstats import py_tokens


def _doc_grams(df: DataFrame, n: int, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, gram): each document's DISTINCT lowercase word n-grams.

    r7 Arrow kernel (guide §4.2): the tokens -> word_ngrams ->
    array_distinct -> explode chain ran as interpreted HOF expressions per
    document; the kernel builds the same distinct gram set with Python
    string ops.  Emits the identical row SET (NULL text and <n-token docs
    emit nothing, exactly like exploding the HOF's empty array); every
    consumer (distinct, semi-join, count) is row-order-free.  Pinned
    row-equal to the HOF form in tests/test_dedup_kernels.py."""
    id_type = df.schema[id_col].dataType
    schema = T.StructType([
        T.StructField("doc_id", id_type),
        T.StructField("gram", T.StringType()),
    ])

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            ids: list = []
            grams: list[str] = []
            for doc_id, text in zip(pdf["_id"], pdf["_txt"]):
                if text is None:
                    continue
                toks = py_tokens(text)
                if len(toks) < n:
                    continue
                gs = dict.fromkeys(
                    " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                )
                ids.extend([doc_id] * len(gs))
                grams.extend(gs)
            if ids:
                yield pd.DataFrame({"doc_id": ids, "gram": grams})

    return df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_txt")
    ).mapInPandas(kernel, schema=schema)


def contaminated_ngram_counts(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Per-corpus-document count of distinct word ``n``-grams shared with the
    benchmark set: ``(doc_id, n_shared)``, contaminated documents only.

    ``n_shared`` counts *distinct* shared grams (each gram counted once per
    document regardless of repetition), so the number is a stable
    contamination severity signal independent of document length.
    """
    bench_grams = _doc_grams(benchmark, n, id_col, text_col).select("gram").distinct()
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    corpus_grams = _doc_grams(corpus, n, id_col, text_col)
    return (
        corpus_grams.join(bench_grams, "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    max_shared: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Drop corpus documents sharing more than ``max_shared`` distinct
    ``n``-grams with the benchmark (default: any overlap drops the doc).
    Returns the surviving corpus rows with their original columns."""
    flagged = contaminated_ngram_counts(
        corpus, benchmark, n=n, id_col=id_col, text_col=text_col
    ).filter(F.col("n_shared") > max_shared)
    return corpus.join(
        flagged.withColumnRenamed("doc_id", id_col).select(id_col),
        id_col,
        "left_anti",
    )


def semantic_decontaminate(
    corpus_emb: DataFrame,
    eval_emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prefilter_planes: int | None = None,
    prefilter_bands: int = 8,
    dim: int = 64,
    seed: int = 1234,
) -> DataFrame:
    """Embedding-space decontamination: flag corpus rows whose max cosine
    similarity to ANY eval-set embedding reaches ``threshold`` — catches
    paraphrased/reworded benchmark leakage that n-gram overlap
    (:func:`decontaminate`) misses.

    Plan shape at 100 TB: the eval side is tiny by construction, so it is
    collected to the driver (at most ``similarity.MAX_BROADCAST_ROWS``
    rows) as a dense float64 matrix that rides the ``mapInPandas`` closure;
    each corpus Arrow batch computes its max cosine as ONE BLAS matmul
    (``similarity._cosine_matrix``). Corpus embeddings stream through, never
    shuffle, and nothing but (doc_id, max_cos) comes back.

    Setting ``prefilter_planes`` is only for eval sides larger than
    ``similarity.MAX_BROADCAST_ROWS``, where the exact kernel refuses to
    collect them. Wherever the exact kernel runs it is the faster path, by
    about 11x: 1.52 s against the prefilter's 17.1 s at 1932 x 118 corpus x
    eval rows on 2 CPUs (BENCH/COSINE_FOLD.json), and 2.23 s against 20.8 s
    at 18870 x 1180 on 8 CPUs (BENCH/DECON_SRP.json).

    The prefilter gates the cosine behind banded signed-random-projection
    buckets (``similarity.srp_band_buckets``, ``prefilter_bands`` bands of
    ``prefilter_planes/prefilter_bands`` sign bits): a corpus row is scored
    with the JVM ``similarity.cosine`` only against eval vectors colliding
    in at least one band. Banding bounds the miss probability at
    (1 - p^r)^b per true pair (p = 1 - acos(cos)/pi); at threshold 0.9 with
    16 planes / 8 bands that is < 0.3%. The prefilter is approximate BY
    DESIGN: rows with no colliding eval vector report ``max_cos`` NULL and
    contaminated=false, so ``max_cos`` is a lower-bound witness, not an
    exact maximum.

    Output: (doc_id, max_cos, contaminated) for every corpus row, cosine
    rounded to 4 decimals at the edge (engine-stable). A zero-norm vector
    has no cosine on either path: a corpus row with no non-zero-norm eval
    partner gets ``max_cos`` NULL and contaminated=false. ``eval_emb`` must
    carry ``id_col`` too when the prefilter is on (candidate dedup across
    bands is keyed by it)."""
    from document_extraction_spark.operators.similarity import (
        _collect_broadcast_side,
        _cosine_matrix,
        _vectors,
        cosine,
        srp_band_buckets,
    )

    contaminated = F.coalesce(F.col("max_cos") >= threshold, F.lit(False))
    if prefilter_planes is None:
        emat = _vectors(
            _collect_broadcast_side(
                eval_emb.select(vec_col), "eval rows", "the SRP prefilter"
            ),
            vec_col,
        )

        def kernel(batches):
            for pdf in batches:
                # fmax skips the NaN of a zero norm without an all-NaN
                # warning; a row with no cosine at all stays NaN -> NULL
                sims = _cosine_matrix(_vectors(pdf, vec_col), emat)
                mx = np.fmax.reduce(sims, axis=1)
                yield pd.DataFrame({"doc_id": pdf[id_col].values, "_max": mx})

        scored = corpus_emb.select(id_col, vec_col).mapInPandas(
            kernel, schema="doc_id long, _max double"
        )
        return scored.select(
            "doc_id", (F.round("_max", 4) + F.lit(0.0)).alias("max_cos")
        ).select("doc_id", "max_cos", contaminated.alias("contaminated"))

    buckets = F.explode(
        srp_band_buckets(vec_col, prefilter_planes, prefilter_bands, dim, seed)
    ).alias("bucket")

    cb = corpus_emb.select(
        F.col(id_col).alias("doc_id"), F.col(vec_col).alias("cv"), buckets
    )
    eb = eval_emb.select(
        F.col(id_col).alias("eval_id"), F.col(vec_col).alias("ev"), buckets
    )
    cand = cb.join(F.broadcast(eb), "bucket").dropDuplicates(["doc_id", "eval_id"])
    per_doc = (
        cand.select("doc_id", cosine(F.col("cv"), F.col("ev")).alias("_cos"))
        .groupBy("doc_id")
        .agg((F.round(F.max("_cos"), 4) + F.lit(0.0)).alias("max_cos"))
    )
    return (
        corpus_emb.select(F.col(id_col).alias("doc_id"))
        .distinct()
        .join(per_doc, "doc_id", "left")
        .select("doc_id", "max_cos", contaminated.alias("contaminated"))
    )

