"""The composed training-data curation pipeline — the engine's operators
chained the way a real pre-training data run chains them:

    extract (classify -> strip/layout -> normalize)
      -> quality gate  (functions/textstats.quality_score)
      -> language gate (functions/textstats.lang_guess)
      -> dedup         (fingerprint keep-first, or MinHash-LSH near-dup drop)

Exact dedup alone is one lazy DataFrame plan end-to-end: the extraction
kernel is the only Python stage; every gate is a codegen'd Column
expression; dedup adds the one fingerprint shuffle. Nothing collects
to the driver.

Near-dup removal cuts that plan once, at the exact-dedup frame. Two
consumers read it: ``near_dup_pairs_pipeline`` and the final ``left_anti``
join. Spark does not share a subtree between them, so without the cut each
would re-run the scan, the extraction kernel, the gates and the fingerprint
window: two kernel passes per input row instead of one. Under AQE,
``localCheckpoint(eager=False)`` is not lazy: defining it runs the shuffle
stages beneath it (the fingerprint exchange) as jobs while the plan is
built. Only the stage above that exchange waits for the first consumer,
which computes and persists it.

At 100 TB the gate order matters and is deliberate: quality/lang filters are
map-only and run BEFORE the dedup shuffle, so the exchange only carries rows
that survive the cheap predicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from document_extraction_spark.functions import textstats as TS
from document_extraction_spark.plans.extract_pipeline import (
    build_extract_df,
    documents_as_turns,
)


# (SparkContext, min_quality, langs) -> the gate Columns built for them
_GATE_COLUMNS: dict[tuple, tuple] = {}


def _gate_columns(sc, min_quality: float, langs: tuple[str, ...]) -> tuple:
    """The gate projections of :func:`curate_documents`, built once per
    SparkContext: (token array, [token count, lowered tokens], the four
    stopword hit counts, [quality, lang, fingerprint], the keep predicate).

    Built inline they cost ~2,300 py4j round trips a call: the largest part
    of building a curation plan, and the part that swings most with host
    load. A Column is an immutable unresolved expression, so the same
    objects serve every plan of the context; a new context rebuilds them.

    The token array, its lowered form and the four hit counts are
    projection outputs because Catalyst only shares a subexpression that a
    projection names: inlined, the interpreted tokenize and filter HOFs ran
    up to 9x per row. The keep predicate would lose that sharing: the
    optimizer pushes a filter below projections with their aliases
    substituted, re-running the tokenize, lower and stopword HOFs inside
    the ``Filter``. ``curate_documents`` stops it with a Generate between
    the projections and the filter, so each row is tokenized once
    (``tests/test_plan_shapes.py``). The ``_from`` variants apply the
    expression tails of ``quality_score`` and ``lang_guess``, so every gate
    value is theirs."""
    key = (sc, min_quality, langs)
    cols = _GATE_COLUMNS.get(key)
    if cols is None:
        cols = (
            TS.tokens(F.col("text")).alias("_tk"),
            [
                F.size("_tk").cast("long").alias("_ntok"),
                F.transform("_tk", lambda t: F.lower(t)).alias("_tkl"),
            ],
            [
                TS.stopword_hits_from_lower_tokens(F.col("_tkl"), lang).alias(f"_h_{lang}")
                for lang in TS.STOPWORDS
            ],
            [
                TS.quality_score_from(
                    F.col("_ntok"), TS.punct_count(F.col("text")), F.col("text")
                ).alias("quality"),
                TS.lang_guess_from_hits(
                    {lang: F.col(f"_h_{lang}") for lang in TS.STOPWORDS}
                ).alias("lang"),
                TS.fingerprint(F.col("text")).alias("_fp"),
            ],
            (F.col("quality") >= min_quality) & F.col("lang").isin(*langs),
        )
        if any(k[0] is not sc for k in _GATE_COLUMNS):
            _GATE_COLUMNS.clear()  # a stopped context's Columns are dead
        _GATE_COLUMNS[key] = cols
    return cols


def curate_documents(
    docs: DataFrame,
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en",),
    near_dup_threshold: float | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """documents(doc_id, text, ...) -> curated (doc_id, text, quality, lang)
    with exact-dup rows collapsed to the smallest doc_id; optionally also
    drop MinHash-LSH near-duplicates at ``near_dup_threshold`` (greedy
    pairwise policy: a doc is dropped iff it is the larger id of a verified
    pair — for transitive-closure semantics run operators/dedup.dedup_clusters
    and keep one id per cluster)."""
    turns = documents_as_turns(docs, id_col, text_col)
    extracted = build_extract_df(turns).select(
        F.col("conv_id").cast("long").alias(id_col),
        F.col("text"),
    )
    tk, hits_in, hits, gates, keep = _gate_columns(
        docs.sparkSession.sparkContext, float(min_quality), tuple(langs)
    )
    gated = (
        extracted.select(id_col, "text", tk)
        .select(id_col, "text", *hits_in)
        .select(id_col, "text", "_ntok", *hits)
        .select(id_col, "text", *gates)
        # a Generate the optimizer cannot push the filter through: below it
        # the keep predicate would re-run the tokenize and stopword HOFs
        .select(F.inline(F.array(F.struct(id_col, "text", "quality", "lang", "_fp"))))
        .filter(keep)
    )
    w = Window.partitionBy("_fp").orderBy(id_col)
    exact_deduped = (
        gated.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_fp")
    )
    if near_dup_threshold is None:
        return exact_deduped
    from document_extraction_spark.operators.dedup import near_dup_pairs_pipeline

    # two consumers below: extract and gate each document once
    exact_deduped = exact_deduped.localCheckpoint(eager=False)
    pairs = near_dup_pairs_pipeline(
        exact_deduped, threshold=near_dup_threshold, id_col=id_col, text_col="text"
    )
    # drop the larger id of every verified near-dup pair (keep cluster min)
    losers = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return exact_deduped.join(losers, id_col, "left_anti")
