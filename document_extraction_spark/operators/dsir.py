"""DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
2023): score every raw document by how much more likely its hashed-n-gram
features are under a TARGET corpus distribution than under the raw corpus
distribution.  ``log_weight = sum_g count_g * (ln p_target(b(g)) -
ln p_raw(b(g)))`` over the document's word-bigram hash buckets; resampling
raw data proportionally to these weights steers a 100 TB crawl toward a
quality/domain target (the published pipeline selects The Pile subsets
toward Wikipedia+books this way).

Distributed shape (all shuffles bounded or keyed by doc):
- word bigrams generated MAP-SIDE (textstats.word_ngrams — pure codegen
  HOFs, no Python, no explode before the hash);
- the two feature distributions are groupBy counts whose key space is
  ``buckets`` (default 1024) REGARDLESS of corpus size — broadcast tables;
- per-doc scoring: one (doc_id, bucket) count shuffle with map-side
  combine, broadcast-join the log-ratio table, ONE exact-decimal sum per
  doc.

Determinism / oracle story (the lm_score.py recipe): bucket =
hexint13(md5('dsir:' || gram)) % buckets — exact integers on both engines;
each bucket's log-ratio is round(ln(pt) - ln(pr), 5) cast DECIMAL(18,5);
per-doc totals multiply by INTEGER gram counts and sum as DECIMAL — exact
and order-independent.  The only cross-engine risk is an ln() landing
within ~1 ulp of a 1e-5 rounding boundary, the accepted residual class of
ADVICE r4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from document_extraction_spark.functions import textstats as TS

BUCKETS = 1024

_BUCKET_CACHE_CAP = 2_000_000


def _bucket(gram_col):
    """hexint13(md5('dsir:' || gram)) % BUCKETS — 13 hex nibbles < 2^52,
    exact in a long on both engines (the cms.py convention)."""
    h = F.md5(F.concat(F.lit("dsir:"), gram_col))
    return F.conv(F.substring(h, 1, 13), 16, 10).cast("long") % BUCKETS


def _py_bucket_counts(text: str | None, memo: dict) -> dict[int, int] | None:
    """Python twin of explode(word_ngrams(tokens(lower(text)), 2)) ->
    _bucket -> count: per-doc {bucket: count} dict, None when the Spark
    path emits nothing for the row (NULL text; <2 tokens yields {}).
    Buckets are md5('dsir:'+gram) hex[:13] as int mod BUCKETS — exact
    integers, memoized per task (grams repeat heavily across docs)."""
    import hashlib

    if text is None:
        return None
    toks = TS.py_tokens(text)
    counts: dict[int, int] = {}
    for i in range(len(toks) - 1):
        g = toks[i] + " " + toks[i + 1]
        b = memo.get(g)
        if b is None:
            b = (
                int(hashlib.md5(("dsir:" + g).encode("utf-8")).hexdigest()[:13], 16)
                % BUCKETS
            )
            if len(memo) >= _BUCKET_CACHE_CAP:
                memo.clear()
            memo[g] = b
        counts[b] = counts.get(b, 0) + 1
    return counts


def _bucket_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(bucket, cnt): hashed word-bigram feature counts — key space bounded
    by BUCKETS, so this table broadcasts at any corpus size.  r7: the gram
    explode + per-gram md5/conv ran as interpreted HOF expressions; the
    Arrow kernel counts buckets per batch in Python (exact integers, same
    md5) and ships only <= BUCKETS partial rows per batch into the final
    groupBy (guide §4.2 + §2.3: aggregate before you shuffle)."""
    schema = T.StructType([
        T.StructField("bucket", T.LongType()),
        T.StructField("cnt", T.LongType()),
    ])

    def kernel(batches):
        import pandas as pd

        memo: dict = {}
        agg: dict[int, int] = {}
        for pdf in batches:
            for text in pdf["_txt"]:
                c = _py_bucket_counts(text, memo)
                if c:
                    for b, k in c.items():
                        agg[b] = agg.get(b, 0) + k
        if agg:
            yield pd.DataFrame(
                {"bucket": list(agg.keys()), "cnt": list(agg.values())}
            )

    partial = df.select(F.col(text_col).alias("_txt")).mapInPandas(
        kernel, schema=schema
    )
    return partial.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: int = 1,
) -> DataFrame:
    """(doc_id, n_grams, log_weight) for every raw document with at least
    one word bigram (documents under 2 tokens carry no features and are
    absent — resample them with a neutral weight upstream if needed).

    ``log_weight`` is the DSIR importance log-ratio under add-``alpha``
    smoothed hashed-bigram unigram models of ``target`` vs ``raw``; higher
    means more target-like.  Exact-decimal arithmetic end to end (see
    module docstring) so the result hash-verifies cross-engine.
    """
    # ONE gram pass over the raw corpus: the (doc, bucket) count table backs
    # BOTH the raw feature distribution (re-aggregate by bucket — the
    # shuffle input is |docs| x distinct-buckets-per-doc, never raw grams
    # again) and the per-doc scoring join.  localCheckpoint materializes it
    # so the two consumers don't each re-run the scan (the operators/dedup.py
    # candidates recipe; plan audit r6: 12 -> 8 exchanges, raw text read
    # once).  r7: the explode + interpreted HOF gram/md5 chain became an
    # Arrow kernel that emits the EXACT per-doc (bucket, k) counts directly
    # — a whole document sits inside one Arrow batch, so the kernel output
    # already IS the groupBy(doc, bucket) result and that shuffle (|grams|
    # rows at sf1.0, petabytes at 100 TB) disappears outright (guide §2.3).
    id_type = raw.schema[id_col].dataType
    db_schema = T.StructType([
        T.StructField(id_col, id_type),
        T.StructField("bucket", T.LongType()),
        T.StructField("k", T.LongType()),
    ])

    def db_kernel(batches):
        import pandas as pd

        memo: dict = {}
        for pdf in batches:
            ids: list = []
            bks: list[int] = []
            ks: list[int] = []
            for doc_id, text in zip(pdf["_id"], pdf["_txt"]):
                c = _py_bucket_counts(text, memo)
                if c:
                    for b, k in c.items():
                        ids.append(doc_id)
                        bks.append(b)
                        ks.append(k)
            if ids:
                yield pd.DataFrame({id_col: ids, "bucket": bks, "k": ks})

    doc_buckets = (
        raw.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt"))
        .mapInPandas(db_kernel, schema=db_schema)
        .localCheckpoint(eager=False)
    )
    ct = _bucket_counts(target, text_col)
    cr = doc_buckets.groupBy("bucket").agg(F.sum("k").alias("cnt"))
    tt = ct.agg(F.sum("cnt").alias("tot_t"))
    tr = cr.agg(F.sum("cnt").alias("tot_r"))
    # full outer: buckets unseen in one corpus still get their smoothed mass
    ratios = (
        ct.select("bucket", F.col("cnt").alias("ct"))
        .join(cr.select("bucket", F.col("cnt").alias("cr")), "bucket", "full_outer")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tr))
        .select(
            "bucket",
            # totals coalesced to 0 (ADVICE r6): an EMPTY target/raw corpus
            # yields a NULL sum, which silently nulled every log_ratio —
            # with 0 the add-alpha smoothing keeps the ratio finite; for
            # any non-empty corpus the coalesce is a no-op
            F.round(
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + alpha).cast("double")
                    / (F.coalesce(F.col("tot_t"), F.lit(0)) + alpha * BUCKETS)
                )
                - F.log(
                    (F.coalesce(F.col("cr"), F.lit(0)) + alpha).cast("double")
                    / (F.coalesce(F.col("tot_r"), F.lit(0)) + alpha * BUCKETS)
                ),
                5,
            )
            .cast("decimal(18,5)")
            .alias("log_ratio"),
        )
    )
    return (
        doc_buckets.join(F.broadcast(ratios), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("k").alias("n_grams"),
            F.sum(F.col("k") * F.col("log_ratio")).alias("_lw"),
        )
        .select(
            id_col,
            "n_grams",
            F.col("_lw").cast("double").alias("log_weight"),
        )
    )
