"""Incremental dedup: flag a new batch against a persisted corpus LSH index.

Production corpora are not deduped once — batches arrive continuously, and
re-running pairwise dedup over corpus+batch re-scans the corpus every time.
The standard fix is a **persisted MinHash-LSH index**: one (bucket, doc_id,
signature) table built from the corpus a single time; each incoming batch
computes its own signatures map-side and probes the index, never touching
corpus text again.

Scale design (100 TB corpus, MB..GB batches):

* **index layout**: one row per (band bucket, doc) carrying the k minhash
  components, written `partitionBy(bp)` where ``bp`` is the first hex chars
  of the bucket hash. Probing joins on (bp, bucket) with the batch side
  broadcast, so Spark's dynamic partition pruning reads ONLY the bp
  partitions the batch's buckets land in — the probe cost scales with the
  batch, not the corpus (verified by plan assert in test_incremental_dedup).
* **verification without text**: candidates are verified by component-wise
  signature agreement, est_jaccard = n_eq / k (the textbook MinHash
  estimator — unbiased, +-1/sqrt(k) resolution). Exact verification would
  need corpus text, which is precisely what the index exists to avoid; docs
  flagged here can be exact-verified against only their matched corpus docs
  (a candidate-keyed jaccard_verify_candidates join) when needed.
* **append**: new unique docs' bucket rows are appendable to the same
  partitioned layout (partition-local writes — no index rebuild).

Hashes are md5 (engine-portable oracle twin, like operators/dedup.py);
xxhash64 is the production drop-in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from document_extraction_spark.operators.dedup import (
    LSH_BANDS,
    MINHASH_K,
    minhash_band_buckets,
    minhash_signatures,
)

BP_LEN = 1  # hex chars of the bucket hash used as the partition key


def _band_buckets(sig: DataFrame, k: int = MINHASH_K, bands: int = LSH_BANDS,
                  bp_len: int = BP_LEN) -> DataFrame:
    """(doc_id, h0..h{k-1}, bucket, bp) — one row per band. Bucket format
    is dedup.minhash_band_buckets ("{band}:{md5 of the band's
    components}"); bp is the partition key (first hex chars of the hash)."""
    return (
        sig.select("doc_id", *[f"h{i}" for i in range(k)],
                   F.explode(minhash_band_buckets(k, bands)).alias("bucket"))
        # bp comes from the md5 part AFTER the "{band}:" prefix — substring
        # at a fixed offset would degenerate for bands >= 10 (two-digit band
        # prefixes shift the hash, collapsing those bands' partitions and
        # defeating the pruning; r5 ADVICE fix)
        .withColumn(
            "bp",
            F.substring(F.substring_index(F.col("bucket"), ":", -1), 1, bp_len),
        )
    )


def build_lsh_index(df: DataFrame, path: str, id_col: str = "doc_id",
                    text_col: str = "text", k: int = MINHASH_K,
                    bands: int = LSH_BANDS, bp_len: int = BP_LEN) -> None:
    """One-time (or per-append) index build: signatures map-only, bucket
    explode map-only, one hash-partitioned write. No shuffle besides the
    partitioned-write exchange."""
    sig = minhash_signatures(df, id_col, text_col, k)
    _band_buckets(sig, k, bands, bp_len).write.mode("overwrite").partitionBy(
        "bp"
    ).parquet(path)


def incremental_dedup_candidates(
    spark: SparkSession,
    new_df: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    bp_len: int = BP_LEN,
) -> DataFrame:
    """(new_id, corpus_id, n_eq, est_jaccard) — every corpus doc sharing at
    least one LSH band bucket with a new-batch doc, verified by signature
    agreement. The batch side is explicitly broadcast: the bucket probe is
    a broadcast join against the partition-pruned index scan."""
    idx = spark.read.parquet(index_path)
    sig_new = minhash_signatures(new_df, id_col, text_col, k)
    b_new = _band_buckets(sig_new, k, bands, bp_len).select(
        F.col("doc_id").alias("new_id"),
        *[F.col(f"h{i}").alias(f"nh{i}") for i in range(k)],
        "bucket",
        "bp",
    )
    n_eq = sum(
        F.when(F.col(f"h{i}") == F.col(f"nh{i}"), 1).otherwise(0)
        for i in range(k)
    ).cast("long")
    return (
        idx.join(F.broadcast(b_new), ["bp", "bucket"])
        .select(
            "new_id",
            F.col("doc_id").alias("corpus_id"),
            n_eq.alias("n_eq"),
        )
        .distinct()
        .withColumn("est_jaccard", F.round(F.col("n_eq") / F.lit(float(k)), 4))
    )


def flag_new_batch(
    spark: SparkSession,
    new_df: DataFrame,
    index_path: str,
    min_est: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    bp_len: int = BP_LEN,
) -> DataFrame:
    """Per new-batch doc: (doc_id, dup_of, n_eq, est_jaccard, is_dup).
    dup_of is the best corpus match (highest est_jaccard, ties to the
    smallest corpus_id — deterministic); docs with no candidate >= min_est
    come back is_dup = false with NULL match columns, so the caller can
    route uniques to the corpus append and dups to quarantine in one pass."""
    cand = incremental_dedup_candidates(
        spark, new_df, index_path, id_col, text_col, k, bands, bp_len
    ).filter(F.col("est_jaccard") >= min_est)
    w = Window.partitionBy("new_id").orderBy(
        F.col("est_jaccard").desc(), F.col("corpus_id").asc()
    )
    best = (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("new_id").alias(id_col),
            F.col("corpus_id").alias("dup_of"),
            "n_eq",
            "est_jaccard",
        )
    )
    return (
        new_df.select(id_col)
        .join(best, id_col, "left")
        .select(
            id_col,
            "dup_of",
            "n_eq",
            "est_jaccard",
            F.col("dup_of").isNotNull().alias("is_dup"),
        )
    )
