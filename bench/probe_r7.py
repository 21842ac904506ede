"""r7 sub-stage probes for the remaining heavy queries (guide §1.4 noop
isolation).  Usage: python bench/probe_r7.py <probe> [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from pyspark.sql import functions as F  # noqa: E402


def force(df):
    df.write.format("noop").mode("overwrite").save()


def timed(label, fn):
    t0 = time.time()
    out = fn()
    print(f"{label:44s} {time.time() - t0:7.2f}s")
    return out


def probe_fuzzy(spark, sf):
    from document_extraction_spark.operators.fuzzy import blocked_levenshtein_pairs
    from document_extraction_spark.functions.textstats import tokens

    d = spark.read.parquet(f"{sf}/documents.parquet")
    tk = tokens(F.lower(F.col("text")))
    base = (
        d.filter(F.size(tk) > 0)
        .select(
            F.col("doc_id"),
            F.explode(
                F.array(
                    F.concat(F.lit("h:"), F.array_join(F.slice(tk, 1, 2), " ")),
                    F.concat(
                        F.lit("t:"),
                        F.array_join(
                            F.slice(tk, F.greatest(F.size(tk) - 1, F.lit(1)), 2), " "
                        ),
                    ),
                )
            ).alias("block"),
            F.substring(F.col("text"), 1, 60).alias("prefix"),
        )
    )
    timed("base (block keys)", lambda: force(base))
    sizes = base.groupBy("block").agg(F.count(F.lit(1)).alias("_bs"))
    bounded = base.join(
        sizes.filter(F.col("_bs") <= 1000).select("block"), "block", "left_semi"
    )
    a = bounded.select("block", F.col("doc_id").alias("doc_a"), F.col("prefix").alias("pa"))
    b = bounded.select("block", F.col("doc_id").alias("doc_b"), F.col("prefix").alias("pb"))
    cand = a.join(b, "block").filter(F.col("doc_a") < F.col("doc_b"))
    n = timed("candidates (pre-dedup) count", lambda: cand.count())
    print("  candidate rows:", n)
    dd = cand.dropDuplicates(["doc_a", "doc_b"])
    n2 = timed("dedup count", lambda: dd.count())
    print("  deduped pairs:", n2)
    timed("dedup + levenshtein", lambda: force(
        dd.withColumn("dist", F.levenshtein("pa", "pb").cast("long"))
        .filter(F.col("dist") <= 20)
    ))
    timed("FULL operator", lambda: force(blocked_levenshtein_pairs(d, max_distance=20)))


def probe_spans(spark, sf):
    from document_extraction_spark.operators import span_dedup as SPD
    from document_extraction_spark.operators.dedup import _tokens_df

    d = spark.read.parquet(f"{sf}/documents.parquet")
    base = _tokens_df(d, "doc_id", "text")
    timed("tokenize only", lambda: force(base))
    occ = SPD._gram_occurrences(base, 8)
    timed("gram occurrences", lambda: force(occ))
    timed("FULL duplicate_spans", lambda: force(SPD.duplicate_spans(d)))


def probe_curation(spark, sf):
    from document_extraction_spark.plans.curation import curate_documents
    from document_extraction_spark.plans.extract_pipeline import build_extract_df
    from document_extraction_spark.functions import textstats as TS

    d = spark.read.parquet(f"{sf}/documents.parquet")
    turns = d.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.col("text"),
    )
    timed("extract only", lambda: force(build_extract_df(turns)))
    extracted = build_extract_df(turns).select(
        F.col("conv_id").cast("long").alias("doc_id"), F.col("text")
    )
    gated = extracted.select(
        "doc_id",
        "text",
        TS.quality_score(F.col("text")).alias("quality"),
        TS.lang_guess(F.col("text")).alias("lang"),
        TS.fingerprint(F.col("text")).alias("_fp"),
    )
    timed("extract + gates", lambda: force(gated))
    timed("FULL curate", lambda: force(curate_documents(d, min_quality=0.5, langs=("en",))))


def probe_video(spark, sf):
    from document_extraction_spark.operators import multimodal as MM

    d = spark.read.parquet(f"{sf}/documents.parquet")
    media = MM.synth_video_media_df(spark, d)
    timed("synth video", lambda: force(media))
    timed("FULL video summary", lambda: force(MM.video_frame_summary(media, n_sample=3)))


def probe_conv(spark, sf):
    import __spark_entry__ as E

    qs = E.queries()
    timed("FULL conv_paths", lambda: force(qs["q_conv_paths"](spark, sf_dir=sf)))


PROBES = {
    "fuzzy": probe_fuzzy,
    "spans": probe_spans,
    "curation": probe_curation,
    "video": probe_video,
    "conv": probe_conv,
}


def main():
    from document_extraction_spark import get_spark

    name = sys.argv[1]
    sf_raw = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf1.0"
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_mod",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "bench.py"),
    )
    B = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(B)
    sf = B.stage_tables(sf_raw)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        "probe_r7",
        master=f"local[{cpus}]",
        shuffle_partitions=max(2 * cpus, 32),
        extra_conf={
            "spark.local.dir": "/dev/shm/dex_spark_local",
            "spark.sql.files.maxPartitionBytes": "2m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2m",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setJobDescription(f"probe:{name}")
    PROBES[name](spark, sf)
    spark.stop()




if __name__ == "__main__":
    main()
