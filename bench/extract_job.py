"""spark-submit driver for the extraction pipeline (north-rule launch shape:
``spark-submit --py-files dist/document_extraction_spark.zip bench/extract_job.py``).

Times ONLY the pipeline job (scan -> repartition -> mapInPandas -> write),
not session startup or data generation, and prints one JSON line:
``{"rows": N, "elapsed_sec": S, "turns_per_sec": R, "master": "..."}``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", required=True)
    ap.add_argument("--dst", required=True)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--master", default=None, help="override (else spark-submit --master)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("dex_extract_job")
    if args.master:
        builder = builder.master(args.master)
    spark = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # package may arrive via --py-files; else ship it ourselves
    try:
        from document_extraction_spark.plans.extract_pipeline import run
    except ModuleNotFoundError:
        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        from document_extraction_spark.session import ensure_worker_package
        ensure_worker_package(spark)
        from document_extraction_spark.plans.extract_pipeline import run

    # parallelism comes from input splits (generator writes many small
    # files; maxPartitionBytes keeps splits fine-grained so the straggler
    # tail stays short). The salted repartition stays available for
    # genuinely conv-grouped/skewed inputs (--partitions).
    partitions = args.partitions

    # warm the JVM + all Python workers so the measured run is steady-state
    # (mirrors a long-lived cluster). Two parts: a JVM scan, and — critically
    # — a FULL-WIDTH tiny mapInPandas pass: sample() keeps every input split,
    # so each core's Python worker spawns and imports the package BEFORE the
    # clock starts. Without it, N worker spawns land inside the timed window
    # and weigh 4x more at 4N cores (measured: ~0.77 apparent 2->8 efficiency
    # from a ~1.0-scaling pipeline).
    from pyspark.sql import functions as F

    from document_extraction_spark.plans.extract_pipeline import build_extract_df

    df = spark.read.parquet(args.src)
    df.select(F.length("text")).groupBy().sum().collect()
    build_extract_df(df.sample(0.02, seed=1)).write.format("noop").mode(
        "overwrite"
    ).save()

    t0 = time.time()
    run(spark, args.src, args.dst, partitions=partitions, collect_metrics=False)
    elapsed = time.time() - t0
    rows = spark.read.parquet(args.dst).count()  # after the clock stops

    print(
        json.dumps(
            {
                "rows": int(rows),
                "elapsed_sec": round(elapsed, 2),
                "turns_per_sec": round(rows / elapsed, 1),
                "master": spark.sparkContext.master,
                "partitions": partitions,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
