"""Checkpointed, resumable extraction runs (north-star requirement:
"per-partition lineage and extraction metrics … enabling idempotent resume at
10^12-turn scale"; FIXTURES.md §3).

Unit of commit: a **bucket** = ``pmod(xxhash64(conv_id), n_buckets)``. The
run processes pending buckets in waves; each wave

1. filters the source to its buckets (predicate → partition/row-group prune),
2. extracts via the mapInPandas kernel,
3. writes ``partitionBy(bucket)`` with **dynamic partition overwrite** — a
   re-run of a half-written bucket replaces it instead of duplicating it,
4. appends one manifest row per bucket (with lineage metrics) to the
   checkpoint table — only after the data write succeeded.

Resume = ``left_anti`` join of the bucket universe against the manifest
(broadcast — the manifest has at most ``n_buckets`` rows, SURVEY.md §2.3
"Joins"). A crash between (3) and (4) is safe: the bucket is re-extracted and
dynamically overwritten. A completed run resumes as a no-op.

The output and manifest tables are reached only through the
``sources/tableio.TableIO`` verbs: ``exists``/``read`` for the manifest,
``overwrite_partitions`` for the wave write and ``append`` for the manifest
rows. A path is split into the table's root (its parent directory) and its
name. The parquet protocol runs on those three verbs today. On Iceberg the
same verbs are a snapshot-atomic ``overwritePartitions()`` and
``append()``, but an Iceberg table is named by a catalog identifier, not a
path, so the resumable run does not take that branch yet (SURVEY.md §7
"Iceberg absence").
"""

from __future__ import annotations

import posixpath

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from document_extraction_spark.plans.extract_pipeline import (
    METRIC_NAMES,
    METRICS_SCHEMA,
    build_extract_df,
    observe_metrics,
    read_transcripts,
)
from document_extraction_spark.sources.tableio import TableIO

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("n_buckets", T.IntegerType()),
        T.StructField("bucket", T.IntegerType()),
        *METRICS_SCHEMA.fields,
        T.StructField("committed_at", T.TimestampType()),
    ]
)


def bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


def _table(spark: SparkSession, path: str) -> tuple[TableIO, str]:
    """The parquet table at ``path``: a ``TableIO`` over its parent
    directory, and its name."""
    root, name = posixpath.split(path.rstrip("/"))
    return TableIO(spark, root or "."), name


def read_manifest(spark: SparkSession, ckpt_path: str) -> DataFrame:
    """The committed manifest rows; a checkpoint path that does not exist
    yet reads as empty. Any other failure raises: an unreadable manifest
    read as empty would bypass the ``n_buckets`` guard and re-extract every
    bucket."""
    io, name = _table(spark, ckpt_path)
    if io.exists(name):
        return io.read(name)
    return spark.createDataFrame([], MANIFEST_SCHEMA)


def pending_buckets(spark: SparkSession, ckpt_path: str, n_buckets: int) -> list[int]:
    """Bucket universe anti-joined against committed manifest rows."""
    universe = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    done = read_manifest(spark, ckpt_path).select("bucket")
    rows = universe.join(F.broadcast(done), "bucket", "left_anti").collect()
    return sorted(r["bucket"] for r in rows)


def run_resumable(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    ckpt_path: str,
    run_id: str,
    n_buckets: int = 16,
    wave_size: int = 8,
    max_waves: int | None = None,
) -> list[int]:
    """Process pending buckets in waves; returns buckets committed this call.

    ``max_waves`` exists for tests (simulated crash between waves).
    """
    man = read_manifest(spark, ckpt_path)
    prior = [r["n_buckets"] for r in man.select("n_buckets").distinct().collect()]
    if prior and prior != [n_buckets]:
        raise ValueError(
            f"checkpoint at {ckpt_path} was created with n_buckets={prior}; "
            f"resuming with n_buckets={n_buckets} would corrupt bucketing — "
            "use the original value or a fresh checkpoint path"
        )
    pend = pending_buckets(spark, ckpt_path, n_buckets)
    committed: list[int] = []
    waves = [pend[i : i + wave_size] for i in range(0, len(pend), wave_size)]
    if max_waves is not None:
        waves = waves[:max_waves]

    dst_io, dst_name = _table(spark, dst_path)
    ckpt_io, ckpt_name = _table(spark, ckpt_path)
    src = read_transcripts(spark, src_path).withColumn("bucket", bucket_col(n_buckets))
    for wave in waves:
        wave_df = src.filter(F.col("bucket").isin(wave))
        extracted = build_extract_df(wave_df.drop("bucket")).withColumn(
            "bucket", bucket_col(n_buckets)
        )
        # the manifest metrics accumulate in the write itself: one
        # conditional aggregate per bucket, so an empty bucket totals 0
        observed, metrics = observe_metrics(
            extracted, {b: f"bucket = {b}" for b in wave}
        )
        # only the buckets present in this wave are replaced
        dst_io.overwrite_partitions(
            observed.sortWithinPartitions("conv_id", "turn_idx"), dst_name, ["bucket"]
        )
        # from pandas, as run() builds its metrics row: a local relation,
        # where a list of tuples becomes an RDD of one Python task per core;
        # the tz-aware commit time reads back as UTC whatever the host's zone
        now = pd.Timestamp.now(tz="UTC")
        manifest_rows = pd.DataFrame(
            [
                (run_id, n_buckets, b, *(got[n] for n in METRIC_NAMES), now)
                for b, got in metrics.get.items()  # empty buckets commit too ("done")
            ],
            columns=MANIFEST_SCHEMA.names,
        )
        ckpt_io.append(
            spark.createDataFrame(manifest_rows, MANIFEST_SCHEMA).coalesce(1), ckpt_name
        )
        committed.extend(wave)
    return committed
