"""binaryFile -> extraction-kernel adapter: the reference's raw-document
ingestion shape (/root/reference/src/pdf_extractor/extractor.py:21-32 reads
one PDF file's bytes and fans out to per-page units) as a distributed source.

``read_binary`` scans opaque files with Spark's ``binaryFile`` source (one
row per file: path, modificationTime, length, content). ``binary_to_turns``
decodes bytes to text (utf-8, replacement chars for malformed sequences —
deterministic on any byte stream) and fans out one row per page on ``\\f``
(form feed, the same page delimiter the pdf_layout operator consumes, O9) —
yielding the engine's canonical transcript-turn shape so the output plugs
straight into ``build_extract_df``.

The container has no PDF rasterizer (task brief), so the byte->text step is
the trivial decode probe; production swaps a real parser into the same
kernel signature — the Spark plumbing (pruned scan -> Arrow-batched
mapInPandas -> 1->N page fan-out) does not move.

Scale: ``binaryFile`` materializes one whole file per row — parallelism
comes from the file count, and ``spark.sql.files.maxPartitionBytes`` bounds
the files per task. The kernel projects only (path, modificationTime,
content); column pruning keeps any other metadata out of the Python worker.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TURNS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
    ]
)


def read_binary(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """One row per file: (path, modificationTime, length, content: binary).
    Note: Spark's binaryFile source silently skips zero-length files."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def binary_to_turns(bin_df: DataFrame) -> DataFrame:
    """Decode file bytes to text and fan out one turn per ``\\f``-delimited
    page: conv_id = full file path (scheme stripped), turn_idx = page
    ordinal, ts = file mtime.  The full path — not the basename — keys the
    conversation: two same-named files in different subdirectories of the
    scan must not collapse into one conversation with colliding
    (conv_id, turn_idx) pairs, which would corrupt downstream keyed dedup
    and reassembly.  Malformed byte sequences become U+FFFD
    (errors='replace') so any input is total and deterministic."""

    def kernel(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, mtime, content in zip(
                pdf["path"], pdf["modificationTime"], pdf["content"]
            ):
                name = path.split("://", 1)[-1] if "://" in path else (
                    path[5:] if path.startswith("file:") else path
                )
                text = (bytes(content) if content is not None else b"").decode(
                    "utf-8", errors="replace"
                )
                for i, page in enumerate(text.split("\f")):
                    rows.append((name, i, "doc", None, mtime, page))
            yield pd.DataFrame(
                rows, columns=[f.name for f in TURNS_SCHEMA.fields]
            )

    pruned = bin_df.select("path", "modificationTime", "content")
    return pruned.mapInPandas(kernel, schema=TURNS_SCHEMA)


def extract_binary_files(spark: SparkSession, path: str) -> DataFrame:
    """End-to-end: binary files -> per-page turns -> extraction pipeline
    (the reference's extract(pdf_path) loop, distributed)."""
    from document_extraction_spark.plans.extract_pipeline import build_extract_df

    return build_extract_df(binary_to_turns(read_binary(spark, path)))
