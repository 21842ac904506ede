"""The extraction pipeline as one lazy DataFrame plan (SURVEY.md §3.4).

``read -> (left_anti vs checkpoint) -> hash repartition -> mapInPandas ->
write + metrics`` — the distributed analogue of the reference's eager
per-document loop (/root/reference/main.py:74 -> extractor.py:40-74).

Run metrics (turns, parse failures, truncations, blocks kept/dropped, bytes
in/out, payload-kind counts) are totals observed in the write itself
(``observe_metrics``): an extraction call scans its input once, in the job
that writes, and never reads back what it wrote. ``metrics_by_partition``
is the explicit re-read view, for the per-partition breakdown of a written
table.

Scale notes (100 TB / 10^12 turns):

* Extraction is **per-turn stateless**, so rows of one conversation need NOT
  be co-located — we repartition on ``xxhash64(conv_id, turn_idx, 0)``
  which balances perfectly even when one conversation has 10^6 turns. The
  output *ordering metadata* (turn_idx) carries the stable turn ordering.
* Column pruning: only (keys + text) flow into the Python worker; Catalyst
  prunes the parquet scan to the read schema.
* Predicate pushdown: any turn/page selection is a plain ``filter`` that
  reaches the scan (the reference rasterizes everything then drops pages —
  extractor.py:57-60 — we never materialize-then-drop).
* The JVM->Python hop is Arrow record batches (bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch``), amortized per batch.
"""

from __future__ import annotations

from typing import Any, Sequence

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from document_extraction_spark.core import classify as C
from document_extraction_spark.core.extract import make_extract_kernel

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("start", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
        ]
    )
)

KEY_FIELDS = [
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.TimestampType()),
]

RESULT_FIELDS = [
    T.StructField("payload_kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("spans", SPAN_TYPE),
    T.StructField("n_blocks_kept", T.LongType()),
    T.StructField("n_blocks_dropped", T.LongType()),
    T.StructField("parse_failed", T.BooleanType()),
    T.StructField("truncated", T.BooleanType()),
    T.StructField("bytes_in", T.LongType()),
    T.StructField("bytes_out", T.LongType()),
]

OUT_SCHEMA = T.StructType(KEY_FIELDS + RESULT_FIELDS)

# the Python kernel emits spans as primitive offset arrays (fast Arrow path);
# the struct view above is assembled JVM-side in build_extract_df
KERNEL_FIELDS = [
    T.StructField("payload_kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("span_starts", T.ArrayType(T.IntegerType())),
    T.StructField("span_ends", T.ArrayType(T.IntegerType())),
    T.StructField("n_blocks_kept", T.LongType()),
    T.StructField("n_blocks_dropped", T.LongType()),
    T.StructField("parse_failed", T.BooleanType()),
    T.StructField("truncated", T.BooleanType()),
    T.StructField("bytes_in", T.LongType()),
    T.StructField("bytes_out", T.LongType()),
]

KERNEL_SCHEMA = T.StructType(KEY_FIELDS + KERNEL_FIELDS)

# the run metrics over extracted rows, in report order: each is the sum of
# its per-row term. The terms are SQL text so that an observation parses in
# one Py4J call; built from Column functions it took ~100 calls, ~90 ms of
# each extraction call on a 4-vCPU VM.
METRIC_TERMS = {
    "n_turns": "1L",
    "n_parse_failed": "CAST(parse_failed AS BIGINT)",
    "n_truncated": "CAST(truncated AS BIGINT)",
    "n_blocks_kept": "n_blocks_kept",
    "n_blocks_dropped": "n_blocks_dropped",
    "bytes_in": "bytes_in",
    "bytes_out": "bytes_out",
    "n_html": f"CAST(payload_kind = '{C.KIND_HTML}' AS BIGINT)",
    "n_pdf": f"CAST(payload_kind = '{C.KIND_PDF}' AS BIGINT)",
    "n_plain": f"CAST(payload_kind = '{C.KIND_PLAIN}' AS BIGINT)",
}
METRIC_NAMES = tuple(METRIC_TERMS)

METRICS_SCHEMA = T.StructType(
    [T.StructField(n, T.LongType(), False) for n in METRIC_NAMES]
)


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def documents_as_turns(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """documents(id, text) -> the transcript-turn shape ``build_extract_df``
    reads: one user turn per document, ``conv_id`` = the id as a string,
    ``turn_idx`` 0."""
    return docs.select(
        F.col(id_col).cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.col(text_col).alias("text"),
    )


def build_extract_df(
    df: DataFrame,
    partitions: int | None = None,
    turn_filter=None,
    max_payload_chars: int | None = None,
) -> DataFrame:
    """Build the lazy extraction plan over a transcripts DataFrame.

    ``turn_filter`` (a Column predicate, e.g. ``F.col("turn_idx") < 5``) is
    applied *before* the scan-adjacent select so Catalyst pushes it into the
    source — the engine's version of the reference's ``--pages`` subset
    (main.py:54-63) without the rasterize-then-drop waste.
    """
    cols = [f.name for f in KEY_FIELDS] + ["text"]
    plan = df
    if turn_filter is not None:
        plan = plan.filter(turn_filter)
    plan = plan.select(*[c for c in cols if c in df.columns])
    if partitions:
        # per-turn hash repartition: no conversation-skew (SURVEY.md §4
        # "Partitioning / skew"); the constant seed keeps the layout stable
        plan = plan.repartition(
            partitions, F.xxhash64("conv_id", "turn_idx", F.lit(0))
        )
    kernel_out = plan.mapInPandas(
        make_extract_kernel(max_payload_chars), schema=KERNEL_SCHEMA
    )
    # assemble the spans struct view JVM-side (zip of the offset arrays with
    # the row's payload_kind) — whole-stage-codegen'd, no Python cost
    spans = F.zip_with(
        "span_starts",
        "span_ends",
        lambda s, e: F.struct(
            F.col("payload_kind").alias("kind"), s.alias("start"), e.alias("end")
        ),
    )
    return kernel_out.withColumn("spans", spans).select(
        *[f.name for f in OUT_SCHEMA.fields]
    )


def split_oversized_turns(
    df: DataFrame, max_chars: int, text_col: str = "text"
) -> DataFrame:
    """Content-preserving oversized-payload policy (the alternative to
    ``max_payload_chars`` truncation): turns longer than ``max_chars``
    explode into ⌈len/max⌉ chunk rows, keyed (conv_id, turn_idx, chunk_idx);
    concatenating a turn's chunks in chunk_idx order reproduces the original
    text byte-for-byte (pytest-pinned). This is the skew policy for the
    single-huge-turn case: the giant row becomes N normal rows that spread
    across tasks, and extraction stays per-row stateless.

    Two map-only paths, split by row size (no shuffle either way):

    * rows ``<= max_chars`` (approximately all of them) pass through a pure
      JVM projection — chunk_idx 0, untouched;
    * oversized rows chunk through an Arrow kernel where Python string
      slicing is O(chunk). The obvious all-JVM form — ``transform(sequence,
      i -> substr(i*max+1, max))`` — is **quadratic**: Spark strings are
      variable-width UTF8, so each of the k substr calls re-scans from the
      start to find its character offset, O(n·k) total. The round-4
      adversarial-skew bench caught it: one 64 MB turn took 153 s to chunk
      (BENCH/SKEW_BENCH.json history); the kernel does it in well under a
      second. Python slices by code point exactly like ``substr``, so chunk
      boundaries are identical.
    """
    c = F.col(text_col)
    others = [x for x in df.columns if x != text_col]
    small = df.filter(c.isNull() | (F.length(c) <= max_chars)).select(
        *others, F.lit(0).cast("int").alias("chunk_idx"), c.alias(text_col)
    )
    big = df.filter(F.length(c) > max_chars).select(*others, text_col)
    out_fields = [df.schema[x] for x in others] + [
        T.StructField("chunk_idx", T.IntegerType(), False),
        T.StructField(text_col, T.StringType(), True),
    ]
    out_schema = T.StructType(out_fields)
    names = [f.name for f in out_fields]

    def chunker(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            texts = pdf[text_col].tolist()
            counts = np.array([-(-len(t) // max_chars) for t in texts], dtype=np.int64)
            out = {o: pdf[o].values.repeat(counts) for o in others}
            out["chunk_idx"] = np.concatenate(
                [np.arange(k, dtype=np.int32) for k in counts]
            ) if len(counts) else np.array([], dtype=np.int32)
            out[text_col] = [
                t[off:off + max_chars]
                for t in texts
                for off in range(0, len(t), max_chars)
            ]
            yield pd.DataFrame(out)[names]

    return small.unionByName(big.mapInPandas(chunker, schema=out_schema))


class ObservedMetrics:
    """Run metrics observed on a frame; ``get`` blocks until the frame's
    first action has finished, as ``Observation.get`` does."""

    def __init__(self, obs: Observation, keys: list, grouped: bool) -> None:
        self._obs, self._keys, self._grouped = obs, keys, grouped

    @property
    def get(self) -> dict:
        """Metric name -> int over all rows, or, for grouped metrics, key ->
        such a dict."""
        row = self._obs.get
        got = {k: row[f"g{i}"].asDict() for i, k in enumerate(self._keys)}
        return got if self._grouped else got[None]


def observe_metrics(
    df: DataFrame,
    groups: dict[Any, str] | None = None,
    names: Sequence[str] = METRIC_NAMES,
) -> tuple[DataFrame, ObservedMetrics]:
    """Attach the run metrics to ``df`` as an ``Observation``, so they
    accumulate inside whatever action consumes the returned frame (the
    write) instead of in a second pass over its output.

    Returns ``(observed, metrics)``: run the action on ``observed``, then
    read ``metrics.get``. ``groups`` maps keys to SQL row predicates; each
    key then gets its own totals from one conditional aggregate. A metric
    over no rows is 0.
    """
    conds = groups if groups is not None else {None: "true"}
    aggs = [
        F.expr(
            "named_struct("
            + ", ".join(
                f"'{n}', coalesce(sum(CASE WHEN {cond} THEN {METRIC_TERMS[n]} END), 0L)"
                for n in names
            )
            + f") AS g{i}"
        )
        for i, cond in enumerate(conds.values())
    ]
    obs = Observation()
    return df.observe(obs, *aggs), ObservedMetrics(obs, list(conds), groups is not None)


def metrics_by_partition(extracted: DataFrame) -> DataFrame:
    """Per-partition metric rows of an extracted table: the explicit re-read
    view (``run`` reports its totals from the write pass instead)."""
    return extracted.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        *[F.expr(f"sum({t})").alias(n) for n, t in METRIC_TERMS.items()]
    )


def run(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    partitions: int | None = None,
    collect_metrics: bool = True,
) -> DataFrame | None:
    """Execute the full pipeline src -> dst (parquet dirs) in one pass: the
    write is the only job over the data.

    Returns the run's metric totals, observed while the write ran, as a
    one-row DataFrame of ``METRICS_SCHEMA`` (or None when
    ``collect_metrics=False`` — bench mode, write only). For the
    per-partition view of the written table, use ``metrics_by_partition``
    on ``spark.read.parquet(dst_path)``."""
    df = read_transcripts(spark, src_path)
    # clustered output files: cheap local sort, no extra shuffle
    extracted = build_extract_df(df, partitions=partitions).sortWithinPartitions(
        "conv_id", "turn_idx"
    )
    if collect_metrics:
        extracted, metrics = observe_metrics(extracted)
    extracted.write.mode("overwrite").parquet(dst_path)
    if not collect_metrics:
        return None
    # from pandas, the row becomes a local relation that collects without a
    # job; a list of tuples would run one Python task per core to decode it
    row = pd.DataFrame([metrics.get], columns=list(METRIC_NAMES))
    return spark.createDataFrame(row, METRICS_SCHEMA)
