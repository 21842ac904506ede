"""Streaming extraction: the same vectorized kernel over a file-source
stream (reference comparison: the reference is strictly batch, one document
per process — /root/reference/main.py:74; here new transcript partitions
land continuously and are extracted incrementally with exactly-once file
sink semantics via the streaming checkpoint).

The batch and streaming plans share ``build_extract_df`` — one kernel, one
schema, two execution modes (Structured Streaming's incremental model makes
the per-turn statelessness requirement load-bearing: a stateless kernel is
trivially correct under micro-batch re-execution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from document_extraction_spark.plans.extract_pipeline import build_extract_df

# seconds a drained (availableNow) query may run before it counts as hung
DRAIN_TIMEOUT_S = 300

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def read_transcript_stream(spark: SparkSession, src_dir: str,
                           max_files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(TRANSCRIPTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)


def await_drained(query: StreamingQuery) -> None:
    """Block until ``query`` has terminated. A query still running after
    ``DRAIN_TIMEOUT_S`` is stopped and raises ``TimeoutError`` naming it,
    since its sink would hold only part of the rows."""
    if not query.awaitTermination(DRAIN_TIMEOUT_S):
        query.stop()
        raise TimeoutError(
            f"streaming query {query.name or query.id} did not drain within "
            f"{DRAIN_TIMEOUT_S} s; stopped it"
        )


def extract_stream(sdf: DataFrame) -> DataFrame:
    """Streaming extraction plan (no repartition: micro-batch sizing already
    bounds task width; the kernel is per-row stateless so no state store)."""
    return build_extract_df(sdf)


def run_extract_stream(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    ckpt_dir: str,
    available_now: bool = True,
):
    """src parquet dir -> extracted parquet dir, exactly-once via streaming
    checkpoint. ``available_now`` drains what exists then stops (backfill /
    test mode); otherwise runs continuously."""
    out = extract_stream(read_transcript_stream(spark, src_dir))
    writer = (
        out.writeStream.format("parquet")
        .option("path", dst_dir)
        .option("checkpointLocation", ckpt_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_extract_stream_upsert(
    spark: SparkSession,
    src_dir: str,
    table_root: str,
    table_name: str,
    ckpt_dir: str,
):
    """Streaming extraction into a keyed table via ``foreachBatch`` +
    TableIO MERGE upsert: re-delivered (conv_id, turn_idx) rows REPLACE
    their previous version instead of appending a duplicate — the
    arbitrary-sink pattern for targets the streaming file sink can't express
    (MERGE, JDBC, multi-table writes). Each micro-batch runs one idempotent
    upsert keyed on (conv_id, turn_idx); Structured Streaming's checkpoint
    makes batch replay after a crash re-run the same upsert, which the MERGE
    keys absorb — end-to-end effectively-once."""
    from document_extraction_spark.sources.tableio import TableIO

    tio = TableIO(spark, table_root)
    out = extract_stream(read_transcript_stream(spark, src_dir))

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        tio.upsert(batch_df, table_name, ["conv_id", "turn_idx"])

    return (
        out.writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", ckpt_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream(sdf: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exactly-once-per-key dedup: drop re-deliveries of the same
    (conv_id, turn_idx) within the watermark horizon —
    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    event-time watermark passes, so the state store stays bounded at
    10^12-turn scale (a plain dropDuplicates would grow state forever).
    The upstream-retry / at-least-once-source companion to the file sink's
    exactly-once output semantics."""
    return sdf.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )


def conversation_sessions(sdf: DataFrame, gap: str = "5 seconds",
                          watermark: str = "1 hour") -> DataFrame:
    """Event-time session windows per conversation: turns closer than
    ``gap`` merge into one session (``F.session_window`` — Spark's native
    dynamic-gap window, state bounded by the watermark horizon). The
    streaming analogue of the batch sessionization in q_events_sessions;
    emits (conv_id, session start/end, n_turns, chars_in)."""
    return (
        sdf.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), F.col("conv_id"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length("text").cast("long")).alias("chars_in"),
        )
    )


def tool_response_join(turns: DataFrame, responses: DataFrame,
                       max_lag: str = "10 seconds",
                       watermark: str = "1 hour") -> DataFrame:
    """Stream-stream inner join with an event-time range condition: each
    user turn pairs with tool turns of the same conversation arriving
    within ``max_lag`` after it. Both sides carry watermarks and the join
    condition bounds event time on both sides, so Spark can expire join
    state — the requirement that makes stream-stream joins feasible at
    unbounded input (unbounded state otherwise)."""
    left = (
        turns.filter(F.col("role") == "user")
        .select("conv_id", F.col("turn_idx").alias("user_turn"),
                F.col("ts").alias("user_ts"))
        .withWatermark("user_ts", watermark)
    )
    right = (
        responses.filter(F.col("role") == "tool")
        .select(F.col("conv_id").alias("conv_id_r"), "tool",
                F.col("turn_idx").alias("tool_turn"),
                F.col("ts").alias("tool_ts"))
        .withWatermark("tool_ts", watermark)
    )
    cond = (
        (left["conv_id"] == right["conv_id_r"])
        & (right["tool_ts"] >= left["user_ts"])
        & (right["tool_ts"] <= left["user_ts"] + F.expr(f"INTERVAL {max_lag}"))
    )
    return left.join(right, cond, "inner").select(
        "conv_id", "user_turn", "tool_turn", "tool", "user_ts", "tool_ts"
    )


def turn_rate_by_window(sdf: DataFrame, window: str = "1 hour",
                        watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window turn metrics by role — late turns beyond
    the watermark are dropped deterministically (SURVEY.md §2.3 streaming
    row: watermark/window/late-data)."""
    return (
        sdf.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("role"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length("text").cast("long")).alias("chars_in"),
        )
    )
