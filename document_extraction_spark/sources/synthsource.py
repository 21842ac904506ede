"""Custom Python Data Source (Spark 4 DataSource API): the deterministic
transcripts synthesizer as a first-class ``spark.read.format(...)`` source.

Why this exists: at bench/test time the engine needs a 10^12-turn-shaped
input WITHOUT materializing it to disk first. A custom data source generates
each partition ON the executors (per-partition RNG, byte-deterministic in
(seed, partition, convs_per_partition)), so "read 1M synthetic turns" is a
parallel scan with zero I/O, and the same mechanism documents how a real
proprietary source (e.g. an internal transcript service) would plug into the
engine: implement ``partitions()`` for the split inventory and ``read()``
yielding Arrow batches.

Usage::

    register_synth_source(spark)
    df = (spark.read.format("transcripts_synth")
          .option("n_partitions", 32)
          .option("convs_per_partition", 100)
          .option("seed", 7)
          .load())

Rows stream back as pyarrow RecordBatches (the vectorized path of the
DataSource API — no per-row Python marshalling).
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


class TranscriptsSynthDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "transcripts_synth"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> "TranscriptsSynthReader":
        return TranscriptsSynthReader(self.options)

    def streamReader(self, schema) -> "TranscriptsSynthStreamReader":
        return TranscriptsSynthStreamReader(self.options)


class TranscriptsSynthReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n_partitions = int(options.get("n_partitions", 8))
        self.convs_per_partition = int(options.get("convs_per_partition", 50))
        self.seed = int(options.get("seed", 7))
        if self.n_partitions < 1 or self.convs_per_partition < 1:
            raise ValueError("n_partitions and convs_per_partition must be >= 1")

    def partitions(self):
        return [InputPartition(i) for i in range(self.n_partitions)]

    def read(self, partition: InputPartition):
        # executor-side: generate this partition's conversations and stream
        # them back as Arrow batches
        yield from _partition_batches(
            partition.value, self.convs_per_partition, self.seed
        )


def _partition_batches(partition_id: int, convs_per_partition: int, seed: int):
    """Executor-side generation shared by the batch and stream readers."""
    import pyarrow as pa

    from document_extraction_spark.sources.transcripts import generate_partition_pdf

    pdf = generate_partition_pdf(partition_id, convs_per_partition, seed)
    schema = pa.schema(
        [
            pa.field("conv_id", pa.string()),
            pa.field("turn_idx", pa.int32()),
            pa.field("role", pa.string()),
            pa.field("text", pa.string()),
            pa.field("tool", pa.string()),
            pa.field("ts", pa.timestamp("us")),
        ]
    )
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    yield from table.to_batches(max_chunksize=8192)


class TranscriptsSynthStreamReader(DataSourceStreamReader):
    """Streaming flavor of the synthetic transcripts source (Spark 4
    DataSourceStreamReader): the offset is a generated-partition index, each
    trigger advances it by ``partitions_per_trigger``, and the per-offset
    data is byte-deterministic — so a query restart from checkpoint replays
    identical rows (the property the exactly-once sink test relies on).

    The executor-parallel reader (not SimpleDataSourceStreamReader) is the
    scale path: ``partitions(start, end)`` hands one InputPartition per
    generated partition id, read on the executors as Arrow batches.

    Restart semantics (ADVICE r4): the Python DataSource API gives a fresh
    reader instance no checkpoint context, so a restarted query's FIRST
    ``latestOffset()`` call happens before the engine has handed us any
    checkpointed offset. Two defenses, in order of strength:

    * ``cursor_path`` option (recommended: a file inside the query's
      checkpoint directory, e.g. ``<ckpt>/synth_cursor``): ``commit()``
      persists the committed index there atomically and a fresh instance
      seeds its counter from it, so ``latestOffset()`` is monotonic across
      restarts in ALL orderings and no duplicates are possible.
    * without ``cursor_path``: ``partitions()`` clamps to
      ``range(start, max(start, end))`` so a regressed latest plans an
      EMPTY batch rather than a backwards one, and the cursor re-seeds from
      the checkpointed ``start``. The regressed end is still written to the
      offset log, so the NEXT batch re-emits the partitions between the
      regressed end and the committed position — a bounded one-restart
      duplicate window. Idempotent sinks (foreachBatch upsert, dedup) absorb
      it; non-idempotent sinks should set ``cursor_path``."""

    def __init__(self, options: dict):
        self.total = int(options.get("n_partitions", 8))
        self.per_trigger = int(options.get("partitions_per_trigger", 2))
        self.convs_per_partition = int(options.get("convs_per_partition", 50))
        self.seed = int(options.get("seed", 7))
        self.cursor_path = options.get("cursor_path") or None
        if self.total < 1 or self.per_trigger < 1:
            raise ValueError("n_partitions and partitions_per_trigger must be >= 1")
        self._latest = self._load_cursor()

    def _load_cursor(self) -> int:
        if not self.cursor_path:
            return 0
        import os

        try:
            with open(self.cursor_path) as f:
                return max(0, int(f.read().strip() or 0))
        except (OSError, ValueError):
            return 0

    def _save_cursor(self, index: int) -> None:
        if not self.cursor_path:
            return
        import os

        tmp = f"{self.cursor_path}.tmp.{os.getpid()}"
        try:
            with open(tmp, "w") as f:
                f.write(str(index))
            os.replace(tmp, self.cursor_path)
        except OSError:
            pass  # cursor is an optimization; the clamp below still holds

    def initialOffset(self) -> dict:
        return {"index": 0}

    def latestOffset(self) -> dict:
        self._latest = min(self._latest + self.per_trigger, self.total)
        return {"index": self._latest}

    def partitions(self, start: dict, end: dict):
        # re-seed the cursor from the checkpointed start (covers the
        # partitions-first restart ordering when no cursor_path is set) and
        # clamp so a regressed `end` yields an EMPTY batch, never a
        # backwards one
        self._latest = max(self._latest, start["index"])
        return [
            InputPartition(i)
            for i in range(start["index"], max(start["index"], end["index"]))
        ]

    def read(self, partition: InputPartition):
        yield from _partition_batches(
            partition.value, self.convs_per_partition, self.seed
        )

    def commit(self, end: dict) -> None:
        self._latest = max(self._latest, end["index"])
        self._save_cursor(self._latest)


def register_synth_source(spark) -> None:
    """Register the source (idempotent)."""
    spark.dataSource.register(TranscriptsSynthDataSource)
