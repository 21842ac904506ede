"""Custom stateful streaming operator: per-conversation running statistics
via ``applyInPandasWithState`` (SURVEY.md §2.3 "custom stateful operators").

Tracks, per ``conv_id``: turns seen, bytes seen, max ``turn_idx`` — the
streaming analogue of the batch lineage metrics. State times out after
``STATE_TTL_MS`` of event inactivity (processing-time timeout keeps the
state store bounded at 10^12-turn scale: finished conversations age out)."""

from __future__ import annotations

import threading
from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_turns", T.LongType()),
        T.StructField("bytes_seen", T.LongType()),
        T.StructField("max_turn_idx", T.IntegerType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("n_turns", T.LongType()),
        T.StructField("bytes_seen", T.LongType()),
        T.StructField("max_turn_idx", T.IntegerType()),
    ]
)

STATE_TTL_MS = 60 * 60 * 1000  # 1h inactivity -> state eviction

NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"
_START_LOCK = threading.Lock()


def _update(
    key: tuple[str], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (conv_id,) = key
    if state.hasTimedOut:
        # idle conversation: evict (bounds the state store at 10^12-turn
        # scale) and emit nothing — no re-arm, no duplicate output row
        state.remove()
        return
    n_turns, bytes_seen, max_idx = (
        state.get if state.exists else (0, 0, -1)
    )
    for pdf in pdfs:
        n_turns += len(pdf)
        # utf-8 byte count, matching the batch pipeline's bytes_in metric
        bytes_seen += int(pdf["text"].fillna("").str.encode("utf-8").str.len().sum())
        if len(pdf):
            max_idx = max(max_idx, int(pdf["turn_idx"].max()))
    state.update((n_turns, bytes_seen, max_idx))
    state.setTimeoutDuration(STATE_TTL_MS)
    yield pd.DataFrame(
        {
            "conv_id": [conv_id],
            "n_turns": [n_turns],
            "bytes_seen": [bytes_seen],
            "max_turn_idx": [max_idx],
        }
    )


def conversation_stats_stream(sdf: DataFrame) -> DataFrame:
    """Streaming per-conversation running stats (update mode). To drain an
    input once, start it with ``start_conversation_stats``."""
    return (
        sdf.select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def start_conversation_stats(sdf: DataFrame, query_name: str) -> StreamingQuery:
    """Start ``conversation_stats_stream(sdf)`` as an ``availableNow`` query
    into the in-memory table ``query_name``; it stops once its input is
    consumed.

    The processing-time timeout makes the operator ask for another batch
    after every batch, data or not, so with no-data batches on, an
    availableNow query of it never finds itself drained. A query keeps the
    session conf it started with: this one starts with no-data batches off,
    so it stops after its last data batch, and timeouts fire only in
    batches that carry data. The setting is off for the whole session while
    ``start()`` runs: a query that another thread starts at that moment
    also starts without no-data batches. Calls of this function do not race
    each other on the setting."""
    writer = (
        conversation_stats_stream(sdf)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("update")
        .trigger(availableNow=True)
    )
    spark = sdf.sparkSession
    with _START_LOCK:
        prev = spark.conf.get(NO_DATA_BATCHES)
        spark.conf.set(NO_DATA_BATCHES, "false")
        try:
            return writer.start()
        finally:
            spark.conf.set(NO_DATA_BATCHES, prev)


# --- transformWithStateInPandas (Spark 4 stateful processor API) ------------

TWS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("n_turns", T.LongType()),
        T.StructField("distinct_roles", T.LongType()),
        T.StructField("last_turn_idx", T.IntegerType()),
    ]
)


from pyspark.sql.streaming.stateful_processor import StatefulProcessor


class ConversationProgress(StatefulProcessor):
    """Per-conversation progress via the Spark 4 ``StatefulProcessor`` API —
    the successor to applyInPandasWithState with FIRST-CLASS composite state
    (value/list/map state cells + optional per-cell TTL) instead of one
    monolithic state tuple. Tracks turn count (ValueState with TTL so idle
    conversations age out of the store) and the set of roles seen
    (MapState used as a set — membership updates never rewrite the whole
    state value, which a 10^6-turn conversation would otherwise pay per
    micro-batch)."""

    def init(self, handle) -> None:
        self._counts = handle.getValueState(
            "counts", "n_turns long, last_turn_idx integer", ttlDurationMs=3_600_000
        )
        self._roles = handle.getMapState("roles", "role string", "seen boolean")

    def handleInputRows(self, key, rows, timer_values):
        import pandas as pd

        (conv_id,) = key
        n_turns, last_idx = (
            self._counts.get() if self._counts.exists() else (0, -1)
        )
        for pdf in rows:
            n_turns += len(pdf)
            if len(pdf):
                last_idx = max(last_idx, int(pdf["turn_idx"].max()))
            for role in pdf["role"].dropna().unique():
                self._roles.updateValue((str(role),), (True,))
        self._counts.update((n_turns, last_idx))
        n_roles = sum(1 for _ in self._roles.keys())
        yield pd.DataFrame(
            {
                "conv_id": [conv_id],
                "n_turns": [n_turns],
                "distinct_roles": [n_roles],
                "last_turn_idx": [last_idx],
            }
        )

    def close(self) -> None:
        pass


def conversation_progress_stream(sdf: DataFrame) -> DataFrame:
    """Streaming per-conversation progress with the transformWithStateInPandas
    processor (update mode, processing-time)."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as ex:
        # transformWithStateInPandas speaks protobuf between the JVM and the
        # Python state server; this sandbox ships pyspark without protobuf
        # (and installs are off-limits). Same env-constraint class as the
        # Iceberg runtime jar (sources/tableio.py) — the operator is real,
        # the dependency is absent here.
        raise RuntimeError(
            "transformWithStateInPandas requires the 'protobuf' package, "
            "which is not installed in this environment"
        ) from ex

    processor = ConversationProgress()
    return (
        sdf.select("conv_id", "turn_idx", "role")
        .groupBy("conv_id")
        .transformWithStateInPandas(
            statefulProcessor=processor,
            outputStructType=TWS_OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="ProcessingTime",
        )
    )
