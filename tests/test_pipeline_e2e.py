"""Spark-level correctness gate (SURVEY.md §5.2-5.3, BASELINE.json north rule):
per-turn text equality under stable turn ordering, keyed by (conv_id,
turn_idx), vs the row-wise reference-oracle extractor; plus determinism under
repartitioning / Arrow batch size changes."""

from __future__ import annotations

import pandas as pd
import pytest

from document_extraction_spark.core.extract import extract_one
from document_extraction_spark.plans.extract_pipeline import OUT_SCHEMA, build_extract_df
from document_extraction_spark.sources.transcripts import generate_transcripts_pdf


@pytest.fixture(scope="module")
def transcripts_pdf() -> pd.DataFrame:
    return generate_transcripts_pdf(n_convs=25, seed=11)


@pytest.fixture(scope="module")
def oracle(transcripts_pdf: pd.DataFrame) -> dict:
    """Row-wise reference extractor applied per turn — the golden output."""
    out = {}
    for row in transcripts_pdf.itertuples(index=False):
        res = extract_one(row.text)
        out[(row.conv_id, row.turn_idx)] = res
    return out


def _run(spark, pdf, **kwargs):
    df = spark.createDataFrame(pdf)
    result = build_extract_df(df, **kwargs).collect()
    return {(r["conv_id"], r["turn_idx"]): r for r in result}


def test_per_turn_text_equality(spark, transcripts_pdf, oracle):
    got = _run(spark, transcripts_pdf, partitions=8)
    assert set(got) == set(oracle)
    for key, exp in oracle.items():
        row = got[key]
        assert row["text"] == exp["text"], f"text mismatch at {key}"
        assert row["payload_kind"] == exp["payload_kind"], key
        assert row["n_blocks_kept"] == exp["n_blocks_kept"], key
        assert row["n_blocks_dropped"] == exp["n_blocks_dropped"], key
        assert row["parse_failed"] == exp["parse_failed"], key
        assert row["bytes_in"] == exp["bytes_in"], key
        assert row["bytes_out"] == exp["bytes_out"], key
        got_spans = [
            {"kind": s["kind"], "start": s["start"], "end": s["end"]}
            for s in row["spans"]
        ]
        assert got_spans == exp["spans"], key


def test_determinism_across_partitioning_and_batches(spark, transcripts_pdf):
    a = _run(spark, transcripts_pdf, partitions=2)
    b = _run(spark, transcripts_pdf, partitions=16)
    # tiny Arrow batches force many kernel invocations with moving boundaries
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        c = _run(spark, transcripts_pdf, partitions=5)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
    assert set(a) == set(b) == set(c)
    for k in a:
        assert a[k]["text"] == b[k]["text"] == c[k]["text"], k
        assert a[k]["spans"] == b[k]["spans"] == c[k]["spans"], k


def test_schema_stable(spark, transcripts_pdf):
    df = spark.createDataFrame(transcripts_pdf.head(3))
    out = build_extract_df(df)
    # simpleString ignores nullability flags (the JVM-assembled struct marks
    # fields non-null); names and types must match exactly
    assert out.schema.simpleString() == OUT_SCHEMA.simpleString()


def test_edge_rows_survive(spark, transcripts_pdf, oracle):
    got = _run(spark, transcripts_pdf)
    # empty / whitespace payloads produce empty text, not crashes
    assert got[("conv-edge-empty", 0)]["text"] == ""
    assert got[("conv-edge-empty", 1)]["text"] == ""
    # reference fence semantics: ```json fenced block unwrapped
    assert got[("conv-edge-fence", 0)]["text"] == '{"a": 1}'
    assert got[("conv-edge-fence", 1)]["text"] == ""
    # NFD input comes out NFC
    assert got[("conv-edge-unicode", 0)]["text"] == "café crème"
    # CRLF canonicalized
    assert got[("conv-edge-unicode", 1)]["text"] == "a\nb\nc d e"
