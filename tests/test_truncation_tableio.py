from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from document_extraction_spark.core.extract import extract_one
from document_extraction_spark.plans.extract_pipeline import build_extract_df
from document_extraction_spark.sources.tableio import TableIO, iceberg_available


def test_oversized_payload_truncation(spark):
    rows = [
        ("c", 0, "short plain text"),
        ("c", 1, "x" * 5000),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"]).select(
        "conv_id", "turn_idx", F.lit("user").alias("role"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"), "text",
    )
    out = {r["turn_idx"]: r for r in build_extract_df(df, max_payload_chars=1000).collect()}
    assert out[0]["truncated"] is False
    assert out[0]["text"] == "short plain text"
    assert out[1]["truncated"] is True
    # truncation happens BEFORE extraction: result == oracle of the capped payload
    assert out[1]["text"] == extract_one("x" * 1000)["text"]
    # lineage reports RAW input bytes (pre-truncation): summing bytes_in over
    # a run must equal the source's total payload size, truncated or not
    assert out[1]["bytes_in"] == 5000
    assert out[1]["bytes_out"] == 1000
    assert out[0]["bytes_in"] == len(b"short plain text")

    # default: no cap, equality with uncapped oracle preserved
    out2 = {r["turn_idx"]: r for r in build_extract_df(df).collect()}
    assert out2[1]["truncated"] is False
    assert out2[1]["text"] == extract_one("x" * 5000)["text"]


def test_tableio_parquet_roundtrip(spark, tmp_path):
    io = TableIO(spark, str(tmp_path))
    df = spark.range(5).select(
        F.col("id"), (F.col("id") % 2).cast("int").alias("bucket")
    )
    assert not io.exists("t1")
    io.append(df, "t1", ["bucket"])
    assert io.exists("t1")
    assert io.read("t1").count() == 5
    io.append(df, "t1", ["bucket"])
    assert io.read("t1").count() == 10

    # dynamic partition overwrite replaces only touched partitions
    io2 = TableIO(spark, str(tmp_path))
    part = spark.range(100, 103).select(
        F.col("id"), F.lit(0).cast("int").alias("bucket")
    )
    io2.overwrite_partitions(part, "t1", ["bucket"])
    left = io2.read("t1")
    assert left.filter(F.col("bucket") == 0).count() == 3      # replaced
    assert left.filter(F.col("bucket") == 1).count() == 4      # untouched
    # second overwrite of the same partition is idempotent
    io2.overwrite_partitions(part, "t1", ["bucket"])
    assert io2.read("t1").count() == 7


def test_tableio_overwrite_safe_under_static_session(spark, tmp_path):
    """The writer pins partitionOverwriteMode=dynamic itself: under a session
    left at the default STATIC mode, mode('overwrite').partitionBy() would
    silently delete ALL partitions, not just those present in df."""
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        io = TableIO(spark, str(tmp_path))
        df = spark.range(6).select(
            F.col("id"), (F.col("id") % 3).cast("int").alias("bucket")
        )
        io.append(df, "t2", ["bucket"])
        one = spark.range(50, 51).select(
            F.col("id"), F.lit(0).cast("int").alias("bucket")
        )
        io.overwrite_partitions(one, "t2", ["bucket"])
        left = io.read("t2")
        assert left.filter(F.col("bucket") == 0).count() == 1   # replaced
        assert left.filter(F.col("bucket") != 0).count() == 4   # survived
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_tableio_compact(spark, tmp_path):
    io = TableIO(spark, str(tmp_path))
    for _ in range(6):  # six appends -> many small files
        io.append(spark.range(100).select(F.col("id")), "tc")
    import os
    before = len([f for f in os.listdir(f"{tmp_path}/tc") if f.endswith(".parquet")])
    assert before > 4
    n_files = io.compact("tc", target_files=2)
    assert n_files <= 2
    assert io.read("tc").count() == 600
    assert not os.path.exists(f"{tmp_path}/tc.compact_tmp")
    assert not os.path.exists(f"{tmp_path}/tc.compact_old")


def test_tableio_compact_refuses_partitioned(spark, tmp_path):
    """compact() on a Hive-partitioned table would silently flatten the
    key=value directory layout (losing pruning) — it must refuse instead."""
    io = TableIO(spark, str(tmp_path))
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "part"])
    io.append(df, "tp", partition_cols=["part"])
    with pytest.raises(NotImplementedError, match="unpartitioned"):
        io.compact("tp")
    # layout untouched after the refusal
    assert io.read("tp").count() == 2
    import os
    assert any("=" in d for d in os.listdir(f"{tmp_path}/tp"))


def test_tableio_iceberg_guard(spark, tmp_path):
    if iceberg_available(spark):
        pytest.skip("iceberg on classpath here")
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        TableIO(spark, str(tmp_path), catalog="lake")


def test_tableio_upsert(spark, tmp_path):
    io = TableIO(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
    )
    io.upsert(base, "tu", ["k"])                      # fresh table -> write
    assert io.read("tu").count() == 3
    delta = spark.createDataFrame([(2, "B"), (4, "d")], ["k", "v"])
    io.upsert(delta, "tu", ["k"])                     # replace k=2, add k=4
    got = {r["k"]: r["v"] for r in io.read("tu").collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}
    import os
    assert not os.path.exists(f"{tmp_path}/tu.upsert_tmp")
    assert not os.path.exists(f"{tmp_path}/tu.upsert_old")


def test_split_oversized_turns_roundtrip(spark):
    from document_extraction_spark.plans.extract_pipeline import split_oversized_turns

    rows = [
        ("c", 0, "short"),
        ("c", 1, "x" * 2500 + "y" * 2500),   # 5000 chars -> 5 chunks @ 1000
        ("c", 2, ""),                          # empty stays one (empty) chunk
        ("c", 3, "z" * 1000),                  # exact boundary -> 1 chunk
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    out = split_oversized_turns(df, max_chars=1000)
    got = {}
    for r in out.collect():
        got.setdefault(r["turn_idx"], []).append((r["chunk_idx"], r["text"]))
    assert [c for c, _ in sorted(got[0])] == [0]
    assert [c for c, _ in sorted(got[1])] == [0, 1, 2, 3, 4]
    assert all(len(t) == 1000 for _, t in got[1])
    # byte-exact reassembly in chunk order
    assert "".join(t for _, t in sorted(got[1])) == "x" * 2500 + "y" * 2500
    assert sorted(got[2]) == [(0, "")]
    assert sorted(got[3]) == [(0, "z" * 1000)]
    # map-only: no exchange in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # oversized rows chunk in an Arrow kernel: the all-JVM
    # transform(sequence, substr) chain is quadratic in the payload size
    assert "MapInPandas" in plan
    assert "sequence(" not in plan and "substring(" not in plan


def test_split_oversized_turns_multibyte_and_null(spark):
    """Round-4: the oversized path moved to an Arrow kernel (the all-JVM
    substr chain is quadratic in payload size — see split_oversized_turns
    docstring). Chunk boundaries count CODE POINTS exactly like substr, so
    multibyte text reassembles byte-exact; NULL text survives as one chunk."""
    from document_extraction_spark.plans.extract_pipeline import split_oversized_turns

    uni = ("héllo wörld日本語🎉" * 300)  # multibyte, 4500 code points
    rows = [("c", 0, uni), ("c", 1, None), ("c", 2, "a" * 1001)]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    out = split_oversized_turns(df, max_chars=1000)
    got = {}
    for r in out.collect():
        got.setdefault(r["turn_idx"], []).append((r["chunk_idx"], r["text"]))
    chunks = [t for _, t in sorted(got[0])]
    assert len(chunks) == 5
    assert all(len(c) == 1000 for c in chunks[:4]) and len(chunks[4]) == 500
    assert "".join(chunks) == uni
    assert sorted(got[1]) == [(0, None)]
    assert [c for c, _ in sorted(got[2])] == [0, 1]
