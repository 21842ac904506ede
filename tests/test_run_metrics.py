"""Run metrics observed in the write pass (extract_pipeline.observe_metrics),
scan splits sized to the cores, and loud failures on unreadable tables."""

from __future__ import annotations

import os
import time
import uuid

import pytest
from pyspark.sql import functions as F

from document_extraction_spark.plans import checkpoint as CK
from document_extraction_spark.plans import extract_pipeline as P
from document_extraction_spark.sources.tableio import TableIO
from document_extraction_spark.sources.transcripts import write_transcripts_parquet


@pytest.fixture(scope="module")
def src(tmp_path_factory):
    """Synthetic transcripts with the FIXTURES §1 edge rows, in 4 files."""
    path = str(tmp_path_factory.mktemp("run_metrics") / "src")
    n = write_transcripts_parquet(path, n_convs=12, seed=13, rows_per_file=60)
    return path, n


def _reread_totals(spark, dst):
    return (
        P.metrics_by_partition(spark.read.parquet(dst))
        .agg(*[F.sum(c).alias(c) for c in P.METRIC_NAMES])
        .collect()[0]
        .asDict()
    )


def test_run_totals_equal_reread(spark, src, tmp_path):
    path, n = src
    dst = str(tmp_path / "out")
    got = P.run(spark, path, dst)
    assert got.schema == P.METRICS_SCHEMA
    (row,) = got.collect()
    assert row.asDict() == _reread_totals(spark, dst)
    assert row["n_turns"] == n
    assert row["n_html"] + row["n_pdf"] + row["n_plain"] == n
    assert min(row["n_html"], row["n_pdf"], row["n_plain"]) > 0
    assert row["n_truncated"] == 0


def test_observed_truncation_equals_reread(spark, src, tmp_path):
    """The truncation term, observed on a capped extraction's write."""
    path, n = src
    dst = str(tmp_path / "out_capped")
    extracted = P.build_extract_df(spark.read.parquet(path), max_payload_chars=300)
    observed, metrics = P.observe_metrics(extracted)
    observed.write.mode("overwrite").parquet(dst)
    got = metrics.get
    assert got == _reread_totals(spark, dst)
    assert got["n_turns"] == n
    assert 0 < got["n_truncated"] < n


def test_run_is_one_pass_that_never_reads_dst(spark, src, tmp_path):
    """Of the plans that ran the jobs of one run() call, one scans the
    source and none scans the output directory."""
    path, _ = src
    dst = str(tmp_path / "out_one_pass")
    sc = spark.sparkContext
    gid = f"run-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "run")
    try:
        P.run(spark, path, dst).collect()
    finally:
        sc.setJobGroup(None, None)
    jobs = set(sc.statusTracker().getJobIdsForGroup(gid))
    assert jobs

    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = []
    for i in range(execs.size()):
        e = execs.apply(i)
        if any(e.jobs().contains(j) for j in jobs):
            plans.append(e.physicalPlanDescription())
    locations = [
        ln for p in plans for ln in p.splitlines() if ln.strip().startswith("Location:")
    ]
    assert any(path in ln for ln in locations)  # the source scan is visible
    assert not [ln for ln in locations if dst in ln]


def test_manifest_from_write_pass_equals_reread(spark, tmp_path, monkeypatch):
    """Manifest rows equal a per-bucket groupBy over the written output, a
    bucket with no turns commits zeros, and ``committed_at`` is the UTC time
    of the commit even when the host's zone is not UTC."""
    path = str(tmp_path / "src")
    write_transcripts_parquet(path, n_convs=3, seed=5, rows_per_file=100)
    dst, ckpt, n_buckets = str(tmp_path / "dst"), str(tmp_path / "ckpt"), 16
    t0 = time.time()
    monkeypatch.setenv("TZ", "America/New_York")  # this process's local zone
    time.tzset()
    try:
        committed = CK.run_resumable(spark, path, dst, ckpt, "r1", n_buckets=n_buckets)
    finally:
        monkeypatch.undo()
        time.tzset()
    t1 = time.time()
    assert sorted(committed) == list(range(n_buckets))
    man = {
        r["bucket"]: r
        for r in CK.read_manifest(spark, ckpt)
        .withColumn("epoch_s", F.col("committed_at").cast("double"))
        .collect()
    }
    assert sorted(man) == list(range(n_buckets))
    assert all(t0 - 1 <= m["epoch_s"] <= t1 + 1 for m in man.values()), (t0, t1)

    reread = {
        r["bucket"]: r
        for r in spark.read.parquet(dst)
        .groupBy("bucket")
        .agg(*[F.expr(f"sum({t})").alias(c) for c, t in P.METRIC_TERMS.items()])
        .collect()
    }
    empty = set(range(n_buckets)) - set(reread)
    assert empty, "fixture should leave at least one bucket without turns"
    for b, m in man.items():
        for c in P.METRIC_NAMES:
            assert m[c] == (reread[b][c] if b in reread else 0), (b, c)


def test_corrupt_manifest_raises(spark, tmp_path):
    path = str(tmp_path / "src")
    write_transcripts_parquet(path, n_convs=2, seed=5, rows_per_file=100)
    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    (ckpt / "part-00000.parquet").write_bytes(b"not a parquet file" * 8)
    with pytest.raises(Exception, match="(?i)parquet|footer|FAILED_READ"):
        CK.run_resumable(spark, path, str(tmp_path / "dst"), str(ckpt), "r1", n_buckets=4)
    assert not (tmp_path / "dst").exists()  # nothing was re-extracted
    # an unreadable location raises at once instead of reading as empty
    with pytest.raises(Exception, match="(?i)filesystem|scheme"):
        CK.read_manifest(spark, "nosuchscheme://bucket/ckpt")
    # only a missing path reads as an empty manifest
    assert CK.read_manifest(spark, str(tmp_path / "missing")).count() == 0


def test_tableio_exists_raises_on_corrupt_table(spark, tmp_path):
    io = TableIO(spark, str(tmp_path))
    assert not io.exists("missing")
    (tmp_path / "empty").mkdir()
    assert not io.exists("empty")  # a directory without data files
    (tmp_path / "bad").mkdir()
    (tmp_path / "bad" / "part-00000.parquet").write_bytes(b"garbage" * 16)
    with pytest.raises(Exception, match="(?i)parquet|footer|FAILED_READ"):
        io.exists("bad")


def test_small_file_scan_splits_to_core_count(spark, tmp_path):
    """Eight ~250 KB files and a small remainder scan into one split per
    core, balanced by rows. Under Spark's 4 MB open cost they pack three
    files to a split: 3 tasks on 4 cores."""
    path = str(tmp_path / "small_files")
    write_transcripts_parquet(path, n_convs=550, seed=17, rows_per_file=1200)
    sizes = sorted(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    assert len(sizes) == 9 and sizes[-1] < 1024 * 1024

    counts = [
        r["count"]
        for r in spark.read.parquet(path).groupBy(F.spark_partition_id()).count().collect()
    ]
    assert len(counts) == spark.sparkContext.defaultParallelism
    assert max(counts) <= 1.5 * min(counts)
