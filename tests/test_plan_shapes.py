from __future__ import annotations

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """A filter on a partition column must prune directories at planning
    time (PartitionFilters), not scan-then-filter — at 100 TB this is the
    difference between reading one day and reading the lake."""
    path = str(tmp_path / "part_tbl")
    spark.range(1000).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("bucket")
    ).write.partitionBy("bucket").parquet(path)
    scan = spark.read.parquet(path).filter(F.col("bucket") == 2)
    plan = _plan(scan)
    seg = plan.split("PartitionFilters")[1][:120]
    assert "bucket" in seg
    assert scan.count() == 250


def test_predicate_pushdown_reaches_scan(spark, tmp_path):
    path = str(tmp_path / "push_tbl")
    spark.range(1000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).write.parquet(path)
    scan = spark.read.parquet(path).filter(F.col("v") > 1000).select("id")
    plan = _plan(scan)
    assert "PushedFilters" in plan and "GreaterThan(v" in plan
    # column pruning: only the needed columns reach the reader
    rs = plan.split("ReadSchema:")[1][:120]
    assert "id" in rs and "v" in rs


def test_column_pruning_drops_unused(spark, tmp_path):
    path = str(tmp_path / "prune_tbl")
    spark.range(100).select(
        F.col("id"), F.lit("x").alias("a"), F.lit("y").alias("b")
    ).write.parquet(path)
    scan = spark.read.parquet(path).select("id")
    rs = _plan(scan).split("ReadSchema:")[1][:120]
    assert "id" in rs and '"a"' not in rs and "a:" not in rs


def test_curation_gates_tokenize_each_row_once(spark):
    """The keep filter stays above the gate projections: pushed below them
    with the aliases substituted, it re-ran the tokenize (``split(``) and
    stopword HOFs, 13 tokenizations per row instead of one. The filter
    still runs map-side, before the fingerprint exchange."""
    from document_extraction_spark.plans.curation import curate_documents

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat and the dog"), (2, "le chat est la")],
        "doc_id long, text string",
    )
    out = curate_documents(docs)
    assert out._jdf.queryExecution().optimizedPlan().toString().count("split(") == 1
    below_exchange = _plan(out).split("Exchange hashpartitioning(_fp")[1]
    assert "Filter" in below_exchange
