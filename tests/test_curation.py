from __future__ import annotations

from document_extraction_spark.plans.curation import curate_documents


def _docs(spark):
    rows = [
        (0, "The quick brown fox jumps over the lazy dog and that is the story of it all for today my friends."),
        (1, "The quick brown fox jumps over the lazy dog and that is the story of it all for today my friends."),  # exact dup of 0
        (2, "le chat et la porte sont dans la maison et il est pour que le jour est une chose pour les gens."),  # french
        (3, "x"),                                                    # low quality (too short)
        (4, "The data pipeline shuffles batches of the table into the window for a merge of the stream and the filter of it."),
        (5, "The data pipeline shuffles batches of the table into the window for a merge of the stream and the filter of one."),  # near dup of 4
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_curation_gates_and_exact_dedup(spark):
    out = {r["doc_id"]: r for r in curate_documents(_docs(spark), min_quality=0.4).collect()}
    assert 0 in out and 1 not in out     # exact dup collapsed to min id
    assert 2 not in out                  # non-English gated
    assert 3 not in out                  # low quality gated
    assert 4 in out and 5 in out         # near dups survive without the flag
    assert all(r["lang"] == "en" for r in out.values())
    assert all(r["quality"] >= 0.4 for r in out.values())


def test_curation_near_dup_drop(spark):
    out = {
        r["doc_id"]
        for r in curate_documents(
            _docs(spark), min_quality=0.4, near_dup_threshold=0.5
        ).collect()
    }
    assert 4 in out and 5 not in out     # pairwise near-dup: larger id dropped
    assert 0 in out


def test_gate_columns_built_once_per_context(spark):
    from document_extraction_spark.plans import curation

    sc = spark.sparkContext
    first = curation._gate_columns(sc, 0.4, ("en",))
    assert curation._gate_columns(sc, 0.4, ("en",)) is first
    assert curation._gate_columns(sc, 0.5, ("en",)) is not first
    docs = _docs(spark)
    assert sorted(curate_documents(docs, min_quality=0.4).collect()) == sorted(
        curate_documents(docs, min_quality=0.4).collect()
    )


def test_near_dup_curation_reads_each_document_once(spark, counted_reads, tmp_path):
    """The exact-dedup frame feeds the MinHash signatures, the Jaccard
    verification and the final anti-join; it is extracted and gated once,
    so one write reads each input row once (three times if re-derived)."""
    docs = _docs(spark)
    counted, reads = counted_reads(docs)
    out = str(tmp_path / "curated")
    curate_documents(counted, min_quality=0.4, near_dup_threshold=0.5).write.parquet(out)
    assert reads.value == docs.count()
    expected = curate_documents(docs, min_quality=0.4, near_dup_threshold=0.5)
    assert sorted(spark.read.parquet(out).collect()) == sorted(expected.collect())
