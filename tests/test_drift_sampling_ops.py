"""Round-4 curation additions: A-ES weighted sampling, embedding-space
decontamination, unigram drift. Value parity vs DuckDB is the driver
contract (q_weighted_sample / q_semantic_decontaminate / q_corpus_drift);
these pin the semantic invariants."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def test_weighted_sample_deterministic_and_sized(spark):
    from document_extraction_spark.operators.sampling import weighted_sample_n

    df = spark.createDataFrame(
        [(i, float(1 + i % 5)) for i in range(200)], "doc_id long, w double"
    )
    a = sorted(r["doc_id"] for r in weighted_sample_n(df, 30, "w", "doc_id").collect())
    b = sorted(
        r["doc_id"]
        for r in weighted_sample_n(df.repartition(7), 30, "w", "doc_id").collect()
    )
    assert a == b and len(a) == 30          # partitioning-independent draw
    c = sorted(
        r["doc_id"]
        for r in weighted_sample_n(df, 30, "w", "doc_id", salt="other").collect()
    )
    assert c != a                            # salt draws an independent sample


def test_weighted_sample_bias_follows_weights(spark):
    """Inclusion probability must rise with weight: across many disjoint
    salts, heavy rows (w=20) should be picked far more often than light rows
    (w=1) — A-ES gives P(include) ~ w for n << N."""
    from document_extraction_spark.operators.sampling import weighted_sample_n

    rows = [(i, 20.0 if i < 50 else 1.0) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, w double").cache()
    heavy_hits = light_hits = 0
    for s in range(8):
        got = weighted_sample_n(df, 50, "w", "doc_id", salt=f"s{s}").collect()
        heavy_hits += sum(1 for r in got if r["doc_id"] < 50)
        light_hits += sum(1 for r in got if r["doc_id"] >= 50)
    # heavy pool: 50 rows at weight 20 (1000 mass) vs 450 rows at 1 (450):
    # expect roughly 2/3 of picks heavy; require a clear majority
    assert heavy_hits > light_hits, (heavy_hits, light_hits)
    df.unpersist()


def test_weighted_sample_rejects_and_excludes(spark):
    from document_extraction_spark.operators.sampling import weighted_sample_n

    df = spark.createDataFrame(
        [(1, 1.0), (2, 0.0), (3, -4.0), (4, 2.0)], "doc_id long, w double"
    )
    got = sorted(r["doc_id"] for r in weighted_sample_n(df, 10, "w", "doc_id").collect())
    assert got == [1, 4]                     # w <= 0 excluded, not errored
    with pytest.raises(ValueError, match="n must be"):
        weighted_sample_n(df, 0, "w", "doc_id")


def test_weighted_sample_distributed_equals_takeordered(spark, testdata_dir):
    """VERDICT r4 ask #6: the two-pass threshold variant must return the
    IDENTICAL sample to the single-pass TakeOrdered path — on the real
    documents fixture, on a repartitioned copy, and in the small-N edge
    cases where the threshold pass degenerates (n >= N, frac <= 0)."""
    from pyspark.sql import functions as F

    from document_extraction_spark.operators.sampling import (
        weighted_sample_n,
        weighted_sample_n_distributed,
    )

    docs = (
        spark.read.parquet(f"{testdata_dir}/sf0.01/documents.parquet")
        .select("doc_id", (F.length("text") % 97 + 1).cast("double").alias("w"))
    )
    single = sorted(map(tuple, weighted_sample_n(docs, 50, "w", "doc_id").collect()))
    two_pass = sorted(
        map(tuple, weighted_sample_n_distributed(docs, 50, "w", "doc_id").collect())
    )
    assert single == two_pass and len(single) == 50
    # partitioning-independent, and a coarse sketch (big rank error margin)
    # still yields the exact sample — t only sizes the pass-2 sliver
    repart = sorted(
        map(
            tuple,
            weighted_sample_n_distributed(
                docs.repartition(13), 50, "w", "doc_id", accuracy=100
            ).collect(),
        )
    )
    assert repart == single
    # n >= N: everything with positive weight is the sample, both paths
    tiny = docs.limit(7)
    assert sorted(
        map(tuple, weighted_sample_n_distributed(tiny, 50, "w", "doc_id").collect())
    ) == sorted(map(tuple, weighted_sample_n(tiny, 50, "w", "doc_id").collect()))
    with pytest.raises(ValueError, match="n must be"):
        weighted_sample_n_distributed(docs, 0, "w", "doc_id")


def test_semantic_decontaminate_flags_paraphrase_neighbors(spark):
    from document_extraction_spark.operators.decontaminate import (
        semantic_decontaminate,
    )

    def unit(*v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    corpus = spark.createDataFrame(
        [
            (0, unit(1.0, 0.02, 0.0)),   # near-duplicate of eval vector e1
            (1, unit(0.0, 1.0, 0.0)),    # orthogonal to both eval vectors
            (2, unit(0.6, 0.0, 0.8)),    # partial overlap with e2
        ],
        "vec_id long, embedding array<float>",
    )
    evalset = spark.createDataFrame(
        [(100, unit(1.0, 0.0, 0.0)), (101, unit(0.0, 0.0, 1.0))],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["doc_id"]: r
        for r in semantic_decontaminate(corpus, evalset, threshold=0.9).collect()
    }
    assert got[0]["contaminated"] and got[0]["max_cos"] > 0.99
    assert not got[1]["contaminated"] and abs(got[1]["max_cos"]) < 1e-6
    assert not got[2]["contaminated"] and 0.7 < got[2]["max_cos"] < 0.9
    # every corpus row gets a verdict row (full audit, not just the flagged)
    assert set(got) == {0, 1, 2}


def test_semantic_decontaminate_srp_prefilter_flags_identical(spark):
    """VERDICT r4 ask #5: the banded-SRP prefilter must reproduce the exact
    path's contamination flags on a corpus with PLANTED contamination (the
    sf fixtures top out at cos 0.44, making a threshold-0.9 comparison
    vacuous) while actually pruning (clean rows never scored -> NULL
    max_cos), and every scored cosine must equal the exact path's value."""
    import numpy as np

    from document_extraction_spark.operators.decontaminate import (
        semantic_decontaminate,
    )

    rng = np.random.default_rng(42)

    def unit(m):
        return m / np.linalg.norm(m, axis=-1, keepdims=True)

    evals = unit(rng.standard_normal((8, 64)))
    clean = unit(rng.standard_normal((200, 64)))
    # noise norm 0.01*sqrt(64)=0.08 -> cos ~ 1/sqrt(1+0.0064) ~ 0.997
    planted = unit(evals[:6] + 0.01 * rng.standard_normal((6, 64)))
    corpus_rows = [
        (i, [float(x) for x in v]) for i, v in enumerate(np.vstack([planted, clean]))
    ]
    eval_rows = [(1000 + i, [float(x) for x in v]) for i, v in enumerate(evals)]
    schema = "vec_id long, embedding array<float>"
    corpus = spark.createDataFrame(corpus_rows, schema)
    evalset = spark.createDataFrame(eval_rows, schema)

    exact = {
        r["doc_id"]: r
        for r in semantic_decontaminate(corpus, evalset, threshold=0.9).collect()
    }
    pre = {
        r["doc_id"]: r
        for r in semantic_decontaminate(
            corpus, evalset, threshold=0.9, prefilter_planes=48, prefilter_bands=6
        ).collect()
    }
    assert set(exact) == set(pre)  # full audit either way
    assert sum(e["contaminated"] for e in exact.values()) == 6  # plant found
    for did, e in exact.items():
        p = pre[did]
        assert p["contaminated"] == e["contaminated"], did
        # the prefiltered max_cos is a LOWER-BOUND witness (max over
        # colliding eval vectors only) — never above the exact maximum, and
        # for contaminated rows itself above threshold
        if p["max_cos"] is not None:
            assert p["max_cos"] <= e["max_cos"], did
        if p["contaminated"]:
            assert p["max_cos"] >= 0.9, did
    assert any(p["max_cos"] is None for p in pre.values())  # pruning happened


def test_semantic_decontaminate_arrow_equals_hof(spark, testdata_dir):
    """The exact matmul (mapInPandas) kernel must reproduce an inline
    oracle — the broadcast nested-loop join scored by the JVM cosine
    Column — row for row: same max_cos at the 4-decimal rounding edge, same
    flags, on the real embeddings fixture at the oracle query's threshold."""
    from pyspark.sql import functions as F

    from document_extraction_spark.operators.decontaminate import (
        semantic_decontaminate,
    )
    from document_extraction_spark.operators.similarity import cosine

    emb = spark.read.parquet(f"{testdata_dir}/sf0.01/embeddings.parquet")
    evalset = emb.filter(F.col("vec_id") % 17 == 0)
    corpus = emb.filter(F.col("vec_id") % 17 != 0)
    max_cos = F.round(F.max(cosine(F.col("cv"), F.col("ev"))), 4) + F.lit(0.0)
    hof = sorted(
        map(
            tuple,
            corpus.select(
                F.col("vec_id").alias("doc_id"), F.col("embedding").alias("cv")
            )
            .join(F.broadcast(evalset.select(F.col("embedding").alias("ev"))))
            .groupBy("doc_id")
            .agg(max_cos.alias("max_cos"))
            .select(
                "doc_id", "max_cos", (F.col("max_cos") >= 0.5).alias("contaminated")
            )
            .collect(),
        )
    )
    arrow = sorted(
        map(tuple, semantic_decontaminate(corpus, evalset, threshold=0.5).collect())
    )
    assert hof == arrow and len(hof) > 0


def test_semantic_decontaminate_zero_norm_rows(spark):
    """A zero-norm vector has no cosine: a zero-norm corpus row reports
    max_cos NULL and contaminated FALSE (never NULL), and a zero-norm eval
    row among non-zero ones is skipped, not allowed to blank the row."""
    from document_extraction_spark.operators.decontaminate import (
        semantic_decontaminate,
    )

    schema = "vec_id long, embedding array<float>"
    corpus = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])], schema
    )
    for evals in ([(100, [1.0, 0.1])],
                  [(100, [1.0, 0.1]), (101, [0.0, 0.0]), (102, [-1.0, 0.0])]):
        got = {
            r["doc_id"]: (r["max_cos"], r["contaminated"])
            for r in semantic_decontaminate(
                corpus, spark.createDataFrame(evals, schema), threshold=0.9
            ).collect()
        }
        assert got == {0: (None, False), 1: (0.995, True), 2: (0.0995, False)}


def test_semantic_decontaminate_prefilter_validation(spark):
    import pytest as _pytest

    from document_extraction_spark.operators.decontaminate import (
        semantic_decontaminate,
    )

    df = spark.createDataFrame([(0, [0.0] * 64)], "vec_id long, embedding array<float>")
    with _pytest.raises(ValueError, match="must divide"):
        semantic_decontaminate(df, df, prefilter_planes=10, prefilter_bands=4)


def test_unigram_drift_zero_for_identical_and_names_movers(spark):
    from document_extraction_spark.operators.drift import unigram_drift

    a = spark.createDataFrame(
        [(1, "alpha beta gamma alpha"), (2, "beta gamma delta")], ["id", "text"]
    )
    same = unigram_drift(a, a).collect()
    assert same and all(r["js"] == 0.0 for r in same)
    assert all(r["p_a"] == r["p_b"] for r in same)

    b = spark.createDataFrame(
        [(1, "alpha beta gamma alpha"), (2, "beta gamma spamword spamword spamword")],
        ["id", "text"],
    )
    drift = unigram_drift(a, b).collect()
    by_term = {r["term"]: r for r in drift}
    # the injected term leads the contribution ranking and is one-sided
    assert drift[0]["term"] == "spamword"
    assert by_term["spamword"]["p_a"] == 0.0 and by_term["spamword"]["p_b"] > 0.0
    # every contribution non-negative; total bounded by ln 2
    assert all(r["js"] >= 0.0 for r in drift)
    assert sum(r["js"] for r in drift) <= math.log(2) + 1e-9
