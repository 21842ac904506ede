from __future__ import annotations

import warnings

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from document_extraction_spark.operators import similarity as SIM
from document_extraction_spark.operators.mining import mutual_top1_pairs, mutual_top1_srp


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(42)
    base = rng.standard_normal((40, 16)).astype(np.float32)
    # vec 1 = vec 0 + tiny noise -> guaranteed nearest neighbour
    base[1] = base[0] + 0.01 * rng.standard_normal(16).astype(np.float32)
    rows = [(i, [float(x) for x in base[i]], int(i % 4)) for i in range(40)]
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def test_brute_force_topk_exact(spark, emb):
    out = SIM.brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=5).collect()
    assert len(out) == 5
    assert out == sorted(out, key=lambda r: r["rank"])
    top = [r for r in out if r["rank"] == 1][0]
    assert top["vec_id"] == 1  # the planted near-duplicate
    assert top["cos"] > 0.99
    assert all(r["vec_id"] != 0 for r in out)  # self excluded


def _hof_topk(corpus, queries, k):
    """Inline oracle: the broadcast cross product scored by the JVM cosine
    Column, ranked by a window on the raw double."""
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    c = corpus.select("vec_id", F.col("embedding").alias("cvec"))
    raw = SIM.cosine(F.col("qvec"), F.col("cvec")).alias("_raw")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", raw)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_raw").desc(), F.col("vec_id"))
    return (
        scored.select("query_id", "vec_id", F.round("_raw", 4).alias("cos"), "_raw")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("_raw")
    )


def test_brute_force_arrow_equals_hof(spark, emb, testdata_dir):
    """The Arrow/BLAS top-k must reproduce the HOF-cosine oracle row for
    row — ranks, 4-decimal cosines, tie-breaks — on the synthetic fixture
    AND the real embeddings table (multi-query, multi-partition)."""
    q = emb.filter(F.col("vec_id") < 3)
    a = sorted(map(tuple, _hof_topk(emb, q, k=5).collect()))
    b = sorted(map(tuple, SIM.brute_force_topk(emb, q, k=5).collect()))
    assert a == b and len(a) == 15
    real = spark.read.parquet(f"{testdata_dir}/sf0.01/embeddings.parquet")
    q = real.filter(F.col("vec_id") < 5)
    a2 = sorted(map(tuple, _hof_topk(real, q, k=10).collect()))
    b2 = sorted(
        map(tuple, SIM.brute_force_topk(real.repartition(7), q, k=10).collect())
    )
    assert a2 == b2 and len(a2) == 50


def test_brute_force_topk_skips_zero_norm_vectors(spark):
    """A zero-norm vector has no cosine (the JVM cosine Column is NULL
    there): a zero-norm query gets no rows and a zero-norm corpus row is
    never ranked — and nothing raises."""
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    out = SIM.brute_force_topk(df, df.filter(F.col("vec_id") < 2), k=5).collect()
    assert sorted((r["query_id"], r["vec_id"], r["rank"]) for r in out) == [
        (1, 2, 2), (1, 3, 1)
    ]
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        m = SIM._cosine_matrix(np.array([[0.0, 0.0], [1.0, 0.0]]),
                               np.array([[1.0, 0.0], [0.0, 0.0]]))
    assert np.isnan(m[0]).all() and np.isnan(m[:, 1]).all() and m[1, 0] == 1.0


def test_broadcast_side_collect_is_guarded(spark, emb, monkeypatch):
    """Every kernel that holds its small side on the driver refuses more
    than MAX_BROADCAST_ROWS rows there, before running any scoring job."""
    from document_extraction_spark.operators.decontaminate import (
        semantic_decontaminate,
    )

    monkeypatch.setattr(SIM, "MAX_BROADCAST_ROWS", 3)
    four = emb.filter(F.col("vec_id") < 4)
    with pytest.raises(ValueError, match="more than 3 queries"):
        SIM.brute_force_topk(emb, four, k=5)
    with pytest.raises(ValueError, match="more than 3 queries"):
        SIM.ivf_topk(emb, four, k=5, n_lists=4, sample_n=40)
    with pytest.raises(ValueError, match="more than 3 eval rows"):
        semantic_decontaminate(emb, four)
    SIM.brute_force_topk(emb, emb.filter(F.col("vec_id") < 3), k=5)  # 3 is fine


def test_srp_lsh_subset_of_exact_ranking(spark, emb):
    queries = emb.filter(F.col("vec_id") < 3)
    exact = SIM.brute_force_topk(emb, queries, k=10).collect()
    approx = SIM.srp_lsh_topk(emb, queries, k=10, n_planes=4, dim=16).collect()
    exact_cos = {(r["query_id"], r["vec_id"]): r["cos"] for r in exact}
    # every approx hit's cosine must equal the exact computation
    for r in approx:
        key = (r["query_id"], r["vec_id"])
        if key in exact_cos:
            assert r["cos"] == exact_cos[key]
    # the planted near-dup shares all sign bits -> must be found for query 0
    got_q0 = {r["vec_id"] for r in approx if r["query_id"] == 0}
    assert 1 in got_q0


def test_ivf_topk_recall(spark, emb):
    queries = emb.filter(F.col("vec_id") < 3)
    exact = SIM.brute_force_topk(emb, queries, k=5).collect()
    approx = SIM.ivf_topk(emb, queries, k=5, n_lists=4, n_probe=2,
                          sample_n=40).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    hit = total = 0
    for r in approx:
        total += 1
        hit += r["vec_id"] in exact_sets[r["query_id"]]
    assert total > 0
    assert hit / max(total, 1) >= 0.5  # half the lists probed -> decent recall
    # full probe degenerates to exact: identical top-5 sets
    full = SIM.ivf_topk(emb, queries, k=5, n_lists=4, n_probe=4, sample_n=40).collect()
    full_sets = {}
    for r in full:
        full_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert full_sets == exact_sets
    # the planted near-dup of query 0 must land in the same list
    got_q0 = {r["vec_id"] for r in approx if r["query_id"] == 0}
    assert 1 in got_q0


def test_embedding_near_dup_blocking(spark, emb):
    # planted pair (0,1): same block (labels 0 and 1 differ!) -> adjust: both i%4
    # 0%4=0, 1%4=1 -> different blocks; so test blocking excludes the pair
    pairs = SIM.embedding_near_dup_pairs(emb, threshold=0.99).collect()
    assert all(r["id_a"] % 4 == r["id_b"] % 4 for r in pairs)


def test_embedding_near_dup_finds_planted_pair_same_block(spark):
    rng = np.random.default_rng(1)
    v = rng.standard_normal(8).astype(np.float32)
    rows = [
        (0, [float(x) for x in v], 0),
        (1, [float(x) for x in v * 1.001], 0),   # same direction, same block
        (2, [float(x) for x in rng.standard_normal(8)], 0),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    pairs = {(r["id_a"], r["id_b"]): r["cos"] for r in SIM.embedding_near_dup_pairs(df, 0.99).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] >= 0.999


def test_srp_near_dup_precision_and_recall(spark, emb):
    """SRP-banded near-dup pairs: every emitted pair must match the exact
    all-pairs answer at the threshold (precision 1.0 — pairs are exactly
    verified), and the planted near-duplicate pair must be recalled."""
    exact = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in SIM.embedding_near_dup_pairs(
            emb.withColumn("label", F.lit(0)), threshold=0.9
        ).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in SIM.srp_near_dup_pairs(
            emb, threshold=0.9, n_planes=8, bands=4, dim=16
        ).collect()
    }
    assert set(got) <= set(exact)          # precision 1.0
    assert (0, 1) in got                    # planted pair recalled
    for k, v in got.items():
        assert v == exact[k]                # identical verified cosines


def test_srp_rejects_dim_mismatch(spark, emb):
    """dim != actual embedding length must fail loudly: zip_with null-pads,
    the dot product goes NULL, every sign bit falls to 0, and all vectors
    share one bucket per band — the quadratic blowup SRP exists to prevent."""
    with pytest.raises(Exception, match="SRP hyperplanes|USER_RAISED"):
        SIM.srp_near_dup_pairs(emb, dim=64).collect()  # embeddings are 16-dim
    with pytest.raises(Exception, match="SRP hyperplanes|USER_RAISED"):
        SIM.srp_lsh_topk(emb, emb.limit(2), dim=64).collect()


@pytest.mark.parametrize(
    "op",
    [
        lambda e: SIM.srp_near_dup_pairs(e, n_planes=8, bands=3, dim=16),
        lambda e: mutual_top1_srp(e, e, n_planes=8, bands=3, dim=16),
    ],
    ids=["srp_near_dup_pairs", "mutual_top1_srp"],
)
def test_srp_near_dup_rejects_bad_bands(spark, emb, op):
    with pytest.raises(ValueError, match="must divide"):
        op(emb)


def test_srp_band_buckets_equal_numpy_sign_bits(spark, testdata_dir):
    """Each key is "{band}:{signature}", the signature summing 2**i over
    the band's planes i with a non-negative dot product.  The dot folds the
    double products left to right from 0.0, as np.cumsum does, so the signs
    agree bit for bit on the sf0.01 embeddings."""
    n_planes, bands, dim = 16, 4, 64
    emb = spark.read.parquet(f"{testdata_dir}/sf0.01/embeddings.parquet")
    got = {
        r["vec_id"]: r["keys"]
        for r in emb.select(
            "vec_id",
            SIM.srp_band_buckets("embedding", n_planes, bands, dim).alias("keys"),
        ).collect()
    }
    pdf = emb.select("vec_id", "embedding").toPandas()
    vecs = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    planes = np.array(SIM._hyperplanes(dim, n_planes))
    dots = np.cumsum(vecs[:, None, :] * planes[None, :, :], axis=2)[:, :, -1]
    per = n_planes // bands
    sigs = (dots >= 0).reshape(len(vecs), bands, per) @ (2 ** np.arange(per))
    want = {
        int(i): [f"{b}:{int(sig)}" for b, sig in enumerate(row)]
        for i, row in zip(pdf["vec_id"], sigs)
    }
    assert len(got) == 500 and got == want


def _zero_norm_rows(spark, op):
    """(ids, score, flagged) per output row of ``op`` over a corpus whose
    vector 0 has norm 0 (and, for decontamination, an eval set whose
    vector 101 has norm 0); every threshold is 0.0."""
    from document_extraction_spark.operators.decontaminate import (
        semantic_decontaminate,
    )

    schema = "vec_id long, embedding array<float>"
    df = spark.createDataFrame([(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])], schema)
    if op == "srp_near_dup_pairs":
        out = SIM.srp_near_dup_pairs(df, threshold=0.0, n_planes=4, bands=4, dim=2)
    elif op == "embedding_near_dup_pairs":
        out = SIM.embedding_near_dup_pairs(df.withColumn("label", F.lit(0)), threshold=0.0)
    elif op == "srp_lsh_topk":
        out = SIM.srp_lsh_topk(df, df, k=3, n_planes=4, dim=2)
    elif op == "ivf_topk":
        out = SIM.ivf_topk(df, df, k=3, n_lists=2, n_probe=2)
    elif op == "mutual_top1_pairs":
        out = mutual_top1_pairs(df, df)
    else:
        evals = spark.createDataFrame([(100, [1.0, 0.1]), (101, [0.0, 0.0])], schema)
        out = semantic_decontaminate(
            df, evals, threshold=0.0, prefilter_planes=4, prefilter_bands=4, dim=2
        )
        return [({r["doc_id"]}, r["max_cos"], r["contaminated"]) for r in out.collect()]
    ids = [c for c in out.columns if c.startswith("id_") or c.endswith("_id")]
    return [({r[c] for c in ids}, r["cos"], True) for r in out.collect()]


@pytest.mark.parametrize(
    "op",
    [
        "srp_near_dup_pairs",
        "embedding_near_dup_pairs",
        "semantic_decontaminate_prefilter",
        "srp_lsh_topk",
        "ivf_topk",
        "mutual_top1_pairs",
    ],
)
def test_pair_stream_cosine_skips_zero_norm_vectors(spark, op):
    """The JVM cosine is NULL where a norm is 0: every pair-stream operator
    finishes, and no zero-norm row carries a score, passes a threshold or
    is flagged."""
    rows = _zero_norm_rows(spark, op)
    assert all(score is not None for ids, score, flagged in rows if flagged)
    assert all(score is None and not flagged for ids, score, flagged in rows if 0 in ids)
