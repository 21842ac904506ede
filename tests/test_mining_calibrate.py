"""Reciprocal best-match mining (operators/mining.py) and per-group
quantile calibration (operators/calibrate.py).

The property that matters for mining: mutuality kills hub matches — a
right-side vector that is the nearest neighbour of MANY left vectors pairs
with at most one of them (the one it points back to).  For calibration:
ties calibrate equally, every group's max hits 1.0 (cross-group
comparability), singletons are 0.0.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from document_extraction_spark.operators.calibrate import quantile_normalize
from document_extraction_spark.operators.mining import mutual_top1_pairs


def _vecs(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )


def test_mutual_kills_hub_matches(spark):
    # right 10 (the hub, near x-axis) is top-1 for BOTH left 0 and left 1,
    # but points back only to left 0 -> (1, 10) must not survive; left 1
    # pairs with nothing (its best, the hub, refuses).
    left = _vecs(spark, [(0, (1.0, 0.0)), (1, (0.9, 0.1))])
    right = _vecs(spark, [(10, (1.0, 0.01)), (11, (0.0, -1.0))])
    got = {(r["left_id"], r["right_id"]) for r in
           mutual_top1_pairs(left, right).collect()}
    assert got == {(0, 10)}


def test_mutual_perfect_matching(spark):
    # orthogonal basis pairs: every left has exactly one near-identical right
    left = _vecs(spark, [(0, (1.0, 0.0, 0.0)), (1, (0.0, 1.0, 0.0)),
                         (2, (0.0, 0.0, 1.0))])
    right = _vecs(spark, [(10, (0.99, 0.01, 0.0)), (11, (0.0, 0.98, 0.02)),
                          (12, (0.01, 0.0, 0.97))])
    got = {(r["left_id"], r["right_id"]) for r in
           mutual_top1_pairs(left, right).collect()}
    assert got == {(0, 10), (1, 11), (2, 12)}


def test_mutual_min_cos_filter(spark):
    left = _vecs(spark, [(0, (1.0, 0.0))])
    right = _vecs(spark, [(10, (0.0, 1.0))])  # orthogonal: cos 0, still mutual
    assert mutual_top1_pairs(left, right).count() == 1
    assert mutual_top1_pairs(left, right, min_cos=0.5).count() == 0


@pytest.fixture(scope="module")
def scores(spark):
    return spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 20.0), ("a", 4, 40.0),
         ("b", 5, 1000.0), ("b", 6, 2000.0), ("c", 7, 5.0)],
        "src string, doc_id long, score double",
    )


def test_calibrate_ties_and_max(spark, scores):
    out = {r["doc_id"]: r["calibrated"] for r in
           quantile_normalize(scores, "score", "src", "doc_id").collect()}
    assert out[2] == out[3]                   # ties share the calibrated value
    assert out[4] == 1.0 and out[6] == 1.0    # every group's max lands at 1.0
    assert out[1] == 0.0 and out[5] == 0.0    # ... and min at 0.0
    assert out[7] == 0.0                      # singleton convention


def test_calibrate_cross_group_threshold(spark, scores):
    # "top half of every source" as ONE global predicate on the calibrated axis
    kept = {r["doc_id"] for r in
            quantile_normalize(scores, "score", "src", "doc_id")
            .where(F.col("calibrated") >= 0.5).collect()}
    # the 20.0 tie pair shares rank 2 of 4 -> calibrated 1/3, below the bar
    assert kept == {4, 6}


def test_srp_matches_exact_path_on_real_embeddings(spark, testdata_dir):
    """VERDICT r5 ask: the SRP-bucketed scale variant, pinned to the exact
    broadcast path at one-bit-per-band (bands == n_planes) on the sf0.001
    embeddings — candidate recall converges so the outputs must be EQUAL."""
    from document_extraction_spark.operators.mining import mutual_top1_srp

    emb = spark.read.parquet(f"{testdata_dir}/sf0.001/embeddings.parquet")
    left = emb.where(F.col("vec_id") % 2 == 0)
    right = emb.where(F.col("vec_id") % 2 == 1)
    exact = {(r["left_id"], r["right_id"], r["cos"])
             for r in mutual_top1_pairs(left, right).collect()}
    srp = {(r["left_id"], r["right_id"], r["cos"])
           for r in mutual_top1_srp(left, right, n_planes=16, bands=16,
                                    dim=64).collect()}
    assert exact and srp == exact


def test_srp_plan_has_no_cross_product(spark):
    """The scale path must not contain ANY nested-loop/cartesian join —
    candidates come from a (band, bucket) equi-join."""
    from document_extraction_spark.operators.mining import mutual_top1_srp

    left = _vecs(spark, [(0, (1.0, 0.0)), (2, (0.0, 1.0))])
    right = _vecs(spark, [(1, (0.9, 0.1)), (3, (0.1, 0.9))])
    plan = mutual_top1_srp(left, right, n_planes=4, bands=4, dim=2)._jdf \
        .queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_srp_hub_property_holds(spark):
    from document_extraction_spark.operators.mining import mutual_top1_srp

    left = _vecs(spark, [(0, (1.0, 0.0)), (1, (0.9, 0.1))])
    right = _vecs(spark, [(10, (1.0, 0.01)), (11, (0.0, -1.0))])
    got = {(r["left_id"], r["right_id"]) for r in
           mutual_top1_srp(left, right, n_planes=8, bands=8, dim=2).collect()}
    assert got == {(0, 10)}


def test_srp_zero_norm_vector_is_never_paired(spark):
    """A zero vector has no cosine: it must not outrank real matches in the
    SRP path, which then returns what the exact path returns."""
    from document_extraction_spark.operators.mining import mutual_top1_srp

    corpus = _vecs(spark, [(0, (0.0, 0.0)), (1, (1.0, 0.0)), (2, (0.0, 1.0))])
    exact = sorted(tuple(r) for r in mutual_top1_pairs(corpus, corpus).collect())
    srp = sorted(
        tuple(r) for r in
        mutual_top1_srp(corpus, corpus, n_planes=4, bands=4, dim=2).collect()
    )
    assert srp == exact == [(1, 1, 1.0), (2, 2, 1.0)]


def test_bucket_partials_match_filter_agg_on_adversarial_pairs(spark):
    """The cogrouped per-bucket argmax partials + combine (the path
    mutual_top1_srp runs) must return the verdict of the window mutuality
    filter over the SAME candidate pairs — including the nasty cases: a
    zero vector (no cosine: NULL in the JVM, ranked last and never paired),
    duplicate right vectors (raw ties break to the SMALLEST other id), and
    a pair colliding in two bands (absorbed)."""
    import numpy as np

    from document_extraction_spark.operators.mining import (
        _bucket_mutual_partials,
        _mutual_filter,
        _mutual_from_partials,
    )

    # (id, vec, bucket): bucket b0 holds a zero left vector and duplicate
    # rights; pair (4, 14) collides in BOTH b1 and b2.
    lrows = [
        (0, [0.0, 0.0], "b0"), (2, [1.0, 0.2], "b0"),
        (4, [0.5, 0.5], "b1"), (4, [0.5, 0.5], "b2"),
        (6, [0.9, 0.1], "b3"),  # right side absent from b3
    ]
    rrows = [
        (10, [1.0, 0.1], "b0"), (12, [1.0, 0.1], "b0"), (16, [-1.0, 0.3], "b0"),
        (14, [0.4, 0.6], "b1"), (14, [0.4, 0.6], "b2"),
    ]
    lb = spark.createDataFrame(
        lrows, "left_id long, lvec array<float>, bucket string")
    rb = spark.createDataFrame(
        rrows, "right_id long, rvec array<float>, bucket string")

    def rows(df):
        # NaN != NaN would fail tuple equality; compare NaN as a token
        return sorted(
            (r["left_id"], r["right_id"],
             "nan" if r["cos"] != r["cos"] else r["cos"])
            for r in df.collect())

    got = rows(_mutual_from_partials(_bucket_mutual_partials(lb, rb), None))

    # reference scoring in numpy: the HOF cosine's per-dimension fold, NULL
    # on zero norms like the JVM cosine
    cand = lb.join(rb, "bucket").select("left_id", "right_id", "lvec", "rvec").collect()
    L = np.array([r["lvec"] for r in cand], np.float64)
    R = np.array([r["rvec"] for r in cand], np.float64)
    dot, na, nb = np.zeros(len(cand)), np.zeros(len(cand)), np.zeros(len(cand))
    for k in range(L.shape[1]):
        dot += L[:, k] * R[:, k]
        na += L[:, k] * L[:, k]
        nb += R[:, k] * R[:, k]
    with np.errstate(divide="ignore", invalid="ignore"):
        raw = dot / (np.sqrt(na) * np.sqrt(nb))
    scored = spark.createDataFrame(
        [(r["left_id"], r["right_id"], None if x != x else float(x))
         for r, x in zip(cand, raw)],
        "left_id long, right_id long, _raw double",
    ).withColumn("cos", F.round("_raw", 4))
    want = rows(_mutual_filter(scored.dropDuplicates(["left_id", "right_id"]), None))

    assert got == want and len(want) > 0
    # kernel tie-break: left 2's duplicate-raw tie (rights 10 == 12) must
    # break to the SMALLEST right id in its partial row
    partials = {(p["_side"], p["id"]): p["other"]
                for p in _bucket_mutual_partials(lb, rb).collect()}
    assert partials[(0, 2)] == 10
    # no score: the zero-vector left never pairs, so right 10's argmax is
    # left 2 and the two are mutual in BOTH paths
    assert not any(l == 0 for l, _, _ in got)
    assert (2, 10) in {(l, r) for l, r, _ in got}
    assert partials[(1, 10)] == 2


def test_bucket_partials_reject_unequal_vector_widths(spark):
    """A bucket whose right vectors are wider than its left ones would drop
    the extra components from every dot product and norm (narrower ones
    would index past the end): the kernel must refuse, naming both widths."""
    from document_extraction_spark.operators.mining import _bucket_mutual_partials

    lb = spark.createDataFrame(
        [(0, [1.0, 0.0], "b0")], "left_id long, lvec array<float>, bucket string")
    rb = spark.createDataFrame(
        [(10, [1.0, 0.0, 1.0], "b0")],
        "right_id long, rvec array<float>, bucket string")
    with pytest.raises(Exception, match=r"left 2, right 3"):
        _bucket_mutual_partials(lb, rb).collect()
