"""Reciprocal best-match pair mining — the bitext/parallel-corpus mining
shape (Artetxe & Schwenk 2019's margin-based mining, minus the margin term):
a candidate pair (l, r) across two corpora survives iff r is l's nearest
neighbour in the right corpus AND l is r's nearest neighbour in the left.
Mutuality is the classic high-precision filter: one-directional top-1 pairs
include every hub vector's spurious matches; requiring both directions
removes them with no threshold to tune.

Distributed shape (scores computed ONCE — structurally, not by cache):
- one broadcast cross product left x right scored with the JVM
  ``similarity.cosine`` Column (rank on the raw double, vec_id tiebreak,
  round only at the edge);
- mutuality needs NO self-join: a pair (l, r) is mutual iff the SAME
  scored row has row_number 1 under both partitionings, so the two
  argmax windows chain over one scored child (plan-shape pinned: exactly
  one scoring join node — a naive `best_l JOIN best_r` re-evaluates the
  whole cross product per branch, doubling the quadratic cost).

At 100 TB neither side is broadcastable and the cross product is the cost:
``mutual_top1_srp`` swaps the exact scorer for banded SRP-bucketed
candidates (``similarity.srp_band_buckets`` — score only colliding buckets;
both sides cogroup on (band, bucket) so NEITHER side broadcasts). One
Arrow kernel per bucket emits each row's in-bucket argmax partial, and an
aggregate combine over the partials gives each side's global argmax; a
pair is mutual iff the two argmaxes coincide. The kernel scores with a
per-dimension loop that is bit-identical to ``similarity.cosine`` wherever
both norms are non-zero (not the BLAS ``similarity._cosine_matrix``), so
the verdict equals the window filter's over the candidate set, trading
candidate recall for the quadratic. At a zero norm the loop gives NaN and
the Column gives NULL; both paths rank it as no score and never pair it. At
bands == n_planes (1 sign bit per band) the candidate set converges to all
informative pairs and the output equals the exact path —
test_mining_calibrate pins that equality on the sf0.001 embeddings.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from document_extraction_spark.operators.similarity import (
    cosine,
    srp_band_buckets,
)


def mutual_top1_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cos: float | None = None,
) -> DataFrame:
    """(left_id, right_id, cos): pairs where each side is the other's
    top-1.  ``min_cos`` (on the rounded score) optionally drops weak mutual
    pairs — disjoint corpora can be mutually-nearest yet unrelated.  A
    zero-norm vector has no cosine (NULL, ranked last) and is never paired."""
    l = left.select(
        F.col(id_col).alias("left_id"), F.col(vec_col).alias("lvec")
    )
    r = right.select(
        F.col(id_col).alias("right_id"), F.col(vec_col).alias("rvec")
    )
    scored = (
        l.crossJoin(F.broadcast(r))
        # two-step projection so the O(dim) cosine evaluates once per pair
        .select(
            "left_id",
            "right_id",
            cosine(F.col("lvec"), F.col("rvec")).alias("_raw"),
        )
        .select("left_id", "right_id", F.col("_raw"), F.round("_raw", 4).alias("cos"))
    )
    return _mutual_filter(scored, min_cos)


def _mutual_filter(scored: DataFrame, min_cos: float | None) -> DataFrame:
    """Chained two-window mutuality over one scored child (columns
    left_id, right_id, _raw, cos): a pair is mutual iff the SAME row has
    row_number 1 under both partitionings — no self-join, the scored
    subtree is read once.  A NULL score sorts last, so a rank-1 NULL means
    that side has no score at all; it is dropped."""
    w_l = Window.partitionBy("left_id").orderBy(F.col("_raw").desc(), "right_id")
    w_r = Window.partitionBy("right_id").orderBy(F.col("_raw").desc(), "left_id")
    out = (
        scored.withColumn("rk_l", F.row_number().over(w_l))
        .withColumn("rk_r", F.row_number().over(w_r))
        .where((F.col("rk_l") == 1) & (F.col("rk_r") == 1) & F.col("_raw").isNotNull())
        .select("left_id", "right_id", "cos")
    )
    if min_cos is not None:
        out = out.where(F.col("cos") >= min_cos)
    return out


_KEY_MIN = np.int64(-0x8000000000000000)  # below every real score's key


def _score_key(x: np.ndarray) -> np.ndarray:
    """Map float64 scores to int64 keys whose ``<`` order is EXACTLY
    ``java.lang.Double.compare`` on real values — the comparator Spark's
    double sorts, ``max``, and struct comparisons use, -0.0 below +0.0 —
    and a NaN (zero-norm cosine) to ``_KEY_MIN``: no score, ranked below
    every real one, as the JVM cosine's NULL ranks last.  The classic bit
    trick (flip the magnitude bits of negatives, keep the sign bit) gives
    IEEE total order.  ``argmax`` over these keys therefore picks the same
    winner as ``F.max(F.struct(_raw, ...))`` over the real scores."""
    b = np.ascontiguousarray(x).view(np.int64)
    key = b ^ ((b >> 63) & np.int64(0x7FFFFFFFFFFFFFFF))
    return np.where(np.isnan(x), _KEY_MIN, key)

_PARTIAL_SCHEMA = "_side tinyint, id bigint, other bigint, _raw double"


def _bucket_mutual_partials(lb: DataFrame, rb: DataFrame,
                            chunk: int = 256) -> DataFrame:
    """Per-(band,bucket) candidate scoring + per-side argmax PARTIALS via a
    cogrouped Arrow kernel — the guide §8 move applied to the SRP mining
    path: the heavy vectors cross the Python boundary once per CORPUS ROW
    per band (|L|+|R| rows per bucket), never once per candidate PAIR, and
    the kernel's output is |L|+|R| partial rows per bucket instead of the
    |L|x|R| scored pair stream (25.6M rows x two 64-float vectors ~ 26 GB
    of Arrow traffic at sf1.0 — measured, the dominant cost of the r7
    mapInArrow pair scorer this replaces).

    Arithmetic is the identical IEEE sequence as the JVM
    :func:`similarity.cosine` Column: per-dimension outer-product
    accumulation from 0.0 (``dot += L[:,k] x R[:,k]`` — element (i,j)'s add
    chain is the HOF fold's k-th step for every pair at once), then
    ``dot / (sqrt(na) * sqrt(nb))`` in the same association — raw doubles
    bit-identical to it (pinned in test_dedup_kernels), which is why this
    loop is not the faster BLAS ``similarity._cosine_matrix``: the argmax
    ranks on the raw double, so ``mutual_top1_srp`` must equal
    ``mutual_top1_pairs`` bit for bit.

    Each emitted partial is the bucket's ``max(struct(_raw, -other_id))``
    winner for one (side, id): the smallest-other-id tie-break is
    replicated exactly by ``argmax`` over :func:`_score_key` keys with ids
    sorted ascending (first-max wins).  A zero-norm vector has no score
    (NaN, as the JVM cosine's NULL): it never wins, and an id with no real
    score emits a NaN partial that the combine drops.  Because the
    struct-max order is total, the global argmax is the max of per-bucket
    winners, so the downstream combine over these partials returns the
    verdict of the window filter :func:`_mutual_filter` over the
    deduplicated candidate pairs — duplicate collisions across bands carry
    identical raws and are absorbed (pinned in test_mining_calibrate).

    Resident memory per bucket group is O(occupancy x dim): the cogroup
    hands the kernel every left and right row of the bucket at once, as
    Arrow tables and as (n, dim) float64 matrices.  ``chunk`` bounds only
    the scoring block on top of that, at chunk^2 doubles (256^2 x 8 B
    blocks stay L2-resident).  What bounds occupancy is the sizing rule in
    :func:`mutual_top1_srp` (per-band bits ~ log2(|corpus|)); a hot
    bucket still arrives whole.

    The kernel is ``applyInArrow`` (not pandas): Arrow list columns are one
    contiguous values buffer plus offsets and flatten zero-copy to an
    (n, dim) matrix, where pandas boxes every array cell into its own
    ndarray."""
    import pyarrow as pa

    def _mat(tbl: "pa.Table", vec: str, n: int) -> np.ndarray:
        va = tbl.column(vec).combine_chunks()
        flat = np.asarray(va.flatten()).astype(np.float64, copy=False)
        if flat.size % n:
            raise ValueError(
                f"_bucket_mutual_partials needs rectangular vectors; got "
                f"{flat.size} values for {n} rows"
            )
        return flat.reshape(n, -1)

    def fn(ltbl: "pa.Table", rtbl: "pa.Table") -> "pa.Table":
        n, m = ltbl.num_rows, rtbl.num_rows
        if n == 0 or m == 0:
            return pa.table(
                {"_side": np.empty(0, np.int8),
                 "id": np.empty(0, np.int64),
                 "other": np.empty(0, np.int64),
                 "_raw": np.empty(0, np.float64)}
            )
        lids = ltbl.column("left_id").to_numpy()
        rids = rtbl.column("right_id").to_numpy()
        lo = np.argsort(lids)
        ro = np.argsort(rids)
        lids = lids[lo]
        rids = rids[ro]
        L = _mat(ltbl, "lvec", n)[lo]
        R = _mat(rtbl, "rvec", m)[ro]
        if L.shape[1] != R.shape[1]:
            raise ValueError(
                f"_bucket_mutual_partials needs equal vector widths; got "
                f"left {L.shape[1]}, right {R.shape[1]}"
            )
        dim = L.shape[1]
        na = np.zeros(n)
        nb = np.zeros(m)
        for k in range(dim):
            na += L[:, k] * L[:, k]
            nb += R[:, k] * R[:, k]
        sa = np.sqrt(na)
        sb = np.sqrt(nb)
        # an id with no real score (all its candidates NaN) keeps raw NaN
        lkey = np.full(n, _KEY_MIN)
        lbj = np.zeros(n, np.int64)
        lraw = np.full(n, np.nan)
        rkey = np.full(m, _KEY_MIN)
        rbi = np.zeros(m, np.int64)
        rraw = np.full(m, np.nan)
        for i0 in range(0, n, chunk):
            i1 = min(i0 + chunk, n)
            Lc = L[i0:i1]
            sac = sa[i0:i1]
            rows = np.arange(i1 - i0)
            for j0 in range(0, m, chunk):
                j1 = min(j0 + chunk, m)
                Rc = R[j0:j1]
                cols = np.arange(j1 - j0)
                dot = np.zeros((i1 - i0, j1 - j0))
                for k in range(dim):
                    dot += Lc[:, k][:, None] * Rc[:, k][None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    raw = dot / (sac[:, None] * sb[j0:j1][None, :])
                key = _score_key(raw)  # NaN keys at the floor: never taken
                # ids ascend with the index, blocks scan ascending, and the
                # update is STRICT >, so ties keep the smallest other-id.
                bj = key.argmax(axis=1)
                bk = key[rows, bj]
                upd = bk > lkey[i0:i1]
                lkey[i0:i1][upd] = bk[upd]
                lbj[i0:i1][upd] = bj[upd] + j0
                lraw[i0:i1][upd] = raw[rows, bj][upd]
                bi = key.argmax(axis=0)
                bk = key[bi, cols]
                upd = bk > rkey[j0:j1]
                rkey[j0:j1][upd] = bk[upd]
                rbi[j0:j1][upd] = bi[upd] + i0
                rraw[j0:j1][upd] = raw[bi, cols][upd]
        return pa.table(
            {"_side": np.concatenate([np.zeros(n, np.int8), np.ones(m, np.int8)]),
             "id": np.concatenate([lids, rids]),
             "other": np.concatenate([rids[lbj], lids[rbi]]),
             "_raw": np.concatenate([lraw, rraw])}
        )

    return (
        lb.groupBy("bucket")
        .cogroup(rb.groupBy("bucket"))
        .applyInArrow(fn, schema=_PARTIAL_SCHEMA)
    )


def _mutual_from_partials(partials: DataFrame,
                          min_cos: float | None) -> DataFrame:
    """Combine per-bucket argmax partials into the mutual-top-1 verdict:
    each side's argmax is ``max(struct(_raw, -other))`` over its bucket
    winners (ties on _raw pick the SMALLEST other id, exactly the window
    filter's orderBy(_raw desc, id); struct max compares fields left to
    right; max over bucket winners == global max, the order is total), a
    pair is mutual iff the two argmax rows coincide (a semi-join), and the
    score is rounded at the edge.  A NaN partial is an id with no real
    score in its bucket (zero norm): it is dropped before the max, where
    Spark would rank it above every score, as the window filter drops a
    NULL winner.  Hash aggregation combines map-side, so the |L|+|R| rows
    per bucket collapse to |corpus|-row tables before any exchange.
    ``partials`` is materialized once (localCheckpoint — both directions
    consume the cogroup output, and a map-only lineage would re-run the
    scoring kernel per consumer: the dedup.py recipe)."""
    p = partials.where(~F.isnan("_raw")).localCheckpoint(eager=False)
    best_l = p.where(F.col("_side") == 0).groupBy(
        F.col("id").alias("left_id")
    ).agg(
        F.max(F.struct(F.col("_raw"), (-F.col("other")).alias("_nr"))).alias("m")
    )
    best_r = p.where(F.col("_side") == 1).groupBy(
        F.col("id").alias("right_id")
    ).agg(
        F.max(F.struct(F.col("_raw"), (-F.col("other")).alias("_nl"))).alias("m")
    )
    bl = best_l.select(
        "left_id",
        (-F.col("m._nr")).alias("right_id"),
        F.col("m._raw").alias("_raw"),
    )
    br = best_r.select((-F.col("m._nl")).alias("left_id"), "right_id")
    out = bl.join(br, ["left_id", "right_id"], "left_semi").select(
        "left_id", "right_id", F.round("_raw", 4).alias("cos")
    )
    if min_cos is not None:
        out = out.where(F.col("cos") >= min_cos)
    return out


def mutual_top1_srp(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    bands: int = 4,
    dim: int = 64,
    seed: int = 1234,
    min_cos: float | None = None,
) -> DataFrame:
    """The non-broadcastable-scale variant of :func:`mutual_top1_pairs`:
    candidates come from banded signed-random-projection (band, bucket)
    keys, and both sides COGROUP on them — each shuffles on the bucket key,
    neither broadcasts,
    so the plan survives two 100 TB corpora.  Candidates never form a pair
    stream: :func:`_bucket_mutual_partials` scores each bucket's |L|x|R|
    block in one cogrouped Arrow kernel and emits, per (side, id), only
    that bucket's ``max(struct(_raw, -other_id))`` winner.
    :func:`_mutual_from_partials` then takes each side's max over its
    bucket winners (the global argmax, since the struct order is total and
    a pair colliding in several bands carries the same raw) and keeps the
    pairs whose two argmaxes coincide: the verdict the window filter of
    :func:`mutual_top1_pairs` gives over the full candidate set.

    Recall semantics: "top-1" is within the candidate set, so a pair whose
    true nearest neighbour never collides in any band can surface a
    second-best mutual pair instead; for cosine c a sign bit agrees with
    prob 1 - acos(c)/pi, so recall is tuned by bands x per-band bits
    exactly as in similarity.srp_near_dup_pairs.  At bands == n_planes
    (one bit per band) a pair misses every band only if ALL n sign bits
    disagree — probability (acos(c)/pi)^n, vanishing but nonzero, so
    equality with the exact path is probabilistic/data-dependent, not an
    invariant; it is pytest-pinned on the sf0.001 embeddings fixture
    (ADVICE r6: the earlier wording overclaimed convergence).

    Sizing at scale: expected candidate volume is ~bands * |L| * |R| /
    2^(n_planes/bands) for near-uniform buckets, i.e. QUADRATIC in corpus
    size at fixed planes.  Grow per-band bits with the corpus
    (bits ~ log2(|corpus|) keeps per-bucket occupancy constant), exactly
    like LSH band tuning in dedup.py; BENCH/MINING_SRP.json pins the
    recall/cost trade per setting on the sf0.1 embeddings.
    """
    buckets = F.explode(
        srp_band_buckets(vec_col, n_planes, bands, dim, seed)
    ).alias("bucket")

    # Candidates never materialize as a pair STREAM at all: the two banded
    # sides cogroup on the bucket key (both shuffle on bucket, neither
    # broadcasts — the same exchange the old equi-join paid) and a single
    # Arrow kernel scores each bucket's |L|x|R| block in place, emitting
    # only per-(side, id) argmax partials.  Vectors cross the Python
    # boundary once per corpus row per band instead of once per candidate
    # pair (the r7 mapInArrow pair scorer moved ~26 GB of duplicated
    # vectors at sf1.0 — this moves ~40 MB), and the mutuality aggregation
    # reads |L|+|R| rows per bucket instead of 25.6M candidates (guide
    # §2.3/§8: decide on light rows, never re-shuffle payloads).  Scoring
    # arithmetic and argmax tie-breaks are bit-identical to the HOF cosine
    # and the window filter (see _bucket_mutual_partials).
    partials = _bucket_mutual_partials(
        left.select(
            F.col(id_col).alias("left_id"), F.col(vec_col).alias("lvec"), buckets
        ),
        right.select(
            F.col(id_col).alias("right_id"), F.col(vec_col).alias("rvec"), buckets
        ),
    )
    return _mutual_from_partials(partials, min_cos)
