"""Similarity search over an embedding column (``array<float>``).

* :func:`brute_force_topk` — exact top-k: the (small) query set is collected
  to the driver and scored against each corpus Arrow batch by one BLAS
  matmul. The corpus side never shuffles.
* :func:`srp_lsh_topk` — the scale path: signed-random-projection LSH.
  Candidates are generated by a bucket join on sign-bit prefixes (corpus
  hashed once, queries hashed the same way), then exactly re-ranked. At
  100 TB this turns an O(Q x N) cross product into Q x (bucket size).
* :func:`ivf_topk` / :func:`srp_near_dup_pairs` /
  :func:`embedding_near_dup_pairs` — IVF ANN and blocked near-dup pairs.

The engine has three cosines, one per plan shape:

* :func:`cosine` — a JVM Column (``zip_with`` + ``aggregate``, double math)
  for PAIR STREAMS (bucket joins, blocked self-joins, re-ranks): the pairs
  already sit in a JVM row, so scoring them there moves no vector across
  the Python boundary.  It is interpreted outside whole-stage codegen,
  ~10 us/pair (BENCH/DECON_SRP.json), and NULL where a norm is 0, so no
  zero vector passes a threshold or ranks in a top-k.
* :func:`_cosine_matrix` — one BLAS matmul per Arrow batch for the two
  BROADCAST kernels (:func:`brute_force_topk`,
  ``decontaminate.semantic_decontaminate``), whose small side is a dense
  matrix on the driver; NaN where a norm is 0, so zero vectors are skipped.
  It sums in BLAS order, so raw doubles differ from :func:`cosine` in the
  last ulps; the outputs round to 4 decimals before anyone compares them.
  A bit-exact per-dimension loop measured 6.5x slower (2.40 s vs 0.37 s at
  10000 x 1176, 64-dim, one thread; 58 ms vs 9 ms at the sf0.1
  decontamination shape of 1882 x 118; a re-run measured 9-30x,
  BENCH/COSINE_FOLD.json) with 0 mismatches after ``round(., 4)`` on 4
  shapes.
* ``mining._bucket_mutual_partials`` — a per-dimension loop, the same IEEE
  operation sequence as :func:`cosine`, because ``mutual_top1_srp`` ranks on
  the RAW double and must equal ``mutual_top1_pairs`` bit for bit.

Banded SRP buckets have one owner, :func:`srp_band_buckets`: the
``"{band}:{signature}"`` key format and its argument checks (bands divide
the planes, embeddings have ``dim`` elements).  :func:`srp_near_dup_pairs`,
``mining.mutual_top1_srp`` and the ``decontaminate.semantic_decontaminate``
prefilter all explode it, so equal vectors land in equal buckets across
operators.  The random hyperplanes are derived from a seeded NumPy
generator and inlined as literal arrays — deterministic, no state on
executors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Most rows a broadcast kernel collects to the driver (queries, eval vectors).
MAX_BROADCAST_ROWS = 100_000


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a, b):
    """Cosine similarity between two array<float> columns (double math):
    per-element double products folded left to right from 0.0, then
    ``dot / (sqrt(na) * sqrt(nb))``; NULL where either norm is 0."""
    return F.try_divide(_dot(a, b), F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _cosine_matrix(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(len(a), len(b)) float64 cosines as ONE BLAS matmul, NaN where either
    row has norm 0 (where the :func:`cosine` Column is NULL; a kernel skips
    NaN, so a zero vector is never ranked or flagged).  The matmul sums in
    its own order, so values agree with :func:`cosine` up to the last ulps:
    compare them rounded."""
    na = np.sqrt((a * a).sum(axis=1))
    nb = np.sqrt((b * b).sum(axis=1))
    denom = np.outer(na, nb)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom > 0, (a @ b.T) / denom, np.nan)


def _collect_broadcast_side(df: DataFrame, what: str, instead: str) -> pd.DataFrame:
    """Collect the small side of a broadcast kernel to the driver in ONE
    job: take ``MAX_BROADCAST_ROWS + 1`` rows and fail on overflow, instead
    of a count() job followed by toPandas()."""
    pdf = df.limit(MAX_BROADCAST_ROWS + 1).toPandas()
    if len(pdf) > MAX_BROADCAST_ROWS:
        raise ValueError(
            f"more than {MAX_BROADCAST_ROWS} {what} to hold on the driver; "
            f"use {instead} instead"
        )
    return pdf


def _vectors(pdf: pd.DataFrame, vec_col: str) -> np.ndarray:
    return np.stack(pdf[vec_col].to_numpy()).astype(np.float64)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k: (query_id, vec_id, cos, rank), self-matches excluded.
    A zero-norm vector has no cosine: a zero-norm query gets no rows and a
    zero-norm corpus row is never ranked.

    The query set (at most ``MAX_BROADCAST_ROWS``) rides the mapInPandas
    closure as a float64 matrix, and each corpus Arrow batch scores its
    |batch| x |queries| cosines with :func:`_cosine_matrix`.  Per batch only
    the per-query top-k SURVIVORS are emitted (every element tied with the
    batch's k-th value included, so the global window's vec_id tie-break
    sees the same candidate set the full cross product would); the final
    exact window rank runs over ~batches x queries x k rows.  The corpus
    never shuffles; nothing but candidates moves."""
    q_pd = _collect_broadcast_side(
        queries.select(id_col, vec_col), "queries", "srp_lsh_topk / ivf_topk"
    )
    qids = q_pd[id_col].to_numpy()
    qmat = _vectors(q_pd, vec_col)

    def kernel(batches):
        for pdf in batches:
            cids = pdf[id_col].to_numpy()
            sims = _cosine_matrix(_vectors(pdf, vec_col), qmat)
            sims[cids.reshape(-1, 1) == qids.reshape(1, -1)] = np.nan  # self
            out_q, out_v, out_s = [], [], []
            for j in range(sims.shape[1]):
                col = sims[:, j]
                valid = ~np.isnan(col)
                n_valid = int(valid.sum())
                if n_valid == 0:
                    continue
                kk = min(k, n_valid)
                vals = np.where(valid, col, -np.inf)
                thresh = np.partition(vals, len(vals) - kk)[len(vals) - kk]
                keep = vals >= thresh  # ties at the boundary all survive
                out_q.append(np.full(int(keep.sum()), qids[j]))
                out_v.append(cids[keep])
                out_s.append(col[keep])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_v),
                    "_raw": np.concatenate(out_s),
                }
            )

    cand = corpus.select(id_col, vec_col).mapInPandas(
        kernel, schema="query_id long, vec_id long, _raw double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_raw").desc(), F.col("vec_id"))
    return (
        cand.select("query_id", "vec_id", F.round("_raw", 4).alias("cos"), "_raw")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("_raw")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 1234) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def _checked_dim(vec_col, dim: int):
    """Fail loudly when a vector's length disagrees with the planes' dim.
    Without this, ``zip_with`` pads the shorter side with nulls, ``_dot``
    goes NULL, every sign bit falls to the otherwise(0) branch, and ALL
    vectors share one bucket per band — silently re-creating the quadratic
    all-pairs join SRP exists to prevent (results stay correct through exact
    verification, but the scale guarantee evaporates)."""
    return F.when(F.size(vec_col) == dim, vec_col).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"SRP hyperplanes are {dim}-dim but embedding has "),
                F.size(vec_col).cast("string"),
                F.lit(" elements; pass dim=<actual embedding length>"),
            )
        )
    )


def srp_signature(vec_col, planes: list[list[float]]):
    """Signed-random-projection bucket id: one bit per hyperplane.

    Stays the zip_with/aggregate HOF deliberately (r7 measured): callers
    pass a _checked_dim CASE wrapper as ``vec_col``, and a flattened
    element_at chain re-evaluates that wrapper once PER TERM (planes x dim
    copies — a 40x regression at sf1.0), while the HOF evaluates it once
    per plane.  Banding is a per-corpus-row cost (~3 s at sf1.0), not the
    per-pair hot path — see :func:`dot_flat` for the pair-scoring case
    where flat chains over plain columns win."""
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(_dot(vec_col, plane) >= 0, F.lit(2 ** i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig + bit
    return sig


def srp_band_buckets(vec_col: str, n_planes: int, bands: int, dim: int,
                     seed: int = 1234):
    """array<string> Column of the banded SRP buckets of column ``vec_col``:
    ``"{b}:{signature of band b's n_planes/bands hyperplanes}"``.  The
    column name stays unresolved, so one Column serves both sides of a
    join."""
    if n_planes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide n_planes ({n_planes})")
    per_band = n_planes // bands
    planes = _hyperplanes(dim, n_planes, seed)
    vec_ok = _checked_dim(F.col(vec_col), dim)
    return F.array(*[
        F.concat_ws(":", F.lit(str(b)), srp_signature(
            vec_ok, planes[b * per_band : (b + 1) * per_band]
        ).cast("string"))
        for b in range(bands)
    ])


def srp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 1234,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share the query's SRP bucket, then exact
    cosine re-rank within candidates. Recall grows with fewer planes /
    multiple tables; the plan shape (hash bucket equi-join) is what scales."""
    planes = _hyperplanes(dim, n_planes, seed)
    # unresolved column: re-resolves against corpus and queries separately
    vec_ok = _checked_dim(F.col(vec_col), dim)
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("cvec"),
        srp_signature(vec_ok, planes).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        srp_signature(vec_ok, planes).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        # two-step projection: the O(dim) cosine evaluates once per pair
        # (Catalyst does not CSE a repeated aggregate subtree — see
        # operators/dedup.py plan-shape note)
        .select(
            "query_id",
            "vec_id",
            cosine(F.col("qvec"), F.col("cvec")).alias("_raw"),
        )
        .select("query_id", "vec_id", F.round("_raw", 4).alias("cos"), "_raw")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_raw").desc(), F.col("vec_id"))
    # a NULL (zero-norm) cosine sorts last and is dropped after the window,
    # as brute_force_topk never ranks it
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= k) & F.col("_raw").isNotNull())
        .drop("_raw")
    )


def _kmeans_centroids(sample: np.ndarray, k: int, iters: int = 8,
                      seed: int = 99) -> np.ndarray:
    """Deterministic Lloyd iterations on a driver-side sample (the sample is
    bounded regardless of corpus size; at 100 TB you sample ~100k vectors,
    not the corpus). L2-normalized so assignment == max cosine."""
    rng = np.random.default_rng(seed)
    sample = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    k = min(k, len(sample))  # tiny corpora: fewer lists than requested
    cent = sample[rng.choice(len(sample), size=k, replace=False)]
    for _ in range(iters):
        sims = sample @ cent.T
        assign = sims.argmax(axis=1)
        for j in range(k):
            members = sample[assign == j]
            if len(members):
                c = members.mean(axis=0)
                cent[j] = c / max(np.linalg.norm(c), 1e-12)
    return cent


def _assign_udf(centroids: np.ndarray):
    """Arrow-batched centroid assignment: one numpy matmul per batch."""
    from pyspark.sql.functions import pandas_udf

    def assign(ser):
        import pandas as pd

        mat = np.stack(ser.to_numpy())
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        return pd.Series((mat @ centroids.T).argmax(axis=1).astype("int32"))

    return pandas_udf(assign, "int")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    sample_n: int = 2048,
    seed: int = 99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: k-means coarse quantizer -> inverted lists ->
    probe the ``n_probe`` closest lists per query -> exact cosine re-rank.

    Plan shape at scale: corpus assigned once (map-only pandas UDF, the
    centroid matrix rides the closure), candidates come from an equi-join on
    ``list_id`` — the cross product shrinks by ~n_lists/n_probe. Recall is
    tunable via n_probe (n_probe == n_lists degenerates to brute force)."""
    # deterministic sample: unordered limit() picks whatever partition
    # arrives first and would change centroids across runs/repartitionings
    sample_pd = (
        corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(sample_n)
        .toPandas()[vec_col]
        .to_numpy()
    )
    centroids = _kmeans_centroids(np.stack(sample_pd), k=n_lists, seed=seed)
    assign = _assign_udf(centroids)

    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("cvec"),
        assign(F.col(vec_col)).alias("list_id"),
    )

    # per-query probe lists: n_probe nearest centroids, computed driver-side
    # on the (small, broadcast) query set. Guarded: this collect is sized for
    # ANN query workloads (top-k per query), not corpus-vs-corpus joins.
    q_pd = _collect_broadcast_side(
        queries.select(id_col, vec_col),
        "queries",
        "srp_lsh_topk / embedding_near_dup_pairs for corpus-scale workloads",
    )
    qmat = np.stack(q_pd[vec_col].to_numpy())
    qmat = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    probes = (qmat @ centroids.T).argsort(axis=1)[:, ::-1][:, :n_probe]
    spark = corpus.sparkSession
    probe_rows = [
        (int(q_pd[id_col].iloc[i]), [float(x) for x in q_pd[vec_col].iloc[i]], int(l))
        for i in range(len(q_pd))
        for l in probes[i]
    ]
    q = spark.createDataFrame(probe_rows, ["query_id", "qvec", "list_id"]).withColumn(
        "qvec", F.col("qvec").cast("array<float>")
    )

    scored = (
        c.join(F.broadcast(q), "list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        # two-step projection: the O(dim) cosine evaluates once per pair
        # (Catalyst does not CSE a repeated aggregate subtree — see
        # operators/dedup.py plan-shape note)
        .select(
            "query_id",
            "vec_id",
            cosine(F.col("qvec"), F.col("cvec")).alias("_raw"),
        )
        .select("query_id", "vec_id", F.round("_raw", 4).alias("cos"), "_raw")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_raw").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") <= k) & F.col("_raw").isNotNull())
        .drop("_raw")
    )


def srp_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    bands: int = 4,
    dim: int = 64,
    seed: int = 1234,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs at scale: blocking by BANDED signed-random-
    projection buckets derived from the vectors themselves — no external
    label/cluster column needed (the scale path the label-blocked
    ``embedding_near_dup_pairs`` docstring promises).

    Banding is the SRP analogue of MinHash-LSH banding: a pair is a
    candidate if it matches in ANY band of ``n_planes/bands`` sign bits.
    For cosine c, a sign bit agrees with prob 1 - acos(c)/pi, so at
    c=0.95 with 4 bands of 2 bits the candidate recall is
    1 - (1 - 0.899^2)^4 ≈ 0.9986; every candidate is then exactly
    verified, so precision is 1.0 by construction (pytest pins both).

    Plan: map-only banded signatures -> explode ``bands`` rows/doc ->
    (band, bucket) self-equi-join -> distinct -> exact cosine filter.
    The only shuffles are the bucket join and distinct, keyed by bucket —
    never an all-pairs product.
    """
    buckets = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        F.explode(srp_band_buckets(vec_col, n_planes, bands, dim, seed)).alias("bucket"),
    )
    a, b_ = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(b_, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.col("a.vec").alias("va"),
            F.col("b.vec").alias("vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("_raw"))
        .select("id_a", "id_b", F.round("_raw", 4).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs with blocking: only pairs inside
    the same block are compared (at scale the block key is a coarse cluster /
    LSH bucket; here the dataset's label column)."""
    a = df.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
    )
    b = df.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("blk", "id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("_raw"))
        .select("blk", "id_a", "id_b", F.round("_raw", 4).alias("cos"))
        .filter(F.col("cos") >= threshold)
        .select("blk", "id_a", "id_b", "cos")
    )
