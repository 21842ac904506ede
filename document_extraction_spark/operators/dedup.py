"""Deduplication operators for training-data pipelines.

All variants are expressed as declarative DataFrame plans (Catalyst handles
pushdown/broadcast/AQE); nothing collects to the driver.

Scale design (100 TB corpus):

* **exact**: hash-groupBy on an md5 fingerprint — the shuffle carries only
  (32-byte key, doc_id), never the payload.
* **MinHash + LSH**: a map-side band pass (shingles -> 8 min-hashes -> 4
  band buckets, one row per band carrying the text: 4x the text crosses
  the one exchange), then a verify pass over each sorted bucket run (one
  run resident, exact Jaccard counts for its pairs, quadratic in bucket
  size). The unfused minhash -> LSH join -> verify operators stay as its
  equality oracle. The bucket format ``"{band}:{md5 of the band's
  components joined by '|'}"`` has two owners: :func:`minhash_band_buckets`
  builds it as a Column for :func:`lsh_candidate_pairs` and the
  incremental_dedup index, and :func:`_band_keys` builds it per row in the
  fused kernel; a test pins the two equal.
* **SimHash**: 32-bit signature from per-token hash bit votes — also
  array-based, map-only.
* **n-gram Jaccard**: exact verification of candidate pairs via shingle
  self-join (the one variant that genuinely needs the explode).
* **embedding cosine**: near-dup pairs over an embedding column with
  blocking (operators/similarity.py).

Plan-shape note: intermediate arrays (tokens, shingles, hashes) are
materialized as **named columns in separate selects** — inlining them into
one expression makes Catalyst re-evaluate the tokenization inside every
array-lambda element access (measured 20x slowdown; Catalyst only CSEs
multiply-referenced projection outputs, not repeated subtrees inside
lambdas).

MinHash/SimHash hashes use ``md5`` (engine-portable) so every variant has an
exact DuckDB oracle; at production scale ``xxhash64`` is a drop-in with the
same plan shape.
"""

from __future__ import annotations

import hashlib
import itertools
from operator import itemgetter

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from document_extraction_spark.functions.textstats import fingerprint, py_tokens

SHINGLE_WIDTH = 3
MINHASH_K = 8
LSH_BANDS = 4  # rows per band = MINHASH_K // LSH_BANDS = 2
SIMHASH_BITS = 32

# Hash-cache bound for the per-task shingle->md5-window memo; cleared when
# exceeded so a boilerplate-free 100 TB task cannot grow it unboundedly.
_MD5_CACHE_CAP = 2_000_000
_PAIR_BATCH_ROWS = 8192  # near-dup verify output batch: hot-bucket pairs leave in slices


def _py_shingles(text: str | None, width: int) -> list[str] | None:
    """Per-document shingle set: None for NULL / trim-empty text, otherwise
    the distinct word-``width``-grams in first-occurrence order.  Twin of
    the SQL shingling the DuckDB oracles run (and of the HOF shingle array
    in tests/dedup_hof.py), piece by piece: SQL trim strips ' ' (0x20)
    only; tokenization splits the LOWERED trimmed text on the Java-\\s
    class and drops empty tokens; fewer than ``width`` tokens yield the
    single whole-doc gram (array_join of the token list — '' when no tokens
    survive, matching array_join over an empty array)."""
    if text is None:
        return None
    stripped = text.strip(" ")
    if not stripped:
        return None
    toks = py_tokens(stripped)
    if len(toks) >= width:
        return list(dict.fromkeys(
            " ".join(toks[i : i + width]) for i in range(len(toks) - width + 1)
        ))
    return [" ".join(toks)]


def _md5_windows(g: str, memo: dict[str, bytes]) -> bytes:
    """md5(g) || md5('x'||g): 32 bytes, the eight big-endian 32-bit MinHash
    windows, memoized per task in ``memo`` (cleared at ``_MD5_CACHE_CAP``
    entries)."""
    w = memo.get(g)
    if w is None:
        b = g.encode()
        w = hashlib.md5(b).digest() + hashlib.md5(b"x" + b).digest()
        if len(memo) >= _MD5_CACHE_CAP:
            memo.clear()
        memo[g] = w
    return w


def _py_minhash(sh: list[str], k: int, memo: dict[str, bytes]) -> list[str]:
    """Signature i = min over the shingles of their i-th md5 window, as
    8-hex.  The numeric min of a 32-bit window == the lexicographic min of
    its fixed-width lowercase hex, so this equals the SQL
    array_min(substring(md5(...))) form byte for byte."""
    w = np.frombuffer(b"".join([_md5_windows(g, memo) for g in sh]), dtype=">u4")
    return [f"{v:08x}" for v in w.reshape(-1, 8).min(axis=0)[:k].tolist()]


def _band_keys(sig: list[str], bands: int) -> list[str]:
    """Per band, md5 of its rows joined by '|' — the per-row twin of
    :func:`minhash_band_buckets` (bucket ``f"{b}:{key}"``)."""
    r = len(sig) // bands
    return [
        hashlib.md5("|".join(sig[b * r : (b + 1) * r]).encode()).hexdigest()
        for b in range(bands)
    ]


def minhash_band_buckets(k: int = MINHASH_K, bands: int = LSH_BANDS):
    """array<string> Column of the LSH band buckets over ``h0..h{k-1}``:
    ``"{b}:{md5 of band b's k//bands components joined by '|'}"``.  The
    one Column owner of the MinHash bucket format; :func:`_band_keys` is
    its per-row twin (pinned equal in tests/test_dedup.py)."""
    r = k // bands
    return F.array(*[
        F.concat_ws(":", F.lit(str(b)), F.md5(F.concat_ws(
            "|", *[F.col(f"h{b * r + i}") for i in range(r)]
        )))
        for b in range(bands)
    ])


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via md5 fingerprint group; keeps the smallest id as the
    canonical representative. Returns (fingerprint, keep_id, n_dupes)."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
    )


def _tokens_df(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Tokenize non-empty docs. NULL/empty text is filtered here: a NULL doc
    would otherwise produce NULL minhash windows which concat_ws silently
    skips — every NULL doc landing in one shared LSH bucket (md5('')), while
    SQL oracles propagate NULL and emit nothing. Dropping them keeps Spark
    and oracle semantics identical (mirror `WHERE text IS NOT NULL AND
    trim(text) <> ''` in oracle SQL)."""
    c = F.col(text_col)
    toks = F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda t: t != "")
    return (
        df.filter(c.isNotNull() & (F.trim(c) != ""))
        .select(F.col(id_col).alias("doc_id"), toks.alias("_tk"))
    )


def shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
             width: int = SHINGLE_WIDTH) -> DataFrame:
    """Exploded (doc_id, shingle) rows of :func:`_py_shingles` — for the
    exact-Jaccard joins. Row-SET equal to the SQL HOF shingling (pinned
    against tests/dedup_hof.py in tests/test_dedup_kernels.py); every
    consumer is row-order-free."""
    id_type = df.schema[id_col].dataType
    schema = T.StructType([
        T.StructField("doc_id", id_type),
        T.StructField("shingle", T.StringType()),
    ])

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            ids: list = []
            grams: list[str] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["_txt"]):
                sh = _py_shingles(text, width)
                if sh is None:
                    continue
                ids.extend([doc_id] * len(sh))
                grams.extend(sh)
            if ids:
                yield pd.DataFrame({"doc_id": ids, "shingle": grams})

    # only (id, text) cross the Python boundary (guide §4.1: select first)
    return df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_txt")
    ).mapInPandas(kernel, schema=schema)


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = MINHASH_K) -> DataFrame:
    """(doc_id, h0..h{k-1}): k min-hashes per doc WITHOUT exploding
    shingles, map-only, as an Arrow kernel (:func:`_py_minhash` with a
    per-task shingle->window memo).  Signature i = min over shingles of the
    i-th 8-hex (32-bit) window of md5(shingle) / md5('x'||shingle),
    BYTE-IDENTICAL to the array-HOF form the DuckDB oracle mirrors (pinned
    against tests/dedup_hof.py in tests/test_dedup_kernels.py)."""
    if k > 8:
        raise ValueError(f"two md5s provide 8 8-hex windows; got k={k}")
    id_type = df.schema[id_col].dataType
    schema = T.StructType(
        [T.StructField("doc_id", id_type)]
        + [T.StructField(f"h{i}", T.StringType()) for i in range(k)]
    )

    def kernel(batches):
        import pandas as pd

        memo: dict[str, bytes] = {}
        for pdf in batches:
            sigs = [
                (doc_id, *_py_minhash(sh, k, memo))
                for doc_id, text in zip(pdf["doc_id"], pdf["_txt"])
                if (sh := _py_shingles(text, SHINGLE_WIDTH)) is not None
            ]
            if sigs:
                yield pd.DataFrame(sigs, columns=schema.names)

    return df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_txt")
    ).mapInPandas(kernel, schema=schema)


def lsh_candidate_pairs(
    sig: DataFrame,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the signature, bucket-join, emit distinct candidate pairs (a<b).

    ``max_bucket_size`` (production knob, default off for oracle parity):
    drop buckets holding more than the cap before the self-join — a single
    boilerplate-heavy bucket of B docs costs B^2 pairs, and a cap turns the
    worst case from quadratic-in-hottest-bucket to cap^2 * n_buckets.
    Dropped buckets lose recall only for pairs whose OTHER bands also
    overflow (AQE skew-join still splits merely-warm buckets)."""
    # r7: materialize the bucket table ONCE — both sides of the self-join
    # (and the optional cap's groupBy) reference it, and a map-only lineage
    # has no exchange for Spark to reuse, so without the cut the whole
    # upstream signature pass ran once PER REFERENCE (guide §5; measured
    # 2x the MinHash kernel at sf1.0)
    buckets = sig.select(
        "doc_id", F.explode(minhash_band_buckets(k, bands)).alias("bucket")
    ).localCheckpoint(eager=False)
    if max_bucket_size is not None:
        keep = (
            buckets.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("bucket")
        )
        buckets = buckets.join(keep, "bucket", "left_semi")
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _jaccard_at(counts: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, n_inter, n_a, n_b) -> (doc_a, doc_b, n_inter, jaccard),
    keeping pairs whose Jaccard (double, rounded HALF_UP to 4) >= threshold."""
    jaccard = F.round(
        F.col("n_inter").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        4,
    )
    return counts.select("doc_a", "doc_b", "n_inter", jaccard.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.6,
                        id_col: str = "doc_id", text_col: str = "text",
                        width: int = SHINGLE_WIDTH) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard >= threshold via shingle
    self-join: every pair, no LSH, so the recall reference at moderate
    scale."""
    # materialized once, referenced three times (sizes, a, b): the shingle
    # kernel is a Python node, so each reference would re-run it
    sh = shingles(df, id_col, text_col, width).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return _jaccard_at(inter.join(sa, "doc_a").join(sb, "doc_b"), threshold)


def jaccard_verify_candidates(
    df: DataFrame,
    candidates: DataFrame,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = SHINGLE_WIDTH,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard restricted to a candidate pair set. Over the
    MinHash-LSH candidates, :func:`near_dup_pairs_pipeline` computes the
    same rows in one pass; this stays as its oracle.

    Why not ``ngram_jaccard_pairs`` at scale: the full shingle self-join is
    keyed by ``shingle`` alone, so one corpus-common shingle ("click here to
    subscribe") makes the join quadratic in its document frequency — a
    cartesian bomb at 100 TB. Here the intersection join is keyed by
    ``(doc_b, shingle)`` *through the candidate pairs*: work is bounded by
    Σ_pairs |shingles(doc_a)|, linear in the candidate set, regardless of
    any shingle's global frequency.

    ``max_shingle_df`` (production knob, default off for oracle parity):
    drop shingles whose document frequency among candidate docs exceeds the
    cap *before* sizing and intersection — consistently redefining the
    shingle universe on both sides of the Jaccard ratio, bounding the fan-out
    of the cand->shingle explode on boilerplate-heavy corpora.

    Output matches ngram_jaccard_pairs: (doc_a, doc_b, n_inter, jaccard),
    restricted to candidate pairs (equal when the candidate set has full
    recall at the threshold — tested in tests/test_dedup.py).
    """
    # materialize the (small) candidate set once: this plan references it six
    # times and Spark does NOT reuse the exchanges (measured: 22 file scans /
    # 0 ReusedExchange without the checkpoint) — at 100 TB that re-runs the
    # MinHash+LSH join per reference
    cand = candidates.select("doc_a", "doc_b").distinct().localCheckpoint(eager=False)
    docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # only candidate docs' shingles survive: at 100 TB the semi-join prunes
    # the corpus to the (tiny) near-dup-suspect subset before any wide join
    # happens; materialized once, referenced three times (sizes, a, b).
    # r7: the semi-join now runs BEFORE the shingle kernel — the Arrow
    # mapInPandas node is opaque to Catalyst (PushDownLeftSemiAntiJoin could
    # push through the old HOF projection but cannot cross a Python node),
    # so pruning first keeps non-candidate docs out of the kernel entirely.
    sh = (
        shingles(
            df.join(
                docs.withColumnRenamed("doc_id", id_col), id_col, "left_semi"
            ),
            id_col,
            text_col,
            width,
        )
        .localCheckpoint(eager=False)
    )
    if max_shingle_df is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(a, "doc_a")          # explode pairs by doc_a's shingles
        .join(b, ["doc_b", "shingle"])  # keyed by (doc_b, shingle) — no hot-shingle blowup
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return _jaccard_at(inter.join(sa, "doc_a").join(sb, "doc_b"), threshold)


def _run_pair_counts(run: list[tuple]):
    """(doc_a, doc_b, n_inter, n_a, n_b) for each pair a < b of one bucket
    run of (bucket, doc_id, lower_keys, text) rows sorted by doc_id, except
    pairs whose keys collide in a lower band: they are counted there."""
    if len(run) < 2:
        return
    sets = [set(_py_shingles(r[3], SHINGLE_WIDTH)) for r in run]
    for i, (_, a, ka, _) in enumerate(run):
        for j in range(i + 1, len(run)):
            _, b, kb, _ = run[j]
            if a == b:
                raise ValueError(
                    f"near_dup_pairs_pipeline: doc_id {a!r} occurs twice in one "
                    "LSH bucket; document ids must be unique"
                )
            if not any(p == q for p, q in zip(ka, kb)):
                yield a, b, len(sets[i] & sets[j]), len(sets[i]), len(sets[j])


def near_dup_pairs_pipeline(
    df: DataFrame,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The rows of ``jaccard_verify_candidates(df,
    lsh_candidate_pairs(minhash_signatures(df)), threshold)``, reading
    ``df`` once, in two Python passes around one exchange. The band pass
    emits one ``(bucket, doc_id, lower_keys, text)`` row per document and
    band, so the text crosses the exchange once per band (4x). Sorted by
    (bucket, doc_id), each bucket is one run; the verify pass streams the
    runs across batch boundaries, holding one bucket run at a time, not a
    partition, and counts each pair's shingle intersection in the lowest
    band where it collides. Pair work is quadratic in bucket size, as with
    a bucket self-join. A doc_id twice in one run raises ``ValueError``."""
    id_type = df.schema[id_col].dataType
    id_arrow, id_sql = to_arrow_type(id_type), id_type.simpleString()
    band_schema = f"bucket string, doc_id {id_sql}, lower_keys array<string>, text string"
    pair_schema = (f"doc_a {id_sql}, doc_b {id_sql}, n_inter bigint not null, "
                   "n_a bigint not null, n_b bigint not null")

    def band(batches):
        import pyarrow as pa

        memo: dict[str, bytes] = {}
        for rb in batches:
            ids, texts = rb.column("doc_id"), rb.column("text")
            take, buckets, lower = [], [], []
            for i, (doc_id, text) in enumerate(zip(ids.to_pylist(), texts.to_pylist())):
                sh = None if doc_id is None else _py_shingles(text, SHINGLE_WIDTH)
                if sh is not None:
                    keys = _band_keys(_py_minhash(sh, MINHASH_K, memo), LSH_BANDS)
                    take += [i] * LSH_BANDS
                    buckets += [f"{b}:{key}" for b, key in enumerate(keys)]
                    lower += [keys[:b] for b in range(LSH_BANDS)]
            idx = pa.array(take, pa.int32())
            yield pa.RecordBatch.from_arrays(
                [pa.array(buckets, pa.string()), ids.take(idx),
                 pa.array(lower, pa.list_(pa.string())), texts.take(idx)],
                names=["bucket", "doc_id", "lower_keys", "text"],
            )

    def verify(batches):
        import pyarrow as pa

        rows = (r for rb in batches for r in zip(*(c.to_pylist() for c in rb.columns)))
        pairs = itertools.chain.from_iterable(
            _run_pair_counts(list(run))
            for _, run in itertools.groupby(rows, key=itemgetter(0))
        )
        while chunk := list(itertools.islice(pairs, _PAIR_BATCH_ROWS)):
            a, b, *counts = zip(*chunk)
            yield pa.RecordBatch.from_arrays(
                [pa.array(a, id_arrow), pa.array(b, id_arrow)]
                + [pa.array(c, pa.int64()) for c in counts],
                names=["doc_a", "doc_b", "n_inter", "n_a", "n_b"],
            )

    counts = (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
        .mapInArrow(band, band_schema)
        .repartition("bucket")
        .sortWithinPartitions("bucket", "doc_id")
        .mapInArrow(verify, pair_schema)
    )
    return _jaccard_at(counts, threshold)


def dedup_clusters(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over near-dup pairs -> (doc_id, cluster_id).

    cluster_id = the smallest doc_id reachable through the pair graph
    (min-label propagation, the standard distributed CC: each iteration is
    one join + groupBy-min, converging in O(graph diameter) rounds — near-dup
    graphs are shallow, so a handful of rounds at any scale). The driver loop
    only checks a one-row convergence aggregate per round."""
    # materialize the edge list ONCE: every propagation round joins against
    # it, and without the checkpoint each round re-runs the whole upstream
    # pair pipeline (LSH + Jaccard verification) from the scan
    edges = (
        pairs.selectExpr("doc_a AS u", "doc_b AS v")
        .union(pairs.selectExpr("doc_b AS u", "doc_a AS v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = edges.select(F.col("u").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    # convergence via label-sum monotonicity: min-propagation only ever
    # DECREASES labels, so the (exact, decimal) label sum is strictly
    # decreasing until the fixpoint — one cheap aggregate over the freshly
    # checkpointed frame per round instead of a labels-join-new_labels
    # comparison job (decimal(38,0): no int64 overflow at 10^12 nodes)
    label_sum = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    prev_sum = labels.agg(label_sum).collect()[0]["s"]
    converged = False
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.v == labels.node)
            .groupBy(edges.u)
            .agg(F.min("label").alias("nmin"))
            .select(F.col("u").alias("node"), "nmin")
        )
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
        )
        # checkpoint FIRST (cut lineage), then aggregate the checkpointed
        # frame — aggregating the un-checkpointed plan would evaluate the
        # round's join twice.  r7: eager=False fuses materialization into
        # the convergence aggregate — the agg job computes the round's join
        # once, persisting the blocks as it streams them (non-eager
        # localCheckpoint persists on first use), so each round costs ONE
        # scheduler job instead of two; on the near-dup graph (a few
        # thousand edges) per-round job overhead WAS the cost.
        new_labels = new_labels.localCheckpoint(eager=False)
        cur_sum = new_labels.agg(label_sum).collect()[0]["s"]
        labels = new_labels
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # min-label propagation moves one hop per round: a chain-shaped
        # component with radius > max_iters would silently get wrong ids
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iters} rounds "
            "(component diameter exceeds max_iters); raise max_iters"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def dedup_clusters_star(pairs: DataFrame, max_iters: int = 30) -> DataFrame:
    """Connected components by alternating LARGE-STAR / SMALL-STAR rounds —
    the published MapReduce CC algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond", ACM SoCC 2014). Same output
    contract as :func:`dedup_clusters`: (doc_id, cluster_id) with
    cluster_id = the component's smallest doc_id (pytest-pinned equal).

    Why a second implementation: min-label propagation moves one hop per
    round, O(diameter) rounds — fine for shallow near-dup graphs, but a
    CHAIN-shaped component (A~B~C~... from transitive near-dups) needs
    diameter rounds and trips the max_iters guard. Star contraction halves
    component height every other round, O(log n) rounds on ANY topology —
    the safe default at 100 TB where one pathological component shape
    shouldn't abort the job. Cost per round is the same shape as
    propagation (one groupBy-min + one join, localCheckpoint lineage cut,
    1-row driver aggregate), there are just provably fewer rounds.

    Round mechanics (u ranges over every edge endpoint; m(u) = min of
    u's neighborhood including u itself):

    * large-star: for each STRICTLY LARGER neighbor v > u, emit (v, m(u))
      — larger nodes re-hang under the local minimum;
    * small-star: orient edges (hi, lo); for each hi emit (hi, m(hi)) and
      for each of its smaller neighbors lo emit (lo, m(hi)).

    At the fixpoint every component is a star rooted at its minimum, so the
    label of a node is min(neighborhood ∪ self)."""
    e = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    all_nodes = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def sym(edges):
        return edges.select(
            F.col("a").alias("u"), F.col("b").alias("v")
        ).union(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))

    def neigh_min(s):
        return s.groupBy("u").agg(
            F.least(F.col("u"), F.min("v")).alias("m")
        )

    if e.limit(1).count() == 0:
        return all_nodes.select(
            F.col("node").alias("doc_id"), F.col("node").alias("cluster_id")
        )

    # convergence = the (distinct, checkpointed) edge set reaches its
    # fixpoint EXACTLY: counts equal and no edge outside the previous set.
    # Unlike propagation's label-sum monotonicity, a cheap scalar isn't
    # provably strict here, and star rounds are O(log n) few — two small
    # jobs per round over materialized frames is the honest check.
    prev_e, prev_count = e, e.count()
    converged = False
    for _ in range(max_iters):
        # large-star
        s = sym(e)
        m = neigh_min(s)
        large = (
            s.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star on oriented edges (hi >= lo)
        ori = large.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        m2 = neigh_min(ori)
        small = (
            ori.join(m2, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(m2.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        e = small.localCheckpoint(eager=True)
        count = e.count()
        if count == prev_count and e.exceptAll(prev_e).limit(1).count() == 0:
            converged = True
            break
        prev_e, prev_count = e, count
    if not converged:
        raise RuntimeError(
            f"dedup_clusters_star did not converge in {max_iters} rounds — "
            "star contraction is O(log n), so this indicates a bug or an "
            "astronomically large component; raise max_iters"
        )
    labels = neigh_min(sym(e)).select(
        F.col("u").alias("doc_id"), F.col("m").alias("cluster_id")
    )
    # isolated nodes of the ORIGINAL pair graph (none by construction since
    # every input row is an edge, but doc ids appearing only as self-pairs
    # were filtered) — re-attach any endpoint that lost all its edges
    return (
        all_nodes.join(labels, all_nodes.node == labels.doc_id, "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce("cluster_id", F.col("node")).alias("cluster_id"),
        )
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash signature: per-token 60-bit md5 hash, per-bit +-1 votes over
    all tokens (duplicates count), signature bit b set iff the vote is
    positive. Array-based — map-only, zero shuffle. Width configurable
    (32 here keeps the oracle SQL tractable; 64 at production)."""
    step = _tokens_df(df, id_col, text_col)
    hashed = step.select(
        "doc_id",
        F.transform(
            "_tk",
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
        ).alias("_hs"),
    )
    vote_cols = [
        F.aggregate(
            "_hs",
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    votes = hashed.select("doc_id", *vote_cols)
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(2 ** b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return votes.select("doc_id", sig.alias("simhash"))


def cluster_representatives(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The dedup pipeline's KEEP decision: per near-dup cluster, elect one
    representative — argmax quality, smallest id on ties — and emit the
    per-document verdict ``(doc_id, cluster_id, n_members, is_rep)``.

    ``clusters`` is the (doc_id, cluster_id) output of
    :func:`dedup_clusters` / :func:`dedup_clusters_star`, which only covers
    documents that appear in a near-dup pair; every other document is its
    own singleton cluster (cluster_id = doc_id, is_rep true), so the
    verdict table covers the WHOLE corpus and downstream filters are one
    ``where(is_rep)``.

    Distributed shape: one broadcast-able left join docs -> clusters (the
    cluster table is |paired docs|, a small fraction of the corpus), then
    ONE window shuffle keyed cluster_id carrying (id, quality) only — the
    payload never shuffles.  Quality is textstats.quality_score — a
    round(·, 4) DECIMAL-stable heuristic with an exact DuckDB twin, so
    election order (quality DESC, doc_id) is engine-exact and the verdict
    hash-verifies.
    """
    from document_extraction_spark.functions import textstats as TS

    q = docs.select(
        F.col(id_col),
        TS.quality_score(F.coalesce(F.col(text_col), F.lit("")))
        .cast("decimal(18,4)")
        .alias("_q"),
    )
    labeled = q.join(
        clusters.select(id_col, "cluster_id"), id_col, "left"
    ).select(
        id_col,
        F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        "_q",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("_q").desc(), F.col(id_col)
    )
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return labeled.select(
        id_col,
        "cluster_id",
        F.count(F.lit(1)).over(w_all).alias("n_members"),
        (F.row_number().over(w) == 1).alias("is_rep"),
    )
