from __future__ import annotations

import contextlib
from collections import Counter

import pytest

from document_extraction_spark.operators import dedup as DD


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (2, "THE  QUICK   brown fox JUMPS over the lazy dog"),  # case/ws dup of 0
        (3, "the quick brown fox jumps over the sleepy dog"),  # near dup
        (4, "completely different text about spark partitions and shuffles"),
        (5, "completely different text about spark partitions and shuffles ok"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_groups(spark, docs):
    out = {r["keep_id"]: r["n_docs"] for r in DD.exact_dedup(docs).collect()}
    assert out[0] == 3  # 0, 1, 2 share a fingerprint (casefold + ws collapse)
    assert out[3] == 1
    assert out[4] == 1 and out[5] == 1


def test_minhash_identical_docs_collide(spark, docs):
    sig = DD.minhash_signatures(docs)
    pairs = {(r["doc_a"], r["doc_b"]) for r in DD.lsh_candidate_pairs(sig).collect()}
    assert (0, 1) in pairs  # identical docs always share all bands
    assert (0, 2) in pairs
    # near-dup (one word differs) should share at least one band with high
    # probability given 4 bands of 2 hashes; don't assert (probabilistic),
    # but disjoint docs must NOT collide on all bands
    assert (0, 4) not in pairs


def test_ngram_jaccard_values(spark, docs):
    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.1).collect()
    }
    assert out[(0, 1)] == 1.0
    assert out[(0, 2)] == 1.0
    assert 0.1 <= out[(0, 3)] < 1.0
    assert (0, 4) not in out


def test_ngram_jaccard_pairs_reads_each_row_once(spark, docs, counted_reads):
    """The shingle frame feeds the sizes and both sides of the self-join;
    the shingle kernel runs once per input row, not once per reference."""
    counted, reads = counted_reads(docs)
    got = sorted(DD.ngram_jaccard_pairs(counted, threshold=0.1).collect())
    assert reads.value == docs.count()
    assert got == sorted(DD.ngram_jaccard_pairs(docs, threshold=0.1).collect())


def test_jaccard_verify_candidates_matches_full_join(spark, docs):
    """The scale path (LSH candidates -> keyed Jaccard verify) must equal the
    full shingle self-join wherever LSH recall is total — which holds on this
    fixture (all >=0.1-Jaccard pairs share a band)."""
    full = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["jaccard"])
        for r in DD.ngram_jaccard_pairs(docs, threshold=0.1).collect()
    }
    piped = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["jaccard"])
        for r in DD.near_dup_pairs_pipeline(docs, threshold=0.1).collect()
    }
    assert piped == full


def test_jaccard_verify_subset_of_candidates(spark, docs):
    """Verification never invents pairs outside the candidate set."""
    sig = DD.minhash_signatures(docs)
    cand = {(r["doc_a"], r["doc_b"]) for r in DD.lsh_candidate_pairs(sig).collect()}
    ver = DD.jaccard_verify_candidates(docs, DD.lsh_candidate_pairs(sig), threshold=0.0)
    got = {(r["doc_a"], r["doc_b"]) for r in ver.collect()}
    assert got <= cand


def test_jaccard_verify_max_shingle_df(spark, docs):
    """The document-frequency cap drops corpus-common shingles consistently
    from both numerator and denominator: with a cap of 1, no shingle is
    shared, so no pair survives any positive threshold."""
    sig = DD.minhash_signatures(docs)
    ver = DD.jaccard_verify_candidates(
        docs, DD.lsh_candidate_pairs(sig), threshold=0.1, max_shingle_df=1
    )
    assert ver.count() == 0


def test_null_and_empty_text_excluded_from_lsh(spark):
    """NULL/empty docs must not pair with each other (round-1 ADVICE: they
    all hashed to bucket md5('') on the Spark side while SQL oracles
    propagated NULL and emitted nothing)."""
    rows = [
        (0, "shared words for a real pair of documents here"),
        (1, "shared words for a real pair of documents too"),
        (2, None),
        (3, None),
        (4, ""),
        (5, "   "),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = DD.minhash_signatures(docs)
    assert {r["doc_id"] for r in sig.collect()} == {0, 1}
    pairs = {(r["doc_a"], r["doc_b"]) for r in DD.lsh_candidate_pairs(sig).collect()}
    assert all(a in (0, 1) and b in (0, 1) for a, b in pairs)
    assert {r["doc_id"] for r in DD.simhash(docs).collect()} == {0, 1}


def test_simhash_properties(spark, docs):
    sigs = {r["doc_id"]: r["simhash"] for r in DD.simhash(docs).collect()}
    assert sigs[0] == sigs[1]  # identical text
    assert sigs[0] == sigs[2]  # tokens casefolded
    ham_near = bin(sigs[0] ^ sigs[3]).count("1")
    ham_far = bin(sigs[0] ^ sigs[4]).count("1")
    assert ham_near < ham_far
    assert all(0 <= s < 2 ** DD.SIMHASH_BITS for s in sigs.values())


def test_lsh_max_bucket_size_drops_hot_bucket(spark):
    """All-identical docs form one hot bucket of n docs (n^2 pairs); the cap
    removes it entirely, while distinct docs' buckets survive."""
    rows = [(i, "same exact text repeated across every document") for i in range(10)]
    rows += [(100, "one unusual document that stands alone quietly"),
             (101, "one unusual document that stands alone quietly today")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = DD.minhash_signatures(docs)
    uncapped = DD.lsh_candidate_pairs(sig)
    assert uncapped.count() >= 45  # the 10-dup clique alone is C(10,2)
    capped = DD.lsh_candidate_pairs(sig, max_bucket_size=5)
    pairs = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert all(a >= 100 for a, _ in pairs)  # clique gone, odd pair intact
    assert (100, 101) in pairs


def _chain_pairs(df, threshold):
    """The unfused three-operator chain: the fused pipeline's oracle."""
    sig = DD.minhash_signatures(df)
    return DD.jaccard_verify_candidates(df, DD.lsh_candidate_pairs(sig), threshold)


def _fused_equals_chain(df, threshold):
    got = sorted(tuple(r) for r in DD.near_dup_pairs_pipeline(df, threshold).collect())
    assert got == sorted(tuple(r) for r in _chain_pairs(df, threshold).collect())
    return got


def _hot_bucket_docs(spark):
    """40 identical documents (one bucket per band holding all 40) among 60
    distinct ones, plus a near-dup of the clique text."""
    import random

    rng = random.Random(0)
    words = [f"w{i}" for i in range(400)]
    rows = [(i, "the same boilerplate footer repeated on every page here") for i in range(40)]
    rows += [(100 + i, " ".join(rng.choice(words) for _ in range(12))) for i in range(60)]
    rows.append((200, "the same boilerplate footer repeated on every page there"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_band_buckets_equal_band_keys(spark, testdata_dir):
    """The Column bucket format (index, incremental probe, LSH join) and
    the fused kernel's per-row ``_band_keys`` agree on every sf0.001
    document."""
    docs = spark.read.parquet(f"{testdata_dir}/sf0.001/documents.parquet")
    got = {
        r["doc_id"]: r["keys"]
        for r in DD.minhash_signatures(docs)
        .select("doc_id", DD.minhash_band_buckets().alias("keys"))
        .collect()
    }
    want = {
        r["doc_id"]: [
            f"{b}:{key}"
            for b, key in enumerate(DD._band_keys(DD._py_minhash(sh, 8, {}), 4))
        ]
        for r in docs.select("doc_id", "text").collect()
        if (sh := DD._py_shingles(r["text"], 3)) is not None
    }
    assert len(got) == 500 and got == want


@pytest.fixture(scope="module")
def corpus_docs(spark, testdata_dir):
    from test_dedup_kernels import EDGE_ROWS

    base = spark.read.parquet(f"{testdata_dir}/sf0.001/documents.parquet")
    edge = spark.createDataFrame(EDGE_ROWS, "doc_id long, text string")
    return base.select("doc_id", "text").unionByName(edge)


@contextlib.contextmanager
def _arrow_batch_rows(spark, n):
    """Arrow batches of ``n`` rows (the default when None): at 2, every
    bucket run of 3 or more rows spans a batch boundary."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    if n:
        spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.unset(key)


@pytest.mark.parametrize("batch_rows", [None, 2])
@pytest.mark.parametrize("threshold", [0.0, 0.6])
def test_fused_pairs_equal_chain_on_corpus(spark, corpus_docs, threshold, batch_rows):
    """sf0.001 documents plus the NULL / empty / whitespace / sub-width /
    NBSP edge rows."""
    with _arrow_batch_rows(spark, batch_rows):
        assert _fused_equals_chain(corpus_docs, threshold)


@pytest.mark.parametrize("batch_rows", [None, 2])
def test_fused_pairs_equal_chain_on_hot_bucket(spark, batch_rows):
    """A bucket at more than 10x the mean occupancy: the 40-document
    clique is verified whole, each pair once."""
    docs = _hot_bucket_docs(spark)
    occ = Counter(
        (b, key)
        for r in docs.collect()
        for b, key in enumerate(
            DD._band_keys(DD._py_minhash(DD._py_shingles(r["text"], 3), 8, {}), 4)
        )
    )
    assert max(occ.values()) > 10 * (sum(occ.values()) / len(occ))
    with _arrow_batch_rows(spark, batch_rows):
        got = _fused_equals_chain(docs, 0.5)
    assert sum(1 for a, b, _, _ in got if b < 40) == 40 * 39 // 2


def test_fused_pairs_at_exact_threshold(spark):
    """Jaccard 2/3 rounds to 0.6667 and 3/5 is 0.6: each pair is kept at a
    threshold equal to its rounded ratio. Both pairs collide in two bands
    (2 and 3, and 0 and 2)."""
    docs = spark.createDataFrame(
        [
            (1, "alpha bravo charlie delta"),
            (2, "alpha bravo charlie delta echo"),
            (3, "alpha bravo charlie delta echo foxtrot golf"),
        ],
        "doc_id long, text string",
    )
    assert {(a, b): j for a, b, _, j in _fused_equals_chain(docs, 0.6667)} == {(1, 2): 0.6667}
    got = {(a, b): j for a, b, _, j in _fused_equals_chain(docs, 0.6)}
    assert got == {(1, 2): 0.6667, (2, 3): 0.6}


def test_fused_pair_colliding_in_every_band_is_emitted_once(spark):
    docs = spark.createDataFrame(
        [(1, "an identical document in all four bands"),
         (2, "an identical document in all four bands")],
        "doc_id long, text string",
    )
    assert _fused_equals_chain(docs, 0.6) == [(1, 2, 5, 1.0)]


def test_fused_pairs_reject_duplicate_doc_id(spark):
    docs = spark.createDataFrame(
        [(7, "one text under a repeated id"), (7, "one text under a repeated id")],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="doc_id 7 occurs twice"):
        DD.near_dup_pairs_pipeline(docs, 0.6).collect()


def test_near_dup_curation_write_runs_at_most_8_jobs(spark, corpus_docs, tmp_path):
    """Building and writing one near-dup curation runs at most 8 Spark jobs."""
    import uuid

    from document_extraction_spark.plans.curation import curate_documents

    sc = spark.sparkContext
    gid = f"curate-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "curate")
    try:
        out = curate_documents(corpus_docs, near_dup_threshold=0.6)
        out.write.parquet(str(tmp_path / "curated"))
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(gid)
    assert 0 < len(jobs) <= 8
