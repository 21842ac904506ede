"""r7 optimization round: the Arrow/numpy kernels that replaced interpreted
HOF expression chains are pinned ROW-EQUAL to their pure-Column twins
(tests/dedup_hof.py), the mining kernel BIT-EQUAL to the HOF cosine.  Every
pair runs over the sf0.001 tables plus adversarial edge rows (NULL text,
trim-empty text, sub-width docs, Unicode whitespace where Java \\s and
Python \\s diverge).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

EDGE_ROWS = [
    (9001, None),
    (9002, ""),
    (9003, "   "),
    (9004, "\t\n"),  # Java trim keeps, \s+ tokenizes to nothing
    (9005, "one"),
    (9006, "one two"),
    (9007, "The quick brown fox"),  # NBSP: NOT Java \s
    (9008, "a  b\tc\nd\x0be\ff\rg"),  # every Java \s char
    (9009, "UPPER lower MiXeD case words here"),
    (9010, "dup dup dup dup dup dup"),
]


@pytest.fixture(scope="module")
def docs(spark, testdata_dir):
    base = spark.read.parquet(f"{testdata_dir}/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    edge = spark.createDataFrame(EDGE_ROWS, "doc_id long, text string")
    return base.unionByName(edge)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_minhash_kernel_equals_hof(docs):
    from dedup_hof import minhash_signatures_hof
    from document_extraction_spark.operators import dedup as DD

    assert _rows(DD.minhash_signatures(docs)) == _rows(
        minhash_signatures_hof(docs)
    )


def test_shingles_kernel_equals_hof(docs):
    from dedup_hof import shingles_hof
    from document_extraction_spark.operators import dedup as DD

    assert _rows(DD.shingles(docs)) == _rows(shingles_hof(docs))


def test_doc_grams_kernel_equals_hof(docs):
    from dedup_hof import doc_grams_hof
    from document_extraction_spark.operators import decontaminate as DC

    for n in (2, 3):
        assert _rows(DC._doc_grams(docs, n, "doc_id", "text")) == _rows(
            doc_grams_hof(docs, n, "doc_id", "text")
        )


def test_bpe_encode_kernel_equals_expr(docs):
    from dedup_hof import bpe_encode_expr
    from document_extraction_spark.operators.bpe import bpe_encode, bpe_train

    merges, _ = bpe_train(docs, rounds=4)
    assert merges
    assert _rows(bpe_encode(docs, merges)) == _rows(bpe_encode_expr(docs, merges))


def test_bucket_partials_raw_bit_exact_to_hof_cosine(spark, testdata_dir):
    """The mining bucket kernel's per-dimension loop must match the HOF
    cosine BIT-FOR-BIT (not just to rounding): the mutual argmax ranks on
    the raw double.  One bucket per (i, i+1) pair, so each left partial
    carries exactly that pair's raw."""
    from document_extraction_spark.operators.mining import _bucket_mutual_partials
    from document_extraction_spark.operators.similarity import cosine

    emb = spark.read.parquet(f"{testdata_dir}/sf0.001/embeddings.parquet")
    lb = emb.select(
        F.col("vec_id").alias("left_id"),
        F.col("embedding").alias("lvec"),
        F.col("vec_id").cast("string").alias("bucket"),
    )
    rb = emb.select(
        F.col("vec_id").alias("right_id"),
        F.col("embedding").alias("rvec"),
        (F.col("vec_id") - 1).cast("string").alias("bucket"),
    )
    hof = {
        r["left_id"]: r["c"]
        for r in lb.join(rb, "bucket")
        .select("left_id", cosine(F.col("lvec"), F.col("rvec")).alias("c"))
        .collect()
    }
    kernel = {
        r["id"]: r["_raw"]
        for r in _bucket_mutual_partials(lb, rb).where("_side = 0").collect()
    }
    assert hof and kernel == hof


def test_dsir_kernel_counts_equal_hof(docs):
    """The per-doc bucket-count kernel vs the original explode+HOF chain."""
    from document_extraction_spark.operators import dsir as DS
    from document_extraction_spark.functions import textstats as TS

    toks = TS.tokens(F.lower(F.col("text")))
    hof = (
        docs.where(F.col("text").isNotNull())
        .select(F.col("doc_id"), F.explode(TS.word_ngrams(toks, 2)).alias("g"))
        .select("doc_id", DS._bucket(F.col("g")).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("k"))
    )
    # reuse the production kernel through dsir_log_weights' building block:
    # score docs against themselves and compare the doc_buckets feed by
    # reconstructing it via the module-level helper
    memo: dict = {}
    expected = {}
    for row in docs.collect():
        c = DS._py_bucket_counts(row["text"], memo)
        if c:
            for b, k in c.items():
                expected[(row["doc_id"], b)] = k
    got = {(r["doc_id"], r["bucket"]): r["k"] for r in hof.collect()}
    assert got == expected


def test_span_gram_occurrences_kernel_equals_hof(docs):
    from dedup_hof import gram_occurrences_hof
    from document_extraction_spark.operators import span_dedup as SPD
    from document_extraction_spark.operators.dedup import _tokens_df

    base = _tokens_df(docs, "doc_id", "text")
    assert _rows(SPD._gram_occurrences(base, SPD.SPAN_WIDTH)) == _rows(
        gram_occurrences_hof(base, SPD.SPAN_WIDTH)
    )


def test_token_count_regexp_equals_hof_split(docs):
    """regexp_count(\\S+) must equal the old size(filter(split)) form on
    the corpus plus the whitespace edge rows."""
    from document_extraction_spark.functions import textstats as TS

    got = docs.select(
        "doc_id",
        TS.token_count(F.col("text")).alias("a"),
        F.size(TS.tokens(F.col("text"))).cast("long").alias("b"),
    ).collect()
    assert got and all(r["a"] == r["b"] for r in got)


def test_py_tokens_equal_spark_tokens_on_whitespace_and_case_edges(spark):
    """textstats.py_tokens, the tokenizer of every Python kernel, must equal
    the JVM tokens(lower(col)) on each ASCII control char and space, the
    Unicode spaces Python's \\s would match but Java's does not, and the
    lowercasings that are not one char to one char (İ, word-final Σ)."""
    from document_extraction_spark.functions.textstats import py_tokens, tokens

    chars = [chr(c) for c in range(0x21)] + [
        "\x85", "\xa0", "\u1680", *map(chr, range(0x2000, 0x200B)),
        "\u2028", "\u2029", "\u202f", "\u205f", "\u3000", "\u0130",
    ]
    texts = [f"aA{c}Bb" for c in chars] + [
        "".join(chars), f"x {''.join(chars)}y", "İstanbul ΟΔΟΣ ΣΑΣ. Σ",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, t string")
    got = {r["i"]: list(r["k"]) for r in
           df.select("i", tokens(F.lower("t")).alias("k")).collect()}
    assert {i: py_tokens(t) for i, t in enumerate(texts)} == got


def test_myers_distances_match_spark_levenshtein(spark):
    """The vectorized Myers kernel must equal F.levenshtein exactly on
    adversarial strings: random ASCII, Unicode (incl. surrogates-adjacent
    BMP chars and NUL), empty/short strings, near-identical pairs."""
    import random

    from document_extraction_spark.operators.fuzzy import _myers_distances

    rng = random.Random(42)
    alpha = "ab cdeé世\x00xyz0123"
    cases = [("", ""), ("", "abc"), ("abc", ""), ("a", "a"), ("a", "b")]
    for _ in range(400):
        la = rng.randint(0, 60)
        lb = rng.randint(0, 60)
        cases.append(
            (
                "".join(rng.choice(alpha) for _ in range(la)),
                "".join(rng.choice(alpha) for _ in range(lb)),
            )
        )
    # near-identical pairs (the regime the operator keeps)
    for _ in range(100):
        s = "".join(rng.choice(alpha) for _ in range(rng.randint(10, 60)))
        t = list(s)
        for _ in range(rng.randint(0, 3)):
            pos = rng.randrange(len(t))
            t[pos] = rng.choice(alpha)
        cases.append((s, "".join(t)))
    df = spark.createDataFrame(cases, "a string, b string")
    expected = [
        r["d"] for r in df.select(F.levenshtein("a", "b").alias("d")).collect()
    ]
    got = _myers_distances([c[0] for c in cases], [c[1] for c in cases], 60)
    assert list(got) == expected


def test_fuzzy_blocked_pairs_edge_rows(spark, docs):
    """The kernelized blocking base must drop blank/whitespace-only docs
    (ADVICE r4) and still pair near-identical prefixes."""
    from document_extraction_spark.operators.fuzzy import blocked_levenshtein_pairs

    extra = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma deltaX")],
        "doc_id long, text string",
    )
    out = blocked_levenshtein_pairs(docs.unionByName(extra), max_distance=5)
    got = {(r["doc_a"], r["doc_b"]): r["dist"] for r in out.collect()}
    assert got[(1, 2)] == 1
    flat = {i for ab in got for i in ab}
    assert not ({9001, 9002, 9003, 9004} & flat)


def test_lm_doc_trigram_counts_equal_hof(docs):
    from document_extraction_spark.operators import lm_score as LM

    dk = LM._doc_trigram_counts(docs, "text", LM.MAX_CHARS)
    hof = (
        LM._trigrams(LM._normed(docs, "text", LM.MAX_CHARS))
        .groupBy("doc_id", "tg")
        .agg(F.count("*").alias("k"))
    )
    assert _rows(dk) == _rows(hof)
