"""Unit tests for the round-3 curation operators: benchmark decontamination,
Gopher-style repetition signals, inverted index / BM25 search, and URL
canonicalization."""

from __future__ import annotations

import json
import math

from pyspark.sql import functions as F

from document_extraction_spark.functions.textstats import canonical_url
from document_extraction_spark.operators.decontaminate import (
    contaminated_ngram_counts,
    decontaminate,
)
from document_extraction_spark.operators.quality_signals import repetition_signals
from document_extraction_spark.operators.search import bm25_topk, inverted_index


def test_contaminated_ngram_counts(spark):
    corpus = spark.createDataFrame(
        [
            (0, "a x y z b"),        # shares trigram "x y z"
            (1, "p q r s t"),        # clean
            (2, "x y z x y z"),      # shared gram repeated -> still counted once
            (3, "x y"),              # shorter than n -> no grams, clean
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(100, "x y z w")], ["doc_id", "text"])
    got = {
        r["doc_id"]: r["n_shared"]
        for r in contaminated_ngram_counts(corpus, bench, n=3).collect()
    }
    assert got == {0: 1, 2: 1}


def test_decontaminate_drops_flagged(spark):
    corpus = spark.createDataFrame(
        [(0, "a x y z b"), (1, "p q r s t")], ["doc_id", "text"]
    )
    bench = spark.createDataFrame([(100, "x y z w")], ["doc_id", "text"])
    kept = [r["doc_id"] for r in decontaminate(corpus, bench, n=3).collect()]
    assert kept == [1]


def test_contamination_case_insensitive(spark):
    corpus = spark.createDataFrame([(0, "A X Y Z")], ["doc_id", "text"])
    bench = spark.createDataFrame([(100, "x y z")], ["doc_id", "text"])
    assert contaminated_ngram_counts(corpus, bench, n=3).count() == 1


def test_repetition_signals_golden(spark):
    docs = spark.createDataFrame(
        [(0, "a a a b"), (1, "a b"), (2, "c")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    r0 = got[0]
    assert r0["n_words"] == 4
    assert r0["dup_word_frac"] == 0.5                 # (4 - 2) / 4
    assert r0["top2gram_frac"] == round(2 / 3, 4)     # "a a" twice of 3 bigrams
    assert r0["top3gram_frac"] == 0.5                 # "a a a" once of 2 trigrams
    r1 = got[1]
    assert r1["dup_word_frac"] == 0.0
    assert r1["top2gram_frac"] == 1.0                 # single bigram
    assert r1["top3gram_frac"] == 0.0                 # too short
    assert got[2]["top2gram_frac"] == 0.0


def test_inverted_index_postings(spark):
    docs = spark.createDataFrame(
        [(2, "b a"), (0, "a a"), (1, "a c")], ["doc_id", "text"]
    )
    got = {r["term"]: r for r in inverted_index(docs).collect()}
    assert got["a"]["df"] == 3
    assert json.loads(got["a"]["postings_json"]) == [0, 1, 2]  # sorted, deduped
    assert json.loads(got["b"]["postings_json"]) == [2]
    # cap: df keeps the exact count, postings truncate
    capped = {r["term"]: r for r in inverted_index(docs, max_postings=2).collect()}
    assert capped["a"]["df"] == 3
    assert json.loads(capped["a"]["postings_json"]) == [0, 1]


def test_bm25_golden(spark):
    docs = spark.createDataFrame(
        [
            (0, "apple banana apple"),
            (1, "banana cherry"),
            (2, "cherry cherry cherry durian"),
        ],
        ["doc_id", "text"],
    )
    rows = bm25_topk(docs, ["apple", "cherry"], k=10).collect()
    got = {r["doc_id"]: r["score"] for r in rows}

    def idf(df):
        return math.log(1 + (3 - df + 0.5) / (df + 0.5))

    def ts(tf, dl, df, k1=1.2, b=0.75, avgdl=3.0):
        return idf(df) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert got[0] == round(ts(2, 3, 1), 4)            # apple only
    assert got[1] == round(ts(1, 2, 2), 4)            # cherry only
    assert got[2] == round(ts(3, 4, 2), 4)            # cherry only
    # ranking is rounded-score desc then doc_id asc
    assert [r["doc_id"] for r in rows] == sorted(
        got, key=lambda d: (-got[d], d)
    )


def test_bm25_query_casefold_and_k(spark):
    docs = spark.createDataFrame([(0, "Apple"), (1, "pear")], ["doc_id", "text"])
    rows = bm25_topk(docs, ["APPLE"], k=1).collect()
    assert [r["doc_id"] for r in rows] == [0]


def test_boilerplate_span_stats(spark):
    from document_extraction_spark.operators.quality_signals import (
        boilerplate_span_stats,
    )

    docs = spark.createDataFrame(
        [
            (0, "x y z a"),                # spans: "x y z"(shared), "y z a"
            (1, "b x y z"),                # spans: "b x y", "x y z"(shared)
            (2, "p q r s"),                # clean
            (3, "x y z x y z x y z"),      # "x y z" 3x; "y z x"/"z x y" df=1
            (4, "m n"),                    # too short: zero spans
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r
        for r in boilerplate_span_stats(docs, n=3, min_df=2).collect()
    }
    assert (got[0]["n_spans"], got[0]["n_boilerplate"]) == (2, 1)
    assert got[0]["boilerplate_frac"] == 0.5
    assert (got[1]["n_spans"], got[1]["n_boilerplate"]) == (2, 1)
    assert (got[2]["n_spans"], got[2]["n_boilerplate"]) == (2, 0)
    # instances counted, but only grams shared across >=2 DOCS flag
    assert (got[3]["n_spans"], got[3]["n_boilerplate"]) == (7, 3)
    assert (got[4]["n_spans"], got[4]["n_boilerplate"]) == (0, 0)
    assert got[4]["boilerplate_frac"] == 0.0


def test_sample_to_token_budget(spark):
    from document_extraction_spark.operators.mixing import (
        mixture_summary,
        sample_to_token_budget,
    )

    docs = spark.createDataFrame(
        [(i, "w " * 10, "a") for i in range(40)]
        + [(100 + i, "w " * 10, "b") for i in range(5)],
        ["doc_id", "text", "source"],
    )
    # a: 400 tokens total, budget 100 -> frac 0.25; b: no budget -> whole
    out = sample_to_token_budget(docs, {"a": 100}).collect()
    kept_a = [r["doc_id"] for r in out if r["source"] == "a"]
    kept_b = [r["doc_id"] for r in out if r["source"] == "b"]
    assert sorted(kept_b) == [100, 101, 102, 103, 104]
    assert 0 < len(kept_a) < 40
    # deterministic: identical draw on re-run
    out2 = sample_to_token_budget(docs, {"a": 100}).collect()
    assert sorted(r["doc_id"] for r in out2) == sorted(r["doc_id"] for r in out)
    # budget >= total keeps everything (frac-1 short-circuit, no lpad trap)
    assert len(sample_to_token_budget(docs, {"a": 10_000}).collect()) == 45
    summ = {
        r["source"]: r for r in mixture_summary(
            sample_to_token_budget(docs, {"a": 100})
        ).collect()
    }
    assert summ["a"]["tokens_kept"] == 10 * len(kept_a)
    assert summ["b"]["n_docs"] == 5


def test_resample_with_gaps(spark):
    import datetime

    from document_extraction_spark.operators.timeseries import resample_with_gaps

    t0 = datetime.datetime(2026, 1, 1, 0, 10)

    def at(**kw):
        return t0 + datetime.timedelta(**kw)

    df = spark.createDataFrame(
        [
            ("u1", t0, 5.0),
            ("u1", at(minutes=20), 3.0),
            ("u1", at(hours=3), 2.0),   # hours 1 and 2 are gaps
            ("u2", t0, 1.0),
        ],
        "key string, ts timestamp, v double",
    )
    out = resample_with_gaps(df, "key", "ts", "v", "1 hour")
    rows = sorted(out.collect(), key=lambda r: (r["key"], r["bucket"]))
    u1 = [(r["n_events"], r["sum_value"]) for r in rows if r["key"] == "u1"]
    assert u1 == [(2, 8.0), (0, 0.0), (0, 0.0), (1, 2.0)]
    u2 = [(r["n_events"], r["sum_value"]) for r in rows if r["key"] == "u2"]
    assert u2 == [(1, 1.0)]
    # span cap drops oversized keys explicitly
    capped = resample_with_gaps(df, "key", "ts", "v", "1 hour", max_buckets=3)
    assert {r["key"] for r in capped.collect()} == {"u2"}


def test_resample_multi_unit_step_loses_nothing(spark):
    """ADVICE r3 (medium): with date_trunc binning, a multi-unit step dropped
    every event whose single-unit bucket fell between grid points. Epoch-
    aligned binning must conserve the event count and value sum exactly."""
    import datetime

    import pytest

    from document_extraction_spark.operators.timeseries import resample_with_gaps

    t0 = datetime.datetime(2026, 1, 1, 0, 0)
    events = [
        # one event per hour for 7 hours: under "2 hours", odd-hour events
        # land mid-grid and were the lost rows before the fix
        ("u1", t0 + datetime.timedelta(hours=h, minutes=10), float(h + 1))
        for h in range(7)
    ] + [("u2", t0 + datetime.timedelta(minutes=47), 4.5)]
    df = spark.createDataFrame(events, "key string, ts timestamp, v double")

    for step, n_grid_u1 in [("2 hours", 4), ("15 minutes", 25), ("90 seconds", 241)]:
        out = resample_with_gaps(df, "key", "ts", "v", step)
        rows = out.collect()
        total_events = sum(r["n_events"] for r in rows)
        total_value = round(sum(r["sum_value"] for r in rows), 2)
        assert total_events == len(events), step
        assert total_value == round(sum(e[2] for e in events), 2), step
        u1 = [r for r in rows if r["key"] == "u1"]
        assert len(u1) == n_grid_u1, step
    # "2 hours" grid is epoch-aligned: buckets sit on even hours
    out2 = resample_with_gaps(df, "key", "ts", "v", "2 hours")
    assert all(
        r["bucket"].hour % 2 == 0 and r["bucket"].minute == 0
        for r in out2.collect()
    )
    # calendar units have no fixed epoch width -> explicit error, not loss
    with pytest.raises(ValueError, match="fixed length"):
        resample_with_gaps(df, "key", "ts", "v", "1 month").collect()
    with pytest.raises(ValueError, match="count"):
        resample_with_gaps(df, "key", "ts", "v", "0 hours").collect()


def test_blocked_levenshtein_pairs(spark):
    from document_extraction_spark.operators.fuzzy import blocked_levenshtein_pairs

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, "alpha beta gamma delte"),      # 1 edit from doc 0
            (2, "alpha beta zzzzzzzzzzzzzzzz"), # same block, far
            (3, "other words entirely here"),   # different block
        ],
        ["doc_id", "text"],
    )
    got = {(r["doc_a"], r["doc_b"]): r["dist"]
           for r in blocked_levenshtein_pairs(docs, max_distance=3).collect()}
    assert got == {(0, 1): 1}
    # distance threshold is inclusive and blocking is a hard boundary
    wide = {(r["doc_a"], r["doc_b"])
            for r in blocked_levenshtein_pairs(docs, max_distance=60).collect()}
    assert (0, 2) in wide and (1, 2) in wide and not any(3 in p for p in wide)
    # oversized blocks drop entirely (head and tail blocks both exceed cap=1)
    capped = blocked_levenshtein_pairs(
        docs.filter(F.col("doc_id").isin(0, 1)), max_distance=60, max_block_size=1
    )
    assert capped.count() == 0


def test_blocked_levenshtein_blank_docs_never_pair(spark):
    """ADVICE r4: blank/whitespace-only docs tokenize to [] and previously
    all collided on the constant 'h:'/'t:' blocks — a quadratic hot block of
    zero-signal pairs (and a Spark/DuckDB NULL-vs-'' divergence). They must
    be excluded from blocking entirely."""
    from document_extraction_spark.operators.fuzzy import blocked_levenshtein_pairs

    docs = spark.createDataFrame(
        [
            (0, ""),
            (1, "   "),
            (2, "\t\n"),
            (3, "real text block here"),
            (4, "real text block hers"),
        ],
        ["doc_id", "text"],
    )
    got = {(r["doc_a"], r["doc_b"])
           for r in blocked_levenshtein_pairs(docs, max_distance=60).collect()}
    assert got == {(3, 4)}  # the blank trio contributes nothing


def test_fuzzy_multikey_blocking_recall(spark):
    """VERDICT r3 ask #4: single-key leading-token blocking is fully
    defeated by a first-token typo. With head+tail union blocking the
    corrupted pair must still surface via its tail block — and a pair
    matching in BOTH blocks must appear exactly once (pre-verify dedup)."""
    from document_extraction_spark.operators.fuzzy import blocked_levenshtein_pairs

    docs = spark.createDataFrame(
        [
            (0, "shipment invoice for acme corp january"),
            (1, "shipmant invoice for acme corp january"),   # FIRST token typo
            (2, "shipment invoice for acme corp januery"),   # LAST token typo
            (3, "totally unrelated text goes right here"),
        ],
        ["doc_id", "text"],
    )
    rows = blocked_levenshtein_pairs(docs, max_distance=3).collect()
    pairs = [(r["doc_a"], r["doc_b"]) for r in rows]
    # no duplicates even though (0,1)/(0,2) can match in one block and
    # (1,2)... each pair exactly once
    assert len(pairs) == len(set(pairs))
    got = dict(((r["doc_a"], r["doc_b"]), r["dist"]) for r in rows)
    assert got.get((0, 1)) == 1  # found via tail block despite corrupted head
    assert got.get((0, 2)) == 1  # found via head block despite corrupted tail
    # the banding limit, stated honestly: (1,2) is corrupted at BOTH ends,
    # so neither block matches and the pair is not a candidate
    assert (1, 2) not in got
    assert not any(3 in p for p in got)


def test_canonical_url(spark):
    cases = {
        "https://www.Example.com/Path/?utm=x#frag": "example.com/path",
        "http://example.com/path/": "example.com/path",
        "example.com/path": "example.com/path",
        "https://sub.example.com//": "sub.example.com",
        "  HTTPS://WWW.A.IO/x  ": "a.io/x",
        "https://wwwx.io/y": "wwwx.io/y",   # only a literal "www." strips
    }
    df = spark.createDataFrame(list(cases.items()), ["raw", "want"])
    for r in df.select("want", canonical_url(F.col("raw")).alias("got")).collect():
        assert r["got"] == r["want"]


def test_blocked_levenshtein_long_prefix_warns(spark):
    """A prefix longer than the 64-char Myers kernel must not fall back to
    the JVM DP silently; the default 60-char prefix stays quiet."""
    import warnings

    import pytest

    from document_extraction_spark.operators.fuzzy import blocked_levenshtein_pairs

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "alpha beta gamma delte")],
        ["doc_id", "text"],
    )
    with pytest.warns(UserWarning, match=r"prefix_chars=80.*levenshtein"):
        slow = blocked_levenshtein_pairs(docs, max_distance=3, prefix_chars=80)
    assert {(r["doc_a"], r["doc_b"]): r["dist"] for r in slow.collect()} == {
        (0, 1): 1
    }
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        blocked_levenshtein_pairs(docs, max_distance=3)
