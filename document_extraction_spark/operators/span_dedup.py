"""Duplicate-span removal: corpus-wide exact substring dedup.

Implements the "remove every duplicated span" pass popularized for LLM
training corpora by Lee et al. 2022 (*Deduplicating Training Data Makes
Language Models Better*): any token window of ``width`` tokens whose exact
content occurs ``min_occurrences``-or-more times anywhere in the corpus
(including within the same document — boilerplate repetition) is a
duplicated span; every occurrence's token positions are marked covered,
overlapping marks merge into maximal spans, and the cleaned document is the
original token stream with covered positions dropped.

Lee et al. build a corpus-wide suffix array to find *all* duplicate
substrings of length >= threshold. On a distributed engine the equivalent
is the fixed-width-gram formulation used here: a substring of >= width
tokens is duplicated iff all of its width-grams are duplicated, so marking
every duplicated width-gram's window covers exactly the union of maximal
duplicate substrings of length >= width (no suffix array, no global sort —
one hash aggregation). Single pass, like the reference algorithm: removal
can create new adjacencies that form fresh duplicates; run to fixpoint if
that matters.

Scale design (100 TB corpus):

* gram hashing is map-only (md5 of the gram text — engine-portable for the
  DuckDB oracle; xxhash64 is the drop-in at production scale).
* the duplicated-gram set is one hash-groupBy on the 32-byte gram hash with
  map-side partial counts; the shuffle carries (hash, count), never text.
* occurrences rejoin the dup-gram set with a **left-semi join on the gram
  hash** — AQE broadcasts it when the dup set is small (boilerplate-light
  corpora) and falls back to a shuffled semi-join otherwise; hot grams
  (site-wide boilerplate) are exactly the rows the dup set keeps, so the
  semi-join key distribution mirrors the corpus and AQE skew-split applies.
* covered positions are (doc_id, int) pairs — ``width`` rows per duplicated
  occurrence, deduplicated map-side before the per-doc merge.
* text reconstruction (r7): covered positions roll up ONCE per doc
  (collect_list — the only shuffle the covered stream pays, sized by
  duplicated positions, not corpus tokens), join back to the token arrays,
  and one Arrow kernel emits stats + clean text per doc.  The pre-r7 tail
  (per-doc lag window + |tokens|-row posexplode + (doc, position) anti-join
  + |kept-tokens|-row sorted collect) ran three full-token-stream shuffles
  for the same answer.

Oracle: every step is relational (group, semi-join, window, ordered
string_agg) and replicated verbatim in DuckDB SQL in ``__spark_entry__``
— the engine computes the identical integers/strings through the rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from document_extraction_spark.operators.dedup import _tokens_df

SPAN_WIDTH = 8
MIN_OCCURRENCES = 2


def _gram_occurrences(base: DataFrame, width: int) -> DataFrame:
    """(doc_id, p, ghash) — one row per width-gram start position p
    (1-based). Docs shorter than ``width`` emit nothing: they cannot
    contain a duplicated span of >= width tokens.

    r7 Arrow kernel (guide §4.2): the per-position
    md5(array_join(slice(...))) chain ran as interpreted HOF expressions;
    the kernel hashes each gram with hashlib over the already-tokenized
    array, memoizing repeated grams per task (boilerplate repeats are the
    whole point of this operator).  Same rows — md5 of the identical
    space-joined gram text — pinned vs the HOF twin in
    tests/test_dedup_kernels.py."""
    id_type = base.schema["doc_id"].dataType
    schema = T.StructType([
        T.StructField("doc_id", id_type),
        T.StructField("p", T.IntegerType()),
        T.StructField("ghash", T.StringType()),
    ])

    def kernel(batches):
        import hashlib

        import pandas as pd

        memo: dict[str, str] = {}
        for pdf in batches:
            ids: list = []
            ps: list[int] = []
            hs: list[str] = []
            for doc_id, tk in zip(pdf["doc_id"], pdf["_tk"]):
                n = len(tk)
                if n < width:
                    continue
                toks = list(tk)
                for p in range(1, n - width + 2):
                    g = " ".join(toks[p - 1 : p - 1 + width])
                    h = memo.get(g)
                    if h is None:
                        h = hashlib.md5(g.encode("utf-8")).hexdigest()
                        if len(memo) >= 2_000_000:
                            memo.clear()
                        memo[g] = h
                    ids.append(doc_id)
                    ps.append(p)
                    hs.append(h)
            if ids:
                yield pd.DataFrame({"doc_id": ids, "p": ps, "ghash": hs})

    return base.select("doc_id", "_tk").mapInPandas(kernel, schema=schema)


def duplicate_spans(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                    width: int = SPAN_WIDTH,
                    min_occurrences: int = MIN_OCCURRENCES,
                    materialize_covered: bool = True) -> DataFrame:
    """Corpus-wide duplicate-span removal.

    Returns one row per non-empty document:
    (doc_id, n_tokens, dup_token_count, dup_span_count, clean_text)
    where dup_span_count counts *maximal merged* spans, dup_token_count the
    covered token positions, and clean_text the whitespace-rejoin of the
    uncovered tokens (lowercased, whitespace-normalized — the same token
    stream every dedup operator here works on). Fully-duplicated docs get
    clean_text = ''.
    """
    # r7 lineage cuts (guide §5): `base` feeds three branches (occ, the
    # token-position reconstruction, and the final n_tokens select) and
    # `occ` feeds two (the dup-gram aggregate and the hits semi-join) —
    # without materialization the tokenizer ran ~3x and the gram hashing
    # 2x (no CSE across DataFrame branches).
    base = _tokens_df(df, id_col, text_col).localCheckpoint(eager=False)
    occ = _gram_occurrences(base, width).localCheckpoint(eager=False)

    dup = (
        occ.groupBy("ghash")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_occurrences)
        .select("ghash")
    )

    hits = occ.join(dup, "ghash", "leftsemi").select("doc_id", "p")

    covered = (
        hits.select(
            "doc_id",
            F.explode(F.sequence(F.col("p"), F.col("p") + (width - 1))).alias("cp"),
        )
        .distinct()
    )
    # r7 tail restructure (guide §2.3/§2.4): the old tail ran a per-doc
    # window over `covered` (one shuffle), a |tokens|-row posexplode, a
    # (doc, position)-keyed ANTI join, and a |kept-tokens|-row
    # collect_list groupBy — three full-token-stream shuffles to rebuild
    # text the token arrays in `base` already hold.  Now `covered` rolls
    # up ONCE per doc (collect_list over the distinct positions — the
    # only remaining covered shuffle), joins back to the token arrays,
    # and ONE Arrow kernel derives stats + clean text per doc: the merged
    # span count is the run count of the sorted positions (identical to
    # the lag-window formulation), clean_text the in-order join of
    # uncovered tokens (identical to the sort-by-position collect).
    stats_clean = covered.groupBy("doc_id").agg(
        F.collect_list("cp").alias("_cps")
    )
    joined = base.join(stats_clean, "doc_id", "left")
    id_type = base.schema["doc_id"].dataType
    out_schema = T.StructType([
        T.StructField("doc_id", id_type),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("dup_token_count", T.LongType()),
        T.StructField("dup_span_count", T.LongType()),
        T.StructField("clean_text", T.StringType()),
    ])

    def tail_kernel(batches):
        import pandas as pd

        for pdf in batches:
            ids: list = []
            ntok: list[int] = []
            dtc: list[int] = []
            dsc: list[int] = []
            clean: list[str] = []
            for doc_id, tk, cps in zip(pdf["doc_id"], pdf["_tk"], pdf["_cps"]):
                toks = list(tk)
                if cps is None or len(cps) == 0:
                    ids.append(doc_id)
                    ntok.append(len(toks))
                    dtc.append(0)
                    dsc.append(0)
                    clean.append(" ".join(toks))
                    continue
                pos = sorted(int(p) for p in cps)
                spans = 1 + sum(
                    1 for a, b in zip(pos, pos[1:]) if b - a > 1
                )
                cset = set(pos)
                ids.append(doc_id)
                ntok.append(len(toks))
                dtc.append(len(pos))
                dsc.append(spans)
                clean.append(
                    " ".join(t for i, t in enumerate(toks, 1) if i not in cset)
                )
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": ids,
                        "n_tokens": ntok,
                        "dup_token_count": dtc,
                        "dup_span_count": dsc,
                        "clean_text": clean,
                    }
                )

    return joined.select("doc_id", "_tk", "_cps").mapInPandas(
        tail_kernel, schema=out_schema
    )
