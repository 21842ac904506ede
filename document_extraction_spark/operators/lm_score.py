"""Character n-gram language-model quality scoring (CCNet / KenLM-style):
train a char-trigram model ON the corpus itself, then score every document by
its bits-per-trigram under that model. Gibberish, boilerplate-mangled, and
wrong-language text all sit in the high-surprisal tail, which is exactly the
tail a training-data pipeline cuts (Wenzek et al. 2020 filter CommonCrawl by
LM perplexity the same way — here the LM is self-trained so no external model
ships with the job).

Distributed shape (three shuffles, all bounded):
- trigram tokens are generated MAP-SIDE (transform over a sequence — pure
  codegen, no Python) from a capped prefix of each document; the cap both
  bounds skew from monster documents and sidesteps the quadratic
  char-indexed-substr trap pinned in PLANS.md rule 7;
- the model is two groupBy counts whose key spaces are bounded by the
  alphabet (<= 27^3 trigrams, <= 27^2 contexts) REGARDLESS of corpus size —
  at 100 TB the model tables are still a few thousand rows, broadcast to
  every probe;
- per-doc scoring joins (doc_id, trigram, k) against the broadcast model and
  reduces with one exact-decimal sum per doc.

Determinism / oracle story: probabilities are rationals
p = (c3+1)/(c2+|A|) (add-one smoothing, |A| = 27 for [a-z ]); the query
emits (a) ``sum_p_micro`` — an INTEGER-exact floor-scaled probability mass
(BIGINT floor division, engine-exact like operators/graphrank.py) and (b)
``avg_bits`` — true bits-per-trigram where each term is round(log2(p), 5)
summed as DECIMAL (exact, order-independent). The only cross-engine risk is
a log2 landing within ~1 ulp of a 1e-5 rounding boundary (StrictMath vs
libm), ~5e-10 per distinct model cell — the same accepted residual class as
the A-ES rounded rank key (ADVICE r4).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ALPHABET = 27  # a-z + space after normalization
MAX_CHARS = 2000  # score the document prefix; bounds per-row work and skew

_NON_AZ = re.compile("[^a-z ]")
_MULTI_SPACE = re.compile(" +")


def _py_norm(text: str | None, max_chars: int) -> str | None:
    """Python twin of :func:`_normed`'s normalization chain: lowercase,
    non-[a-z ] -> space, space runs collapsed, trimmed (SQL trim strips
    ' ' only), capped at ``max_chars``; None for rows the Spark path
    filters (NULL text / normalized length < 3)."""
    if text is None:
        return None
    norm = _MULTI_SPACE.sub(" ", _NON_AZ.sub(" ", text.lower())).strip(" ")
    norm = norm[:max_chars]
    return norm if len(norm) >= 3 else None


def _doc_trigram_counts(docs: DataFrame, text_col: str,
                        max_chars: int) -> DataFrame:
    """(doc_id, tg, k): exact per-document trigram counts in ONE pass — an
    Arrow kernel running the normalization + trigram Counter in Python
    (guide §4.2).  A document's row lives wholly inside one Arrow batch, so
    the kernel output already IS the groupBy(doc_id, tg) result: the
    |trigram-instances| explode (15M rows at sf1.0) and its shuffle never
    exist.  Counts are exact integers, so every downstream aggregate
    (corpus model re-derivation included) is unchanged."""
    id_type = docs.schema["doc_id"].dataType
    schema = T.StructType([
        T.StructField("doc_id", id_type),
        T.StructField("tg", T.StringType()),
        T.StructField("k", T.LongType()),
    ])

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            ids: list = []
            tgs: list[str] = []
            ks: list[int] = []
            for doc_id, text in zip(pdf["_id"], pdf["_txt"]):
                norm = _py_norm(text, max_chars)
                if norm is None:
                    continue
                counts: dict[str, int] = {}
                for i in range(len(norm) - 2):
                    t = norm[i : i + 3]
                    counts[t] = counts.get(t, 0) + 1
                for t, k in counts.items():
                    ids.append(doc_id)
                    tgs.append(t)
                    ks.append(k)
            if ids:
                yield pd.DataFrame({"doc_id": ids, "tg": tgs, "k": ks})

    return docs.select(
        F.col("doc_id").alias("_id"), F.col(text_col).alias("_txt")
    ).mapInPandas(kernel, schema=schema)


def _normed(df: DataFrame, text_col: str, max_chars: int) -> DataFrame:
    """doc_id + normalized scoring prefix: lowercase, non-[a-z ] -> space,
    runs of spaces collapsed, trimmed, capped at max_chars."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z ]", " "), " +", " "
        )
    )
    return (
        df.where(F.col(text_col).isNotNull())
        .select("doc_id", F.substring(norm, 1, max_chars).alias("norm"))
        .where(F.length("norm") >= 3)
    )


def _trigrams(df: DataFrame) -> DataFrame:
    """(doc_id, tg) trigram tokens — map-only codegen (sequence+transform),
    no Python, no shuffle."""
    return df.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, length(norm) - 2), i -> substring(norm, i, 3))")
        ).alias("tg"),
    )


def trigram_model(docs: DataFrame, text_col: str = "text",
                  max_chars: int = MAX_CHARS) -> tuple[DataFrame, DataFrame]:
    """Corpus model: (trigram counts c3, context counts c2). Both key spaces
    are alphabet-bounded, so the count shuffle produces tiny, broadcastable
    tables at any corpus size.  r7: ONE normalization+count pass — the
    Arrow kernel emits per-batch (tg, k) partials (<= 27^3 rows each,
    guide §2.3 aggregate-before-shuffle), c3 sums them, and c2 is derived
    from the materialized c3 (sum per 2-char context == the instance count
    the old second pass computed)."""
    schema = T.StructType([
        T.StructField("tg", T.StringType()),
        T.StructField("k", T.LongType()),
    ])

    def kernel(batches):
        import pandas as pd

        agg: dict[str, int] = {}
        for pdf in batches:
            for text in pdf["_txt"]:
                norm = _py_norm(text, max_chars)
                if norm is None:
                    continue
                for i in range(len(norm) - 2):
                    t = norm[i : i + 3]
                    agg[t] = agg.get(t, 0) + 1
        if agg:
            yield pd.DataFrame({"tg": list(agg.keys()), "k": list(agg.values())})

    part = docs.select(F.col(text_col).alias("_txt")).mapInPandas(
        kernel, schema=schema
    )
    c3 = (
        part.groupBy("tg")
        .agg(F.sum("k").alias("c3"))
        .localCheckpoint(eager=False)
    )
    c2 = (
        c3.select(F.substring("tg", 1, 2).alias("ctx"), "c3")
        .groupBy("ctx")
        .agg(F.sum("c3").alias("c2"))
    )
    return c3, c2


def lm_score(docs: DataFrame, text_col: str = "text",
             max_chars: int = MAX_CHARS) -> DataFrame:
    """Per-document LM quality score under the corpus-trained trigram model:
    (doc_id, n_tg, sum_p_micro, avg_bits) — avg_bits is bits-per-trigram
    (lower = more predictable = more natural text), sum_p_micro the
    integer-exact scaled probability mass (higher = more predictable).
    """
    # r7 two-pass restructure (guide §1.2 step 1 + §8: decide with small
    # rows).  Pass 1 trains the model: per-batch trigram count PARTIALS
    # from the Arrow kernel -> one groupBy whose key space is alphabet-
    # bounded (<= 27^3 rows at ANY corpus size); c2 is re-derived from c3
    # (sum per 2-char context — exactly the instance counts the separate
    # c2 pass produced).  The per-cell p_micro / bits terms are computed
    # IN THE JVM on that tiny frame — the identical expressions as before,
    # so log2 + round(.,5) + decimal cast are bit-for-bit the old cells —
    # and the <= 27^3-row model is collected (a bounded driver aggregate,
    # the BPE best-pair class) into the pass-2 closure.  Pass 2 scores
    # every document inside the kernel: integer sums and exact
    # decimal.Decimal k x bits accumulation per doc (the same order-free
    # exact sums the old groupBy computed), final division + round(.,4)
    # left in the JVM.  The old plan's per-doc (doc, tg, k) table (12.5M
    # rows at sf1.0), its two broadcast joins, and the final groupBy(doc)
    # shuffle all disappear; the corpus is read twice but each pass is
    # map-only.
    c3, c2 = trigram_model(docs, text_col, max_chars)
    cells = (
        c3.withColumn("ctx", F.substring("tg", 1, 2))
        .join(F.broadcast(c2), "ctx")
        .select(
            "tg",
            F.expr(f"(1000000 * (c3 + 1)) div (c2 + {ALPHABET})").alias("p_micro"),
            F.round(
                F.log2((F.col("c3") + 1).cast("double") / (F.col("c2") + ALPHABET)), 5
            ).cast("decimal(18,5)").alias("bits"),
        )
    )
    # bits cells ride the closure as SCALED INTEGERS (bits x 10^5 — exact:
    # bits is decimal(18,5)): plain ints pickle/unpickle orders of
    # magnitude faster than 27^3 Decimal objects per task, and the per-doc
    # accumulation becomes exact Python bigint arithmetic; the decimal
    # string is reconstructed once per doc at emit time
    model = {
        r["tg"]: (r["p_micro"], int(r["bits"].scaleb(5)))
        for r in cells.collect()
    }
    id_type = docs.schema["doc_id"].dataType
    schema = T.StructType([
        T.StructField("doc_id", id_type),
        T.StructField("n_tg", T.LongType()),
        T.StructField("sum_p_micro", T.LongType()),
        T.StructField("_kb", T.StringType()),
    ])

    def score_kernel(batches):
        from decimal import Decimal

        import pandas as pd

        for pdf in batches:
            ids: list = []
            ntgs: list[int] = []
            spms: list[int] = []
            kbs: list[str] = []
            for doc_id, text in zip(pdf["_id"], pdf["_txt"]):
                norm = _py_norm(text, max_chars)
                if norm is None:
                    continue
                counts: dict[str, int] = {}
                for i in range(len(norm) - 2):
                    t = norm[i : i + 3]
                    counts[t] = counts.get(t, 0) + 1
                spm = 0
                kb = 0
                n_tg = 0
                for t, k in counts.items():
                    pm, bits = model[t]
                    n_tg += k
                    spm += k * pm
                    kb += k * bits
                ids.append(doc_id)
                ntgs.append(n_tg)
                spms.append(spm)
                kbs.append(str(Decimal(kb).scaleb(-5)))
            if ids:
                yield pd.DataFrame(
                    {"doc_id": ids, "n_tg": ntgs, "sum_p_micro": spms, "_kb": kbs}
                )

    scored = docs.select(
        F.col("doc_id").alias("_id"), F.col(text_col).alias("_txt")
    ).mapInPandas(score_kernel, schema=schema)
    return scored.select(
        "doc_id",
        "n_tg",
        "sum_p_micro",
        (
            F.round(
                -F.col("_kb").cast("decimal(38,5)").cast("double")
                / F.col("n_tg").cast("double"),
                4,
            )
            + F.lit(0.0)
        ).alias("avg_bits"),
    )
