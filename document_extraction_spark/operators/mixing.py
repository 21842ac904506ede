"""Data-mixture weighting: deterministically downsample each source to a
per-source token budget.

Assembling a training mixture means hitting target token counts per source
(web / code / reference / chat ...), not per-document counts. This operator
computes each source's sampling fraction IN-PLAN from its exact token total
(no driver collect) and applies the same md5-keyed deterministic sampling as
operators/sampling.py, so the mixture is reproducible across re-runs, task
retries, and engines.

Plan shape at 100 TB:

* per-source token totals: one groupBy over (source) — tiny shuffle, exact
  BIGINT sums.
* the totals/threshold frame is a handful of rows -> **broadcast** back onto
  the corpus; the keep/drop decision is then a map-only predicate on the
  row's salted key hash, evaluated inside codegen during the scan.
* thresholds are fixed-width lowercase hex so the comparison is a plain
  string compare identical in every engine; fraction >= 1 short-circuits to
  keep-all (a 9-hex-digit threshold would otherwise be *truncated* by lpad).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from document_extraction_spark.functions.textstats import token_count
from document_extraction_spark.operators.sampling import _HEX_WIDTH, _hash_hex

_SPACE = float(16**_HEX_WIDTH)


def sample_to_token_budget(
    docs: DataFrame,
    budgets: dict[str, int],
    source_col: str = "source",
    key_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "mix",
) -> DataFrame:
    """Keep a deterministic per-source sample of ``docs`` whose expected
    token volume meets each source's budget; sources absent from
    ``budgets`` are kept whole. Returns the surviving rows plus their
    ``n_tok`` token count."""
    base = docs.withColumn("n_tok", token_count(F.col(text_col)))
    totals = base.groupBy(source_col).agg(
        F.sum("n_tok").cast("long").alias("total_tok")
    )
    budget_map = F.create_map(
        *[F.lit(x) for kv in budgets.items() for x in kv]
    )
    thr = (
        totals.withColumn("budget", budget_map[F.col(source_col)])
        .withColumn(
            "frac",
            F.when(F.col("budget").isNull(), F.lit(1.0)).otherwise(
                F.least(
                    F.lit(1.0),
                    F.col("budget").cast("double") / F.col("total_tok").cast("double"),
                )
            ),
        )
        .withColumn(
            "thr",
            # clamp to the max 8-hex-digit value: a frac within ~2^-33 of 1
            # would otherwise round to 16^8, whose 9-digit hex lpad would
            # TRUNCATE to "10000000" and drop ~94% of the source (the
            # frac>=1 short-circuit doesn't cover frac just below 1)
            F.lpad(
                F.lower(
                    F.hex(
                        F.least(
                            F.round(F.col("frac") * F.lit(_SPACE)).cast("long"),
                            F.lit(int(_SPACE) - 1),
                        )
                    )
                ),
                _HEX_WIDTH,
                "0",
            ),
        )
        .select(source_col, "frac", "thr")
    )
    joined = base.join(F.broadcast(thr), source_col)
    keep = (F.col("frac") >= 1.0) | (
        _hash_hex(F.col(key_col), salt) < F.col("thr")
    )
    return joined.filter(keep).drop("frac", "thr")


def mixture_summary(
    sampled: DataFrame, source_col: str = "source"
) -> DataFrame:
    """(source, n_docs, tokens_kept) of a mixture produced by
    :func:`sample_to_token_budget` — the audit frame to compare against the
    budgets."""
    return sampled.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("tokens_kept"),
    )
