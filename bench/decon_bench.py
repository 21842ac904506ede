"""Semantic-decontamination prefilter bench (VERDICT r4 ask #5): the exact
BLAS kernel vs the banded-SRP prefilter on a blown-up eval suite.

The exact path costs |corpus| x |eval| cosines — linear in the EVAL SUITE
size, which is the quantity that grows as more benchmarks are added. This
bench replicates the sf0.1 embeddings table (corpus side R x with shifted
ids, eval side E x) and PLANTS exact eval copies in the corpus (cos = 1.0,
guaranteed to survive any SRP banding since every sign bit agrees), then
times both paths and checks they flag identically.

Writes BENCH/DECON_SRP.json.

Usage: [taskset -c 0-7] python bench/decon_bench.py [--rep 20 20] [--cpus 8]
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rep", nargs=2, type=int, default=[20, 20],
                    metavar=("CORPUS_X", "EVAL_X"))
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--planes", type=int, default=48)
    ap.add_argument("--bands", type=int, default=6)
    args = ap.parse_args()
    rc, re_ = args.rep

    from pyspark.sql import functions as F

    from document_extraction_spark import get_spark
    from document_extraction_spark.operators.decontaminate import (
        semantic_decontaminate,
    )

    spark = get_spark(
        "decon_bench",
        master=f"local[{args.cpus}]",
        shuffle_partitions=max(2 * args.cpus, 16),
        extra_conf={
            "spark.local.dir": "/dev/shm/dex_spark_local",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    emb = spark.read.parquet(f"{args.src}/embeddings.parquet")

    def blow_up(df, times: int, shift: int):
        k = spark.range(times).select(F.col("id").alias("k"))
        return df.crossJoin(k).select(
            (F.col("vec_id") + F.col("k") * shift).alias("vec_id"), "embedding"
        )

    eval_nat = emb.filter(F.col("vec_id") % 17 == 0).select("vec_id", "embedding")
    corp_nat = emb.filter(F.col("vec_id") % 17 != 0).select("vec_id", "embedding")
    eval_big = blow_up(eval_nat, re_, 10_000_000).localCheckpoint()
    planted = eval_nat.limit(50).select(
        (F.col("vec_id") + 900_000_000).alias("vec_id"), "embedding"
    )
    corpus_big = blow_up(corp_nat, rc, 10_000_000).union(planted).localCheckpoint()
    n_corpus, n_eval = corpus_big.count(), eval_big.count()

    def timed(fn, **kw):
        t0 = time.monotonic()
        out = fn(corpus_big, eval_big, threshold=0.9, **kw)
        n_flagged = out.filter("contaminated").count()
        return round(time.monotonic() - t0, 3), n_flagged

    # warm-up (codegen + python workers) on a sliver
    semantic_decontaminate(
        corpus_big.limit(500), eval_big.limit(50), threshold=0.9
    ).count()

    exact_sec, exact_flagged = timed(semantic_decontaminate)
    pre_sec, pre_flagged = timed(
        semantic_decontaminate,
        prefilter_planes=args.planes, prefilter_bands=args.bands, dim=64
    )

    result = {
        "measured": dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
        "cpus": args.cpus,
        "n_corpus": n_corpus,
        "n_eval": n_eval,
        "planted": 50,
        "exact_arrow_matmul": {"sec": exact_sec, "flagged": exact_flagged},
        "srp_prefilter": {
            "sec": pre_sec,
            "flagged": pre_flagged,
            "planes": args.planes,
            "bands": args.bands,
        },
        "speedup_prefilter_vs_exact": round(exact_sec / pre_sec, 2) if pre_sec else None,
        "flags_equal": exact_flagged == pre_flagged,
    }
    with open(os.path.join(REPO, "BENCH", "DECON_SRP.json"), "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
