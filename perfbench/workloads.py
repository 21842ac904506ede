"""The three workloads: inputs, the end-to-end call, and the correctness gate.

Each workload writes its seeded input under its own work directory,
exposes ``warmup_calls`` (how many untimed calls come before the timed
ones), ``run_once`` (the timed call into the program's public entry point),
``reset`` (untimed clean-up between calls), ``oracle`` (the expected results,
computed from the input alone, without Spark) and ``check`` (the untimed
correctness gate, returning a list of mismatches).
"""

from __future__ import annotations

import inspect
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import gen

RESULT_KEYS = ["payload_kind", "text", "n_blocks_kept", "n_blocks_dropped",
               "parse_failed", "bytes_in", "bytes_out"]


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def dir_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping Spark's marker files."""
    files = nbytes = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            nbytes += os.path.getsize(os.path.join(d, n))
    return files, nbytes


def _expected_turns(pdf: pd.DataFrame, sample: np.ndarray) -> dict[tuple, dict]:
    """The row-wise oracle ``extract_one`` on the sampled input rows."""
    from document_extraction_spark.core.extract import extract_one

    rows = pdf.iloc[sample]
    return {(c, int(t)): extract_one(x) for c, t, x in zip(rows.conv_id, rows.turn_idx, rows.text)}


def _check_turns(pdf: pd.DataFrame, out: pd.DataFrame, want: dict[tuple, dict]) -> list[str]:
    """Output keys match the input exactly once each, and on the sampled
    rows every field equals ``extract_one``."""
    errs = []
    if len(out) != len(pdf):
        errs.append(f"output has {len(out)} rows, input {len(pdf)}")
    keys = out[["conv_id", "turn_idx"]]
    if keys.duplicated().any():
        errs.append(f"{int(keys.duplicated().sum())} duplicate (conv_id, turn_idx) rows")
    by_key = out.drop_duplicates(["conv_id", "turn_idx"]).set_index(["conv_id", "turn_idx"])
    bad = 0
    for key, w in want.items():
        if key not in by_key.index:
            bad += 1
            continue
        got = by_key.loc[key]
        spans = [dict(s) for s in got["spans"]]
        if any(got[k] != w[k] for k in RESULT_KEYS) or spans != w["spans"]:
            bad += 1
    if bad:
        errs.append(f"{bad} of {len(want)} sampled turns differ from extract_one")
    return errs


class ExtractMixed:
    """extract_pipeline.run over distinct HTML / PDF-layout / plain turns."""

    name = "extract_mixed"
    # the JVM is still compiling the scan, Arrow and write paths: on 4 cores
    # a call's wall time falls ~2.5x over the first three calls, then ~15%
    # more over the next ten, which the time budget leaves to the median
    warmup_calls = 3
    n_turns = 16_000
    rows_per_file = 2_000
    gate_sample = 1_500

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.src = os.path.join(work, "src")
        self.out = os.path.join(work, "out")
        self.metrics: list = []

    def generate(self) -> None:
        self.pdf = gen.transcripts_mixed(self.seed, self.n_turns)
        gen.write_parquet(self.pdf, self.src, gen.TRANSCRIPT_SCHEMA, self.rows_per_file)
        self.rows = len(self.pdf)
        self.digest = gen.digest(self.pdf)
        self.texts = self.pdf["text"].tolist()

    def reset(self) -> None:
        pass  # run() overwrites its output

    def run_once(self, spark) -> None:
        from document_extraction_spark.plans import extract_pipeline as P

        self.metrics = P.run(spark, self.src, self.out).collect()

    def oracle(self) -> dict[tuple, dict]:
        rng = np.random.default_rng([self.seed, 11])
        edge = np.flatnonzero(self.pdf["conv_id"].str.startswith("conv-edge-").to_numpy())
        return _expected_turns(
            self.pdf, np.union1d(rng.choice(self.rows, self.gate_sample, replace=False), edge))

    def check(self, spark, want: dict[tuple, dict]) -> list[str]:
        errs = _check_turns(self.pdf, pq.read_table(self.out).to_pandas(), want)
        n = sum(r["n_turns"] for r in self.metrics)
        if n != self.rows:
            errs.append(f"metrics_by_partition counts {n} turns, input has {self.rows}")
        return errs


class ResumePlain:
    """checkpoint.run_resumable over short plain turns in many small files:
    interrupted after one wave, resumed to completion, re-run as a no-op."""

    name = "resume_plain"
    warmup_calls = 3
    n_turns = 8_000
    rows_per_file = 125
    gate_sample = 500

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.src = os.path.join(work, "src")
        self.out = os.path.join(work, "out")
        self.ckpt = os.path.join(work, "ckpt")
        self.calls: list[tuple[list[int], list[int], list[int]]] = []

    def generate(self) -> None:
        self.pdf = gen.transcripts_plain(self.seed, self.n_turns)
        gen.write_parquet(self.pdf, self.src, gen.TRANSCRIPT_SCHEMA, self.rows_per_file)
        self.rows = len(self.pdf)
        self.digest = gen.digest(self.pdf)
        self.texts = self.pdf["text"].tolist()

    def reset(self) -> None:
        _rmtree(self.out)
        _rmtree(self.ckpt)

    def run_once(self, spark) -> None:
        from document_extraction_spark.plans import checkpoint as CK

        run_id = f"perfbench-{self.seed}"
        first = CK.run_resumable(spark, self.src, self.out, self.ckpt, run_id, max_waves=1)
        rest = CK.run_resumable(spark, self.src, self.out, self.ckpt, run_id)
        again = CK.run_resumable(spark, self.src, self.out, self.ckpt, run_id)
        self.calls.append((first, rest, again))

    def oracle(self) -> dict[tuple, dict]:
        rng = np.random.default_rng([self.seed, 12])
        return _expected_turns(self.pdf, rng.choice(self.rows, self.gate_sample, replace=False))

    def check(self, spark, want: dict[tuple, dict]) -> list[str]:
        from document_extraction_spark.plans import checkpoint as CK

        n_buckets = inspect.signature(CK.run_resumable).parameters["n_buckets"].default
        errs = []
        for first, rest, again in self.calls:
            if not first or sorted(first + rest) != list(range(n_buckets)):
                errs.append(f"calls committed {first} then {rest}, not each bucket once")
            if again:
                errs.append(f"the completed run re-committed {again}")
        man = pq.read_table(self.ckpt).to_pandas()
        counts = man["bucket"].value_counts()
        if sorted(counts.index) != list(range(n_buckets)) or (counts != 1).any():
            errs.append(f"manifest commits per bucket: {counts.sort_index().to_dict()}")
        if int(man["n_turns"].sum()) != self.rows:
            errs.append(f"manifest counts {int(man['n_turns'].sum())} turns, input {self.rows}")
        return errs + _check_turns(self.pdf, pq.read_table(self.out).to_pandas(), want)


class CurateDedup:
    """curation.curate_documents with near-dup removal over documents with
    stated exact- and near-duplicate shares."""

    name = "curate_dedup"
    # the first call plans and compiles every stage (~15 s on 4 cores, 3x a
    # steady call); the second is ~25% above the steady call but varies
    # little from run to run, and another warm-up would not fit the time
    # budget of a run
    warmup_calls = 1
    n_docs = 1_000
    shares = {"exact_share": 0.15, "near_share": 0.15, "short_share": 0.05, "foreign_share": 0.05}
    rows_per_file = 250
    threshold = 0.6

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.src = os.path.join(work, "src")
        self.out = os.path.join(work, "out")

    def generate(self) -> None:
        self.pdf = gen.documents_dedup(self.seed, self.n_docs, **self.shares)
        gen.write_parquet(self.pdf, self.src, gen.DOC_SCHEMA, self.rows_per_file)
        self.rows = len(self.pdf)
        self.digest = gen.digest(self.pdf)
        self.texts = self.pdf["text"].tolist()

    def reset(self) -> None:
        pass  # the write overwrites its output

    def run_once(self, spark) -> None:
        from document_extraction_spark.plans.curation import curate_documents

        docs = spark.read.parquet(self.src)
        out = curate_documents(docs, near_dup_threshold=self.threshold)
        out.write.mode("overwrite").parquet(self.out)

    def oracle(self) -> pd.DataFrame:
        """The exact-dedup stage, replayed in DuckDB from
        ``oracle_sql()["q_curation_pipeline"]``."""
        import duckdb

        import __spark_entry__ as E

        con = duckdb.connect()
        try:
            con.register("documents", self.pdf)
            return con.execute(E.oracle_sql()["q_curation_pipeline"]).fetchdf()
        finally:
            con.close()

    def check(self, spark, exact: pd.DataFrame) -> list[str]:
        """Every output row equals its exact-dedup oracle row, and every
        oracle row missing from the output is the larger id of an
        ``ngram_jaccard_pairs`` pair at the threshold, so each verified pair
        that removed a document is an n-gram Jaccard pair. A row wrongly
        added or dropped by Spark's exact stage fails one of the two."""
        from document_extraction_spark.operators.dedup import ngram_jaccard_pairs

        cols = ["doc_id", "text", "quality", "lang"]
        out = pq.read_table(self.out).to_pandas().sort_values("doc_id", ignore_index=True)
        kept = exact["doc_id"].isin(out["doc_id"])
        errs = []
        if not out[cols].equals(exact.loc[kept, cols].reset_index(drop=True)):
            errs.append(f"{len(out)} output rows are not all rows of the exact-dedup oracle")
        pairs = ngram_jaccard_pairs(spark.createDataFrame(exact[["doc_id", "text"]]), self.threshold)
        losers = {r["doc_b"] for r in pairs.select("doc_b").collect()}
        wrong = set(exact.loc[~kept, "doc_id"]) - losers
        if wrong:
            errs.append(f"{len(wrong)} documents removed without an n-gram Jaccard partner")
        self.kept = (len(exact), len(out))
        return errs


WORKLOADS = {w.name: w for w in (ExtractMixed, ResumePlain, CurateDedup)}
