"""Per-layer probes for the traced run.

Each probe calls one layer's public functions from outside the program, on
the current workload's own input, inside a span named after the layer. Every
probe runs on every workload, so each traced run reports every per-layer
metric; the metric a layer is expected to move, and on which workload, is
listed in perfbench/README.md.
"""

from __future__ import annotations

import inspect
import os
import statistics
import time

import pandas as pd
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.workloads import CurateDedup, dir_size

CORE_ROWS = 8_192  # rows timed in the driver, in Arrow-sized batches
CORE_BATCH = 2_048
PROBE_DOCS = 1_000  # documents fed to the curation / dedup probes
# the probes whose times are subtracted from each other run this many times
REPEAT = 2


class _Timer:
    """Times one probe: a span for the trace and a job group for the task
    counts, per call. Returns the median of ``repeat`` calls and the last
    call's result."""

    def __init__(self, tracer, jobs) -> None:
        self.tracer, self.jobs = tracer, jobs
        self.groups: dict[str, str] = {}

    def __call__(self, name: str, layer: str, fn, repeat: int = 1):
        times = []
        for _ in range(repeat):
            with self.tracer.span(name, layer), self.jobs.group(name) as gid:
                t0 = time.perf_counter()
                out = fn()
                times.append(time.perf_counter() - t0)
        self.groups[name] = gid
        return statistics.median(times), out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _probe_inputs(wl, work: str) -> tuple[str, str]:
    """(transcripts dir, documents dir) for the probes: the workload's own
    table, plus the other shape derived from it."""
    if isinstance(wl, CurateDedup):
        turns = pd.DataFrame({
            "conv_id": wl.pdf["doc_id"].astype(str), "turn_idx": 0, "role": "user",
            "text": wl.pdf["text"], "tool": None, "ts": pd.NaT,
        })
        tsrc = os.path.join(work, "probe_turns")
        gen.write_parquet(turns, tsrc, gen.TRANSCRIPT_SCHEMA, wl.rows_per_file)
        return tsrc, wl.src
    docs = wl.pdf["text"].iloc[:PROBE_DOCS].reset_index(drop=True).to_frame()
    docs.insert(0, "doc_id", range(1, len(docs) + 1))
    dsrc = os.path.join(work, "probe_docs")
    gen.write_parquet(docs, dsrc, gen.DOC_SCHEMA, 1_000)
    return wl.src, dsrc


def core_probe(texts: list[str]) -> dict[str, float]:
    """Kernel stages timed in the driver on the workload's rows. Every
    ``*_us_per_row`` divides by all timed rows, so the stage figures add up
    towards ``extract_batch_us_per_row``."""
    from document_extraction_spark.core import classify as C
    from document_extraction_spark.core import extract as X
    from document_extraction_spark.core import html_strip as H
    from document_extraction_spark.core import normalize as N
    from document_extraction_spark.core import pdf_layout as PL

    texts = texts[:CORE_ROWS]
    t = dict.fromkeys(["classify", "html_strip", "pdf_layout", "normalize", "extract_batch"], 0.0)
    c = dict.fromkeys(["rows_html", "rows_pdf", "rows_plain", "parse_failed", "bytes_in", "bytes_out"], 0)
    for i in range(0, len(texts), CORE_BATCH):
        raw = pd.Series(texts[i:i + CORE_BATCH], dtype="object")
        t0 = time.perf_counter()
        kind = C.classify_series(raw)
        t1 = time.perf_counter()
        html_blocks = [H.html_strip_one(s)[0] for s in raw[kind == C.KIND_HTML]]
        t2 = time.perf_counter()
        pdf_blocks = [PL.pdf_layout_one(s)[0] for s in raw[kind == C.KIND_PDF]]
        t3 = time.perf_counter()
        N.normalize_series(raw[kind == C.KIND_PLAIN])
        for blocks in html_blocks + pdf_blocks:
            for b in blocks:
                N.normalize_one(b, fence=False)
        t4 = time.perf_counter()
        out = X.extract_batch_pdf(pd.DataFrame({"text": raw}))
        t5 = time.perf_counter()
        for k, dt in zip(t, (t1 - t0, t2 - t1, t3 - t2, t4 - t3, t5 - t4)):
            t[k] += dt
        c["rows_html"] += len(html_blocks)
        c["rows_pdf"] += len(pdf_blocks)
        c["rows_plain"] += int((kind == C.KIND_PLAIN).sum())
        c["parse_failed"] += int(out["parse_failed"].sum())
        c["bytes_in"] += int(out["bytes_in"].sum())
        c["bytes_out"] += int(out["bytes_out"].sum())
    m = {f"core.{k}_us_per_row": v * 1e6 / len(texts) for k, v in t.items()}
    m.update({f"core.{k}": v for k, v in c.items()})
    return m


def run_probes(spark, wl, work: str, tracer, jobs) -> dict[str, float]:
    from document_extraction_spark.operators import dedup as DD
    from document_extraction_spark.functions import textstats as TS
    from document_extraction_spark.plans import checkpoint as CK
    from document_extraction_spark.plans import extract_pipeline as P
    from document_extraction_spark.plans.curation import curate_documents
    from pyspark.sql import functions as F

    time_it = _Timer(tracer, jobs)
    m: dict[str, float] = {}
    with tracer.span("probe.inputs", "bench"):
        tsrc, dsrc = _probe_inputs(wl, work)

    # sources: the scan alone
    m["sources.scan_s"], _ = time_it("sources.scan", "sources",
                                     lambda: _noop(P.read_transcripts(spark, tsrc)), REPEAT)

    # the JVM -> Python hop: identity mapInPandas over the kernel's projection
    def hop():
        df = P.read_transcripts(spark, tsrc)
        cols = df.select(*[f.name for f in P.KEY_FIELDS], "text")

        def identity(batches):
            yield from batches

        _noop(cols.mapInPandas(identity, schema=cols.schema))

    hop_total, _ = time_it("extract_pipeline.hop", "extract_pipeline", hop, REPEAT)
    m["extract_pipeline.hop_s"] = hop_total - m["sources.scan_s"]

    m["extract_pipeline.noop_s"], _ = time_it(
        "extract_pipeline.noop", "extract_pipeline",
        lambda: _noop(P.build_extract_df(P.read_transcripts(spark, tsrc))), REPEAT)
    probe_out = os.path.join(work, "probe_extracted")
    run_s, _ = time_it("extract_pipeline.write", "extract_pipeline",
                       lambda: P.run(spark, tsrc, probe_out, collect_metrics=False), REPEAT)
    m["extract_pipeline.write_s"] = run_s - m["extract_pipeline.noop_s"]
    m["extract_pipeline.metrics_s"], _ = time_it(
        "extract_pipeline.metrics", "extract_pipeline",
        lambda: P.metrics_by_partition(spark.read.parquet(probe_out)).collect(), REPEAT)
    files, nbytes = dir_size(wl.out)
    m["extract_pipeline.files_written"] = files
    m["extract_pipeline.bytes_written"] = nbytes

    with tracer.span("core.stages", "core"):
        m.update(core_probe(wl.texts))

    # checkpoint: one wave per call until a call commits nothing
    ck_out, ck = os.path.join(work, "probe_ck_out"), os.path.join(work, "probe_ck")
    waves: list[float] = []
    while True:
        dt, done = time_it(f"checkpoint.wave{len(waves)}", "checkpoint",
                           lambda: CK.run_resumable(spark, tsrc, ck_out, ck, "probe", max_waves=1))
        if not done:
            break
        waves.append(dt)
    m["checkpoint.resume_noop_s"] = dt
    m["checkpoint.waves"] = len(waves)
    m["checkpoint.wave_s"] = statistics.median(waves)
    m["checkpoint.read_manifest_s"], _ = time_it(
        "checkpoint.read_manifest", "checkpoint", lambda: CK.read_manifest(spark, ck).collect())
    n_buckets = inspect.signature(CK.run_resumable).parameters["n_buckets"].default
    m["checkpoint.pending_buckets_s"], _ = time_it(
        "checkpoint.pending_buckets", "checkpoint", lambda: CK.pending_buckets(spark, ck, n_buckets))

    # curation: the extraction step on the documents, then the text gates
    ext = os.path.join(work, "probe_doc_text")

    def curation_extract():
        docs = spark.read.parquet(dsrc)
        turns = docs.select(
            F.col("doc_id").cast("string").alias("conv_id"), F.lit(0).cast("int").alias("turn_idx"),
            F.lit("user").alias("role"), F.lit(None).cast("string").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"), "text")
        (P.build_extract_df(turns)
         .select(F.col("conv_id").cast("long").alias("doc_id"), "text")
         .write.mode("overwrite").parquet(ext))

    m["curation.extract_s"], _ = time_it("curation.extract", "curation", curation_extract)

    def gates():
        t = spark.read.parquet(ext)
        _noop(t.select("doc_id", TS.quality_score(t.text), TS.lang_guess(t.text),
                       TS.fingerprint(t.text)))

    m["textstats.gates_s"], _ = time_it("textstats.gates", "textstats", gates)

    # dedup: the near-dup stages on the exact-deduplicated curation output
    exact, sig, cand, ver = (os.path.join(work, f"probe_{n}") for n in ("exact", "sig", "cand", "ver"))
    time_it("curation.exact", "curation",
            lambda: curate_documents(spark.read.parquet(dsrc)).write.mode("overwrite").parquet(exact))
    m["dedup.minhash_s"], _ = time_it(
        "dedup.minhash", "dedup",
        lambda: DD.minhash_signatures(spark.read.parquet(exact)).write.mode("overwrite").parquet(sig))
    m["dedup.lsh_s"], _ = time_it(
        "dedup.lsh", "dedup",
        lambda: DD.lsh_candidate_pairs(spark.read.parquet(sig)).write.mode("overwrite").parquet(cand))
    m["dedup.verify_s"], _ = time_it(
        "dedup.verify", "dedup",
        lambda: DD.jaccard_verify_candidates(
            spark.read.parquet(exact), spark.read.parquet(cand), 0.6
        ).write.mode("overwrite").parquet(ver))
    n_cand, n_ver = _rows(cand), _rows(ver)
    m["dedup.candidate_pairs"] = n_cand
    m["dedup.verified_pairs"] = n_ver
    m["dedup.verified_frac"] = n_ver / n_cand if n_cand else 0.0

    counts = {name: jobs.counts(gid) for name, gid in time_it.groups.items()}
    m["sources.scan_tasks"] = counts["sources.scan"]["tasks"]
    m["extract_pipeline.python_tasks"] = counts["extract_pipeline.hop"]["tasks"]
    m["extract_pipeline.hop_ms_per_task"] = (
        m["extract_pipeline.hop_s"] * 1e3 / max(1, m["extract_pipeline.python_tasks"]))
    m["checkpoint.jobs"] = sum(v["jobs"] for k, v in counts.items() if k.startswith("checkpoint.wave"))
    return m


def _rows(path: str) -> int:
    return pq.ParquetDataset(path).read(columns=[]).num_rows
