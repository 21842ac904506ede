"""User-facing CLI — the engine's analogue of the reference entry point
(/root/reference/main.py:16-79), re-shaped for a distributed corpus:

* positional ``src``: a transcripts parquet directory (the reference takes
  one PDF path; here the unit of work is a table of turns).
* ``--pages "0,1,2"`` / ``"0-5"`` / mixed: the reference's page-subset
  syntax (main.py:54-63), applied as a pushed-down ``turn_idx`` predicate —
  pages of a document and turns of a conversation are the same axis here,
  and the filter reaches the parquet scan instead of rasterize-then-drop.
* ``--schema file.json``: the reference's structured mode (main.py:70-72) —
  a JSON example-schema file routed to
  operators/structured.structured_extract over the extracted text.
* config validation (main.py:50-52's --project check, generalized): every
  bad input exits 2 with a one-line reason before any Spark work starts.

Usage::

    python -m document_extraction_spark.cli SRC --dst OUT [--pages 0-5]
        [--schema schema.json] [--partitions N] [--master local[*]]
        [--max-payload-chars N]

Prints one JSON metrics line (the reference prints its result dict).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def parse_pages(spec: str) -> list[int]:
    """Parse the reference's page-range syntax (main.py:56-63): comma-
    separated items, each ``N`` or ``A-B`` (inclusive). Raises ValueError
    with a usable message on malformed input."""
    pages: list[int] = []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            raise ValueError(f"empty item in --pages {spec!r}")
        if "-" in part and not part.startswith("-"):
            bits = part.split("-")
            if len(bits) != 2:
                raise ValueError(f"bad range {part!r} in --pages (want A-B)")
            try:
                start, end = int(bits[0]), int(bits[1])
            except ValueError:
                raise ValueError(f"non-integer range {part!r} in --pages") from None
            if start > end:
                raise ValueError(f"reversed range {part!r} in --pages")
            pages.extend(range(start, end + 1))
        else:
            try:
                pages.append(int(part))
            except ValueError:
                raise ValueError(f"non-integer page {part!r} in --pages") from None
    if any(p < 0 for p in pages):
        raise ValueError(f"negative page in --pages {spec!r}")
    return pages


def make_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="document_extraction_spark",
        description="Distributed deterministic document/transcript extraction",
    )
    p.add_argument("src", help="transcripts parquet directory")
    p.add_argument("--dst", required=True, help="output parquet directory")
    p.add_argument("--pages", "-P", help="turn subset: '0,1,2' or '0-5' or mixed")
    p.add_argument("--schema", "-s", help="JSON example-schema file (structured mode)")
    p.add_argument("--partitions", type=int, default=None,
                   help="salted repartition width (default: from input splits)")
    p.add_argument("--master", default="local[*]")
    p.add_argument("--max-payload-chars", type=int, default=None,
                   help="truncate oversized payloads before extraction")
    return p


def validate(args) -> str | None:
    """Config validation (operator O3). Returns an error string or None."""
    if not os.path.exists(args.src):
        return f"src not found: {args.src}"
    if args.partitions is not None and args.partitions < 1:
        return f"--partitions must be >= 1 (got {args.partitions})"
    if args.max_payload_chars is not None and args.max_payload_chars < 1:
        return f"--max-payload-chars must be >= 1 (got {args.max_payload_chars})"
    if args.pages is not None:
        try:
            parse_pages(args.pages)
        except ValueError as ex:
            return str(ex)
    if args.schema is not None:
        if not os.path.exists(args.schema):
            return f"schema file not found: {args.schema}"
        try:
            loaded = json.loads(open(args.schema, encoding="utf-8").read())
        except (OSError, json.JSONDecodeError) as ex:
            return f"schema file unreadable/invalid JSON: {ex}"
        if not isinstance(loaded, dict):
            return f"schema must be a JSON object (got {type(loaded).__name__})"
    return None


def attach_metrics(out, structured: bool):
    """Attach the CLI's metrics to the OUTPUT frame with
    ``extract_pipeline.observe_metrics``: the aggregates accumulate inside
    the same job that writes the parquet, so the CLI runs ONE scan total.
    Structured output keeps only the turn and parse-failure counts (its
    ``parse_failed`` is the structured parse's). Returns (observed_df,
    metrics); read ``metrics.get`` only after the write action completes."""
    from document_extraction_spark.plans.extract_pipeline import (
        METRIC_NAMES,
        observe_metrics,
    )

    names = ("n_turns", "n_parse_failed") if structured else METRIC_NAMES
    return observe_metrics(out, names=names)


def run_cli(argv: list[str] | None = None) -> int:
    args = make_parser().parse_args(argv)
    err = validate(args)
    if err:
        print(f"error: {err}", file=sys.stderr)
        return 2

    from pyspark.sql import functions as F

    from document_extraction_spark.plans.extract_pipeline import build_extract_df
    from document_extraction_spark.session import get_spark

    spark = get_spark("document_extraction_cli", master=args.master)
    df = spark.read.parquet(args.src)
    turn_filter = None
    if args.pages:
        turn_filter = F.col("turn_idx").isin(parse_pages(args.pages))
    out = build_extract_df(
        df,
        partitions=args.partitions,
        turn_filter=turn_filter,
        max_payload_chars=args.max_payload_chars,
    )
    if args.schema:
        from document_extraction_spark.operators.structured import structured_extract

        schema = json.loads(open(args.schema, encoding="utf-8").read())
        out = structured_extract(
            out.withColumnRenamed("parse_failed", "extract_parse_failed"),
            schema,
            payload_col="text",
            keep_cols=["conv_id", "turn_idx", "extract_parse_failed"],
        )
    out, metrics = attach_metrics(out, structured=bool(args.schema))
    out.write.mode("overwrite").parquet(args.dst)
    got = metrics.get
    if args.schema:
        print(json.dumps({"mode": "structured", **got}))
    else:
        # file count is free driver-side metadata, not another scan
        n_files = len([f for f in os.listdir(args.dst) if f.endswith(".parquet")])
        print(json.dumps({"mode": "extract", **got, "n_partitions": n_files}))
    return 0


if __name__ == "__main__":
    sys.exit(run_cli())
