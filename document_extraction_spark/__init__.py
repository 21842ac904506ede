"""document_extraction_spark — a PySpark-native per-document extraction engine.

A from-scratch reimplementation of the *capabilities* of the reference
``badgiojuni/document_extraction`` (a single-document PDF -> VLM -> JSON CLI,
see /root/reference/main.py:16-79) as a distributed, columnar, deterministic
Spark pipeline:

* HTML boilerplate stripping (Arc90/Readability-style text/link-density block
  scoring) — replaces the reference's VLM "understanding" call
  (reference client.py:37-38) with a local deterministic operator.
* PDF layout parsing (pdfminer-style token -> line -> block clustering with
  reading-order sort) over a deterministic textual page representation.
* Span normalization incl. the reference's exact markdown-fence strip slice
  semantics (reference extractor.py:112-118).

Executed as per-batch pandas/Arrow kernels inside ``mapInPandas`` over
transcript tables ``(conv_id, turn_idx, role, text, tool, ts)``, with per-turn
hash partitioning, checkpoint/resume, and per-partition lineage metrics.
"""

__version__ = "0.1.0"

from document_extraction_spark.session import get_spark  # noqa: F401
