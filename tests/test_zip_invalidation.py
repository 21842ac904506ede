"""Per-task Python floor: ``importlib.invalidate_caches()``, which pyspark's
worker calls before every task, must re-read only zip archives that changed
on disk (``session._install_lazy_zip_invalidation``)."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from document_extraction_spark import session as S


def _write_zip(path, **modules: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_reads(tmp_path, monkeypatch):
    """``(path, reads)``: a zip holding module ``zipmod_a`` first on
    ``sys.path``, and the list of ``_read_directory`` calls on it."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, zipmod_a="A = 1\n")
    monkeypatch.syspath_prepend(path)
    reads: list[str] = []
    original = zipimport._read_directory

    def counted(archive):
        if archive == path:
            reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    yield path, reads
    for name in ("zipmod_a", "zipmod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)


def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(zip_reads):
    path, reads = zip_reads
    import zipmod_a

    assert zipmod_a.A == 1
    importlib.invalidate_caches()  # the first call keys the importer
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(path, zipmod_a="A = 1\n", zipmod_b="B = 2\n")
    importlib.invalidate_caches()
    import zipmod_b

    assert zipmod_b.B == 2
    assert reads == [path]


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13 invalidates zip caches lazily"
)
def test_install_is_idempotent():
    wrapper = zipimport.zipimporter.invalidate_caches
    assert wrapper._dex_lazy_zip
    S._install_lazy_zip_invalidation()
    S._install_lazy_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is wrapper
    assert not getattr(wrapper.__wrapped__, "_dex_lazy_zip", False)


def test_reused_worker_does_not_reread_zips(spark):
    """After an engine kernel has run, a worker task's
    ``importlib.invalidate_caches()`` reads no zip directory. At the parent
    of this change every zip importer on the worker re-read its archive
    (17-20 reads per call)."""
    from document_extraction_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} epsilon zeta") for i in range(8)],
        "doc_id long, text string",
    )
    assert minhash_signatures(docs).count() == 8

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        if "document_extraction_spark.session" not in sys.modules:
            # a worker no engine kernel reached yet: import the package and
            # stand in for the setup call that starts its next task
            import document_extraction_spark  # noqa: F401

            importlib.invalidate_caches()
        reads = []
        original = zipimport._read_directory

        def counted(archive):
            reads.append(archive)
            return original(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield pd.DataFrame({"reads": [len(reads)], "zips": [zips]})

    rows = (
        spark.range(4, numPartitions=4)
        .mapInPandas(probe, "reads long, zips long")
        .collect()
    )
    assert len(rows) == 4
    assert all(r["zips"] > 0 for r in rows)
    assert [r["reads"] for r in rows] == [0, 0, 0, 0]
