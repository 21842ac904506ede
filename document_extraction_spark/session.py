"""SparkSession factory with the engine's standard configuration.

Local mode is the test/bench harness; the same configs are what we would
submit with ``spark-submit --conf`` on a real cluster (AQE, skew-join
handling, Arrow batching). See SURVEY.md §4.
"""

from __future__ import annotations

import functools
import os
import shutil
import sys
import tempfile
import zipimport

from pyspark.sql import SparkSession

# Arrow batch size bounds per-batch memory inside mapInPandas; at 100 TB the
# payload column dominates, so we bound by record count and rely on the
# upstream chunking of oversized payloads (plans/extract_pipeline.py).
ARROW_MAX_RECORDS_PER_BATCH = "2048"

# A file scan charges each file its bytes plus openCostInBytes, and splits
# are sized max(openCost, charged bytes / cores). Spark's 4 MB default
# prices opening a file like reading 4 MB, but the extraction kernel spends
# ~0.25 ms of Python per KB of payload text (~170 us per mixed turn of
# ~0.7 KB, 4-vCPU x86), and a transcripts parquet file holds ~3 KB of text
# per KB, so 4 MB of file is seconds of kernel work while a parquet open
# costs milliseconds. Under 4 MB, 16k mixed turns in eight ~435 KB files
# and a small ninth pack three files to a split: 3 tasks on 4 cores (6000 /
# 6000 / 4014 rows). At 256 KB they reach the core count, 4 splits of ~4000
# rows; 1k short documents in 4 files (4 x 250 rows) and 8k plain turns in
# 64 files (4 x 2000) keep their splits. Any value from 64 KB to 1 MB gives
# the same counts; 8 KB over-splits (5 unbalanced splits). Inputs of large
# files split as before, since their bytes per core dwarf the open cost.
FILE_OPEN_COST_BYTES = str(256 * 1024)

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))


def _install_lazy_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    the file on disk changed since this importer last read it.

    Every Python worker task starts with ``importlib.invalidate_caches()``
    (pyspark ``worker_util.setup_spark_files``). Before CPython 3.13 that
    makes each ``zipimporter`` re-read its archive's whole central
    directory: ~17 importers over ``pyspark.zip``, the ``spark-core`` jar,
    py4j and this package's zip, ~26.7k entries, 130-200 ms of CPU per
    task on a reused worker before the kernel starts. The wrapper keys each
    importer on its archive's ``(st_mtime_ns, st_size, st_ino)`` and calls
    the stdlib method when the key differs or the stat fails, so a zip
    rewritten or replaced on disk is still re-read, and a new ``addPyFile``
    path gets a new importer anyway. CPython 3.13 already makes the method
    lazy (it only drops the cache entry), so this installs nothing there
    and can be deleted once 3.12 is no longer supported. Installing twice
    keeps one wrapper."""
    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(original, "_dex_lazy_zip", False):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        if key is None or key != getattr(self, "_dex_zip_key", None):
            original(self)
            self._dex_zip_key = key

    invalidate_caches._dex_lazy_zip = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


# Workers import this module when they unpickle their first engine kernel.
# The next task's call keys every importer; the tasks after it re-read only
# archives that changed.
_install_lazy_zip_invalidation()


def get_spark(
    app_name: str = "document_extraction_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    the driver's bench harness controls parallelism.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local threads == cores; match shuffle width to them (guide: not 200)
        n = int(master[6:-1]) if master.startswith("local[") and master[6:-1].isdigit() else cpus
        shuffle_partitions = max(n, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            ARROW_MAX_RECORDS_PER_BATCH,
        )
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.files.openCostInBytes", FILE_OPEN_COST_BYTES)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_worker_package(spark)
    return spark


def build_pyfiles_zip(dest: str) -> str:
    """Zip this package under ``dest`` for ``spark-submit --py-files`` or
    ``addPyFile`` and return the zip's path. The zip root holds the package
    directory itself; ``__pycache__`` is left out."""
    stage = os.path.join(dest, "stage")
    shutil.copytree(
        _PKG_DIR,
        os.path.join(stage, "document_extraction_spark"),
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    return shutil.make_archive(
        os.path.join(dest, "document_extraction_spark"), "zip", stage
    )


def ensure_worker_package(spark: SparkSession) -> None:
    """Make this package importable on the session's executor Python
    workers: the programmatic ``spark-submit --py-files pkg.zip`` of the
    north rule. Idempotent per session.

    Without it, ``mapInPandas`` / ``applyInArrow`` / pandas UDF kernels fail
    to unpickle on workers (``ModuleNotFoundError``) whenever the worker's
    cwd is not the repo root. Operators do not call it. Two doors do:
    :func:`get_spark` for the sessions it builds, and ``__spark_entry__``
    for sessions the driver contract hands in (``entry`` and every
    ``queries()`` callable). Code that builds a session any other way calls
    this once, right after building it."""
    if getattr(spark, "_dex_pkg_shipped", False):
        return
    # A package already running from a zip (spark-submit --py-files) has no
    # directory to stage, and executors get that zip through the submit.
    if os.path.isdir(_PKG_DIR):
        tmp = tempfile.mkdtemp(prefix="dex_pyfiles_")
        spark.sparkContext.addPyFile(build_pyfiles_zip(tmp))
    spark._dex_pkg_shipped = True
