"""Thin table-IO abstraction: Iceberg when a catalog is on the classpath,
Parquet directory layout otherwise (SURVEY.md §7 — this sandbox ships no
iceberg-spark-runtime jar, so the Parquet path is what tests exercise; the
Iceberg path is the same call shape via the DataFrameV2 API).

Semantics kept identical across backends:

* ``read(name)`` -> DataFrame
* ``append(df, name)`` -> atomic-enough append (Iceberg: snapshot commit;
  Parquet: append-mode write of new files)
* ``overwrite_partitions(df, name, cols)`` -> replace only the partitions
  present in ``df`` (Iceberg: ``overwritePartitions``; Parquet: dynamic
  partition overwrite)

The checkpoint protocol (plans/checkpoint.py) runs on these three verbs,
plus ``exists`` to tell a missing manifest from a corrupt one: its parquet
path goes through this class and writes nothing itself. Moving it onto
Iceberg is not yet a constructor change, because an Iceberg table is named
by a catalog identifier, while the resumable run takes paths.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


# -- Iceberg statement builders -------------------------------------------
# Pure string builders so the (sandbox-unexercisable: no iceberg jar) branch
# is still unit-testable — the SQL text is pinned by tests/test_tableio_
# iceberg_sql.py and can't rot silently.

def iceberg_merge_sql(ident: str, source_view: str, key_cols: list[str]) -> str:
    """MERGE INTO text for the Iceberg upsert branch: key-matched rows are
    replaced whole, unmatched rows inserted — identical semantics to the
    parquet backend's anti-join+union rewrite, without rewriting untouched
    files."""
    if not key_cols:
        raise ValueError("upsert needs at least one key column")
    cond = " AND ".join(f"t.{k} <=> s.{k}" for k in key_cols)
    return (
        f"MERGE INTO {ident} t USING {source_view} s ON {cond} "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )


def iceberg_compact_sql(
    catalog: str, name: str, target_file_size_bytes: int = 512 * 1024 * 1024
) -> str:
    """rewrite_data_files CALL for the Iceberg compaction branch (binpack,
    the small-file compaction counterpart of the parquet staged rewrite)."""
    return (
        f"CALL {catalog}.system.rewrite_data_files("
        f"table => '{name}', strategy => 'binpack', "
        f"options => map('target-file-size-bytes', "
        f"'{target_file_size_bytes}'))"
    )


class TableIO:
    def __init__(self, spark: SparkSession, root: str, catalog: str | None = None):
        """``catalog`` non-None (e.g. "lake") selects Iceberg identifiers
        ``{catalog}.{name}``; otherwise ``{root}/{name}`` parquet dirs."""
        self.spark = spark
        self.root = root.rstrip("/")
        self.catalog = catalog
        if catalog and not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg catalog requested but no iceberg-spark-runtime jar on "
                "the classpath; pass catalog=None for the parquet layout"
            )

    # -- identifiers ------------------------------------------------------
    def _ident(self, name: str) -> str:
        return f"{self.catalog}.{name}" if self.catalog else f"{self.root}/{name}"

    def exists(self, name: str) -> bool:
        """A parquet table is absent when its path does not exist or holds
        no data files. Any other read failure raises: a corrupt table taken
        as absent would be silently overwritten."""
        if self.catalog:
            return self.spark.catalog.tableExists(self._ident(name))
        try:
            self.spark.read.parquet(self._ident(name)).schema
            return True
        except AnalysisException as ex:
            if ex.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
                raise
            return False

    # -- verbs -------------------------------------------------------------
    def read(self, name: str) -> DataFrame:
        if self.catalog:
            return self.spark.read.table(self._ident(name))
        return self.spark.read.parquet(self._ident(name))

    def append(self, df: DataFrame, name: str, partition_cols: list[str] | None = None) -> None:
        """Append rows. A table that will later use ``overwrite_partitions``
        MUST be appended with the same ``partition_cols`` from its first
        write: on the parquet backend, files outside ``col=value`` dirs
        belong to no partition and a dynamic overwrite clears them."""
        if self.catalog:
            df.writeTo(self._ident(name)).append()
        else:
            w = df.write.mode("append")
            if partition_cols:
                w = w.partitionBy(*partition_cols)
            w.parquet(self._ident(name))

    def compact(self, name: str, target_files: int = 8) -> int:
        """Small-file compaction: rewrite the table into ``target_files``
        files. The operational counterpart of streaming/bucketed appends at
        100 TB — thousands of tiny files per partition degrade scan planning
        and shuffle fetch; periodic compaction keeps file count ~ scan
        parallelism. For UNPARTITIONED tables (partitioned tables compact
        per partition through overwrite_partitions). Parquet backend: staged
        rewrite (write to .compact_tmp, swap) so a crash never leaves the
        table truncated. Iceberg backend issues a rewrite_data_files CALL
        (see iceberg_compact_sql) and returns -1 — the resulting file count
        belongs to the snapshot metadata, not the filesystem. Parquet
        backend returns the new file count."""
        import os
        import shutil

        if self.catalog:
            self.spark.sql(iceberg_compact_sql(self.catalog, name))
            return -1  # file count owned by the Iceberg snapshot metadata
        path = self._ident(name)
        # a Hive-partitioned layout would be silently flattened by the
        # read->coalesce->rewrite below (partition dirs become plain data
        # columns in unpartitioned files), losing pruning and breaking later
        # overwrite_partitions — refuse, mirroring the Iceberg guard above
        part_dirs = [
            d for d in os.listdir(path)
            if "=" in d and os.path.isdir(os.path.join(path, d))
        ]
        if part_dirs:
            raise NotImplementedError(
                f"compact() supports unpartitioned tables only; {name!r} has "
                f"partition directories (e.g. {part_dirs[0]!r}) — compact per "
                "partition via overwrite_partitions instead"
            )
        tmp = path + ".compact_tmp"
        df = self.spark.read.parquet(path)
        df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
        # atomic-enough swap: the window with neither dir present is a
        # single rename pair on one filesystem
        bak = path + ".compact_old"
        os.rename(path, bak)
        os.rename(tmp, path)
        shutil.rmtree(bak)
        return len([f for f in os.listdir(path) if f.endswith(".parquet")])

    def upsert(self, df: DataFrame, name: str, key_cols: list[str]) -> None:
        """MERGE-style upsert: rows in ``df`` replace existing rows with the
        same key; everything else is kept. Parquet backend: old LEFT ANTI df
        on the keys, union, staged rewrite (same crash-safe swap as compact).
        Iceberg backend is a real MERGE INTO and doesn't rewrite untouched
        files — the parquet path trades write amplification for the same
        semantics. No-op table -> plain write."""
        import os
        import shutil

        if self.catalog:
            view = f"_upsert_src_{name.replace('.', '_')}"
            df.createOrReplaceTempView(view)
            try:
                self.spark.sql(iceberg_merge_sql(self._ident(name), view, key_cols))
            finally:
                self.spark.catalog.dropTempView(view)
            return
        path = self._ident(name)
        if not self.exists(name):
            df.write.mode("overwrite").parquet(path)
            return
        old = self.spark.read.parquet(path)
        merged = old.join(df.select(*key_cols).distinct(), key_cols, "left_anti").unionByName(df)
        tmp = path + ".upsert_tmp"
        merged.write.mode("overwrite").parquet(tmp)
        bak = path + ".upsert_old"
        os.rename(path, bak)
        os.rename(tmp, path)
        shutil.rmtree(bak)

    def overwrite_partitions(self, df: DataFrame, name: str, partition_cols: list[str]) -> None:
        if self.catalog:
            df.writeTo(self._ident(name)).overwritePartitions()
        else:
            # pin dynamic mode ON THE WRITER: under a session left at the
            # default static mode, mode('overwrite').partitionBy(...) would
            # delete ALL partitions of the table, not just those in df
            (
                df.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(*partition_cols)
                .parquet(self._ident(name))
            )
