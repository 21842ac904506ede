from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session")
def testdata_dir():
    """Root of the driver-generated parquet tables; overridable via
    SPARK_GRAFT_TESTDATA. Data-dependent tests skip (not error) when the
    dataset is absent so the suite runs on any machine (ADVICE r4)."""
    root = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
    if not os.path.isdir(root):
        pytest.skip(f"testdata root {root} not present on this machine")
    return root


@pytest.fixture(scope="session")
def spark():
    from document_extraction_spark.session import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def counted_reads(spark):
    """``counted_reads(df) -> (df', acc)``: ``df'`` is ``df`` behind an
    identity ``mapInPandas`` that adds each batch's row count to the Spark
    accumulator ``acc``. After one action on a plan built over ``df'``,
    ``acc.value`` is how many input rows that plan read; a subtree that
    several consumers re-derive reads its input once per consumer."""

    def wrap(df):
        acc = spark.sparkContext.accumulator(0)

        def count(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        return df.mapInPandas(count, df.schema), acc

    return wrap
