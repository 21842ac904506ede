"""Contract tests for __spark_entry__ (driver smoke + oracle coverage)."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as E


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    assert df.count() > 0
    names = [f.name for f in df.schema.fields]
    for col in ["conv_id", "turn_idx", "text", "spans", "parse_failed"]:
        assert col in names


def test_oracle_keys_subset_of_queries():
    qs = E.queries()
    os_ = E.oracle_sql()
    assert set(os_) <= set(qs)
    # SQL-expressible queries (q_*) all carry oracles; x_* are rows-only
    for name in qs:
        if name.startswith("q_"):
            assert name in os_, f"{name} missing oracle"


def test_queries_run_at_sf0001(spark, testdata_dir):
    """Every query executes and yields a stable schema at the smallest SF."""
    sf = f"{testdata_dir}/sf0.001"
    for name, fn in E.queries().items():
        df = fn(spark, sf)
        assert df.columns, name
        df.limit(1).collect()


def test_binary_extract_rows_repeat(spark):
    """conv_id is relative to the query's fresh temp directory, so two runs
    return equal rows."""
    first = E.x_binary_extract(spark, None).collect()
    second = E.x_binary_extract(spark, None).collect()
    assert first and first == second
    assert {r["conv_id"] for r in first} == {"fenced.txt", "junk.bin", "note.txt", "report.txt"}


def test_check_oracles_rejects_unknown_names():
    import os
    import subprocess

    tool = os.path.join(os.path.dirname(E.__file__), "tools", "check_oracles.py")
    res = subprocess.run([sys.executable, tool, "q_no_such_query", "--help"],
                         capture_output=True, text=True, timeout=300, cwd="/")
    assert res.returncode == 2
    assert "--help q_no_such_query" in res.stderr
