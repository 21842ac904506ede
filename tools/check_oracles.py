"""Local replica of the driver's correctness gate: run each __spark_entry__
query on Spark and its oracle on DuckDB at sf0.01, compare row count, column
names, and order-insensitive values. Exits nonzero on any mismatch.

Usage: python tools/check_oracles.py [query ...]
A name that matches no query exits 2 before anything runs.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from document_extraction_spark import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _kind(s: pd.Series) -> str:
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    return "object"


def _raw_array_cols(df: pd.DataFrame) -> list[str]:
    """Columns whose cells are raw lists/arrays/dicts — the DRIVER's
    canonicalizer crashes on these (`unhashable type: 'list'` in
    sort_values); round-1 lost 5 entries to it. Contract queries must
    serialize such columns (to_json) on BOTH sides."""
    import numpy as np

    bad = []
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            head = s.dropna().head(20)
            if any(isinstance(v, (list, tuple, dict, np.ndarray)) for v in head):
                bad.append(c)
    return bad


def _canon_value(v):
    return repr(v)


def _float_eq(a: float, b: float) -> bool:
    """Match the driver's BYTE-hash semantics, not Python `==`: the driver
    hashes value bytes, so -0.0 vs 0.0 is a mismatch even though they compare
    equal (round-2's q_stats_aggs failure — the second checker-laxer-than-
    driver divergence; this makes the local gate strictly as strict)."""
    a, b = float(a), float(b)
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return a == b and math.copysign(1.0, a) == math.copysign(1.0, b)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif s.dtype == object:
            df[c] = s.map(_canon_value)
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype(bool)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype(float)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    errs = []
    if sorted(sdf.columns) != sorted(odf.columns):
        return [f"columns differ: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"]
    raw = _raw_array_cols(sdf) + _raw_array_cols(odf)
    if raw:
        return [f"raw array/map column(s) {sorted(set(raw))} — driver canonicalizer "
                "crashes on these; serialize with to_json on both sides"]
    # the driver hashes typed values: int64 vs float64 is a hash mismatch
    # even when numerically equal (round-1 root cause of 3 FAILs)
    for c in sorted(sdf.columns):
        ks, ko = _kind(sdf[c]), _kind(odf[c])
        if ks != ko:
            errs.append(f"col {c}: dtype kind spark={ks} oracle={ko} "
                        "(driver hash mismatch even if values equal)")
    if errs:
        return errs
    if len(sdf) != len(odf):
        errs.append(f"row count: spark={len(sdf)} oracle={len(odf)}")
    a, b = canon(sdf), canon(odf)
    n = min(len(a), len(b))
    for c in a.columns:
        av, bv = a[c].iloc[:n], b[c].iloc[:n]
        if pd.api.types.is_float_dtype(av):
            bad = [i for i in range(n) if not _float_eq(av.iat[i], bv.iat[i])]
        else:
            bad = [i for i in range(n) if av.iat[i] != bv.iat[i]]
        if bad:
            i = bad[0]
            errs.append(f"col {c}: {len(bad)} diffs; first at row {i}: spark={av.iat[i]!r} oracle={bv.iat[i]!r}")
    return errs


def main() -> int:
    only = set(sys.argv[1:])
    qs = E.queries()
    unknown = sorted(only - qs.keys())
    if unknown:
        print(f"unknown query name(s): {' '.join(unknown)}", file=sys.stderr)
        return 2
    oracles = E.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    spark = get_spark("check_oracles", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {str(ex).splitlines()[0][:160]}")
            failures += 1
            continue
        if name not in oracles:
            raw = _raw_array_cols(sdf)
            if raw:
                failures += 1
                print(f"FAIL  {name}: raw array/map column(s) {raw} — driver "
                      "canonicalizer crashes; serialize with to_json")
                continue
            print(f"rows  {name}: {len(sdf)} rows (rows-only check, no oracle)")
            if len(sdf) == 0 and not name.startswith("x_"):
                print(f"WARN  {name}: zero rows")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {str(ex).splitlines()[0][:160]}")
            failures += 1
            continue
        errs = compare(name, sdf, odf)
        if errs:
            failures += 1
            print(f"FAIL  {name}: " + " | ".join(errs[:3]))
        else:
            print(f"OK    {name}: {len(sdf)} rows")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
