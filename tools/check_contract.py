"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry at sf0.01 Spark-side AND its
oracle_sql() DuckDB-side, compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted by
stringified tuple). Usage: python tools/check_contract.py [names...]

A ``DTYPE <name>: <col> spark=<cls> duck=<cls>`` line reports a column
whose value class (int, float, string, bool, binary, list) differs
between the engines; it does not change the entry's PASS/FAIL.
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_T2", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return "NULL"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if f == int(f) and abs(f) < 1e15:
            return repr(int(f))
        return repr(f)
    if isinstance(v, (np.integer, int)):
        return repr(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def dtype_class(col: pd.Series) -> str:
    """Coarse value class of a result column: int, float, string, bool,
    binary, list (or the Python type name of anything else). An object
    column is classed by its first non-null value."""
    kind = col.dtype.kind
    if kind in "biuf":
        return {"b": "bool", "i": "int", "u": "int", "f": "float"}[kind]
    v = next((x for x in col if x is not None and not (isinstance(x, float) and np.isnan(x))), None)
    if v is None:
        return "null"
    for cls, types in (("bool", (bool, np.bool_)), ("int", (int, np.integer)),
                       ("float", (float, np.floating)), ("string", (str,)),
                       ("binary", (bytes, bytearray)), ("list", (list, tuple, np.ndarray))):
        if isinstance(v, types):
            return cls
    return type(v).__name__


def dtype_mismatches(got: pd.DataFrame, exp: pd.DataFrame) -> list[tuple[str, str, str]]:
    """(column, spark class, duckdb class) for every shared column whose
    value class differs -- a type-only difference the value hash cannot
    see (``norm_cell`` prints an integral float as an int)."""
    out = []
    for c in sorted(set(got.columns) & set(exp.columns)):
        a, b = dtype_class(got[c]), dtype_class(exp[c])
        if a != b and "null" not in (a, b):
            out.append((c, a, b))
    return out


def frame_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)]
    rows = sorted("\x1f".join(norm_cell(v) for v in row) for row in df.itertuples(index=False, name=None))
    return hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]


def main(only: list[str]) -> int:
    import __spark_entry__ as e
    from rasters_spark import get_spark

    spark = get_spark("check_contract", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"create view {t} as select * from read_parquet('{p}')")

    qs, osql = e.queries(), e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}", flush=True)
            failures += 1
            continue
        if name not in osql:
            print(f"ok?  {name}: rows-only check, {len(got)} rows (no oracle)", flush=True)
            continue
        try:
            exp = con.sql(osql[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: oracle error: {ex}", flush=True)
            failures += 1
            continue
        for col, a, b in dtype_mismatches(got, exp):
            print(f"DTYPE {name}: {col} spark={a} duck={b}", flush=True)
        problems = []
        if len(got) != len(exp):
            problems.append(f"rows {len(got)} != {len(exp)}")
        if sorted(got.columns) != sorted(exp.columns):
            problems.append(f"cols {sorted(got.columns)} != {sorted(exp.columns)}")
        if not problems and frame_hash(got) != frame_hash(exp):
            problems.append("value-hash mismatch")
            merged = got[sorted(got.columns)].copy()
            mk = lambda d: sorted("\x1f".join(norm_cell(v) for v in r) for r in d[sorted(d.columns)].itertuples(index=False, name=None))
            g, x = mk(got), mk(exp)
            diff = [(a, b) for a, b in zip(g, x) if a != b][:3]
            for a, b in diff:
                problems.append(f"  spark={a[:160]}\n  duck ={b[:160]}")
        if problems:
            failures += 1
            print(f"FAIL {name}: " + "; ".join(problems[:1]), flush=True)
            for p in problems[1:]:
                print("  " + p)
        else:
            print(f"PASS {name}: {len(got)} rows", flush=True)
    return failures


if __name__ == "__main__":
    sys.exit(1 if main(sys.argv[1:]) else 0)
