"""Local mirror of the driver's correctness gate.

Runs every query in the catalog at a given SF, runs its DuckDB oracle on
the same parquet files, and compares row count, column names, and values
(order-insensitive, exact). Usage:

    python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from sparkstreaming_gmall_scala_spark.plans.catalog import load_all
from sparkstreaming_gmall_scala_spark.session import get_spark
from sparkstreaming_gmall_scala_spark.sources.tables import TABLES


def list_cols(df: pd.DataFrame) -> list[str]:
    """Columns holding list/array cells — the driver's canonicalizer
    crashes on these (unhashable type: 'list'), so an oracle-checked query
    returning one is a FAIL here even if values would match."""
    import numpy as np

    return [
        c
        for c in df.columns
        if df[c].map(lambda v: isinstance(v, (list, tuple, np.ndarray))).any()
    ]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("object"):
            df[c] = df[c].map(repr)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True
    )


def frame_diff(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Why ``got`` (Spark) differs from ``want`` (the oracle), or None.

    Checks, in order: row count, column names, list-typed columns, dtype
    kinds, then exact values after ``canon``. Dtype kinds must agree (int
    vs float vs object) because the external gate's value-hash is
    type-sensitive; exact width (int32 vs int64) is relaxed."""
    problems = []
    if len(got) != len(want):
        problems.append(f"rows {len(got)} vs {len(want)}")
    if sorted(got.columns) != sorted(want.columns):
        problems.append(f"cols {sorted(got.columns)} vs {sorted(want.columns)}")
    bad_lists = sorted(set(list_cols(got)) | set(list_cols(want)))
    if bad_lists:
        problems.append(
            f"list-typed cols {bad_lists} (the gate's canon crashes on these)"
        )
    if problems:
        return "; ".join(problems)
    a, b = canon(got.copy()), canon(want.copy())
    kinds_a = [a[c].dtype.kind for c in a.columns]
    kinds_b = [b[c].dtype.kind for c in b.columns]
    if kinds_a != kinds_b:
        return f"dtype kinds {kinds_a} vs {kinds_b}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return f"values: {str(e).splitlines()[-1][:200]}"
    return None


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("verify_local")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    registry = load_all()
    n_pass = n_fail = 0
    for name, q in sorted(registry.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = q.builder(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc(limit=3)
            n_fail += 1
            continue
        if q.oracle is None:
            print(f"ok   {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
            continue
        try:
            odf = con.execute(q.oracle).fetchdf()
        except Exception:
            print(f"FAIL {name}: oracle error")
            traceback.print_exc(limit=3)
            n_fail += 1
            continue
        problem = frame_diff(sdf, odf)
        if problem:
            print(f"FAIL {name}: {problem}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
