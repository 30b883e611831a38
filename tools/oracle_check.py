"""Local replica of the driver's correctness gate: run each
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB
over the same parquet tables, then compare row count, column names,
and order-insensitive values.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from waterdata_spark.queries import QUERIES  # noqa: E402
from waterdata_spark.schemas import TESTDATA_TABLES  # noqa: E402
from waterdata_spark.session import get_spark  # noqa: E402


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if v is None or (isinstance(v, float) and math.isnan(v)) else str(v))
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _values_equal(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str]:
    if list(a.columns) != list(b.columns):
        return False, f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return False, f"rowcount {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        try:
            if av.dtype.kind == "f" or bv.dtype.kind == "f":
                an = av.astype(float)
                bn = bv.astype(float)
                both_nan = an.isna() & bn.isna()
                if not ((an == bn) | both_nan).all():
                    bad = (~((an == bn) | both_nan)).idxmax()
                    return False, f"col {c} row {bad}: {an[bad]!r} vs {bn[bad]!r}"
            else:
                asv = av.map(lambda v: None if pd.isna(v) else str(v))
                bsv = bv.map(lambda v: None if pd.isna(v) else str(v))
                if not (asv.fillna("\0") == bsv.fillna("\0")).all():
                    bad = (asv.fillna("\0") != bsv.fillna("\0")).idxmax()
                    return False, f"col {c} row {bad}: {asv[bad]!r} vs {bsv[bad]!r}"
        except Exception as exc:  # noqa: BLE001
            return False, f"col {c}: compare error {exc}"
    return True, "ok"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    names = [a for a in sys.argv[1:] if "/" not in a] or list(QUERIES)

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    n_pass = n_fail = 0
    for name in names:
        spec = QUERIES[name]
        t0 = time.time()
        try:
            spark_df = spec.fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            n_fail += 1
            continue
        t_spark = time.time() - t0
        if spec.sql is None:
            print(f"SKIP {name}: rows-only ({len(spark_df)} rows, {t_spark:.1f}s)")
            continue
        try:
            duck_df = con.execute(spec.sql).fetchdf()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {exc}")
            n_fail += 1
            continue
        ok, msg = _values_equal(_canon(spark_df), _canon(duck_df))
        status = "PASS" if ok else "FAIL"
        if ok:
            n_pass += 1
        else:
            n_fail += 1
        print(f"{status} {name}: {len(spark_df)} rows, spark {t_spark:.1f}s — {msg}")

    print(f"\n{n_pass} pass, {n_fail} fail, {len(names) - n_pass - n_fail} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
