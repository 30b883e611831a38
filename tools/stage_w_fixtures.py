"""Stage the reference pipeline's raw inputs as parquet so the w01/w02
oracle SQL can read them from DuckDB (VERDICT r4 item 4).

The Spark side of w01/w02 keeps reading the raw CSV/xlsx fixtures (so
the C1-C3 ingest surface stays exercised end-to-end); only the DuckDB
oracle consumes these staged files. Staging goes THROUGH the engine's
own readers — read_csv_multi / read_excel_sheet — so the staged bytes
are exactly what the Spark pipeline sees after ingest (all-string
columns, xlsx integer-floats stringified); the oracle therefore
hash-checks everything downstream of ingest, while ingest itself is
covered by the full-corpus parity tests (tests/test_sources.py).

Output (committed to git, ~3 MB total):
    fixtures/w/spi.parquet    dim pages 1-4, unioned by name, raw
    fixtures/w/bi.parquet     dim pages 1-2
    fixtures/w/sites.parquet  ResultsSite.xlsx sheet 0
    fixtures/w/data.parquet   rptinfo2014-2021 fact union (144,595 rows)

Run once: python tools/stage_w_fixtures.py
Regenerate only if the reference fixtures change.
"""

from __future__ import annotations

import glob
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from waterdata_spark.session import get_spark  # noqa: E402
from waterdata_spark.sources.csv import read_csv_multi  # noqa: E402
from waterdata_spark.sources.excel import read_excel_sheet  # noqa: E402

REF = "/root/reference/down"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures", "w")


def main() -> None:
    spark = get_spark("stage-w-fixtures")
    os.makedirs(OUT, exist_ok=True)
    jobs = {
        "spi": read_csv_multi(spark, sorted(glob.glob(f"{REF}/csvdispSPIp*.csv"))),
        "bi": read_csv_multi(spark, sorted(glob.glob(f"{REF}/csvdispBIp*.csv"))),
        "sites": read_excel_sheet(spark, f"{REF}/ResultsSite.xlsx"),
        "data": read_csv_multi(spark, sorted(glob.glob(f"{REF}/rptinfo*.csv"))),
    }
    for name, df in jobs.items():
        # one file per table: tidy to commit, and DuckDB reads it direct
        tmp = f"{OUT}/_{name}_tmp"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        os.replace(os.path.join(tmp, part), f"{OUT}/{name}.parquet")
        import shutil

        shutil.rmtree(tmp)
        print(f"{name}: {df.count()} rows -> {OUT}/{name}.parquet")


if __name__ == "__main__":
    main()
