"""Adversarial driver simulation: a PLAIN SparkSession (America/New_York
timezone, default shuffle partitions — deliberately NOT the engine's tuned
factory), importing __spark_entry__ exactly as the external driver does:
smoke entry(), then run every queries() entry against its oracle_sql() twin.

Usage: python tools/driver_sim.py   (expects FAILS: 0)"""
import math, os, sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb, pandas as pd
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[8]").appName("driver-sim")
         .config("spark.sql.session.timeZone", "America/New_York")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e
df = e.entry(spark)
rows = df.collect()
print("entry(): rows =", len(rows), "schema =", [f.name for f in df.schema.fields])
assert len(rows) > 0

q, o = e.queries(), e.oracle_sql()
print(f"queries: {len(q)}, oracles: {len(o)}")

sf = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

def canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(lambda v: None if v is None or (isinstance(v, float) and math.isnan(v)) else str(v))
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

fails = 0
for name, fn in q.items():
    sdf = fn(spark, sf).toPandas()
    if name not in o:
        print(f"rows-only {name}: {len(sdf)}"); continue
    ddf = con.execute(o[name]).fetchdf()
    a, b = canon(sdf), canon(ddf)
    ok = a.equals(b) and len(a) == len(b)
    if not ok:
        fails += 1
        print(f"FAIL {name}: spark {len(a)} rows vs duck {len(b)}")
        cmp_cols = [c for c in a.columns if not a[c].equals(b[c])] if len(a)==len(b) and list(a.columns)==list(b.columns) else "cols/rows differ"
        print("   mismatch:", cmp_cols)
    else:
        print(f"PASS {name} ({len(a)} rows)")
print("FAILS:", fails)
sys.exit(1 if fails else 0)
