"""Declared schemas for the engine.

Two families:

1. The water-domain entities from the reference pipeline
   (SURVEY.md §1.1). The reference infers schemas at read time and
   coerces imperatively (``astype`` at down/down_water_prep.py:281-288,
   direct/direct_water_prep.py:81-82); the engine declares them once
   so every cast is explicit at ingest and Catalyst can prune/push.

2. The driver's synthetic TPC-H-ish tables (TESTDATA.md) used by the
   correctness oracle and benchmarks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Water-domain entities (reference parity; SURVEY.md §1.1)
# --------------------------------------------------------------------------

# Fact table, "down" channel: one lab analysis per
# (system, location, contaminant, date). Columns cited at
# down/down_water_prep.py:173-192.
SAMPLES_SCHEMA = T.StructType(
    [
        T.StructField("Sample Location", T.StringType()),
        T.StructField("Contaminant ID", T.StringType()),
        T.StructField("Analysis Result", T.StringType()),  # '.' sentinel → cleaned to double
        T.StructField("MCL In Effect", T.StringType()),
        T.StructField("Sample Date", T.StringType()),  # MM/DD/YYYY, cleaned to date
        T.StructField("Sample Type", T.StringType()),
        T.StructField("Laboratory ID", T.StringType()),
        T.StructField("Analysis Method", T.StringType()),
        T.StructField("Analysis Date", T.StringType()),
        T.StructField("Sample Received Date", T.StringType()),
        # provenance columns (down/down_water_prep.py:185-192)
        T.StructField("SPLIT_PAGES", T.StringType()),
        T.StructField("PWSID", T.LongType()),
        T.StructField("SYSTEM NAME", T.StringType()),
        T.StructField("MAIN_PAGE", T.StringType()),
        T.StructField("TOP_MARGIN", T.StringType()),
        T.StructField("SYSNAME_PAGE", T.StringType()),
    ]
)

# Dim "SPI": one row per (PWSID, sample point)
# (down/down_water_prep.py:67, down/csvdispSPIp1.csv:1).
SAMPLE_POINTS_KEY_COLS = ["PWSID", "SAMPLE POINT ID"]

# Dim "BI": one row per PWSID (down/down_water_prep.py:69).
SYSTEMS_KEY_COLS = ["PWSID"]

# Dim sites: one row per SITE_ID (down/down_water_prep.py:70-71).
SITES_SCHEMA = T.StructType(
    [
        T.StructField("SITE_ID", T.LongType()),
        T.StructField("SITE_NAME", T.StringType()),
        T.StructField("SISSCD_ID", T.StringType()),
        T.StructField("EPA_SITE_ID", T.StringType()),
        T.StructField("ADDRESS1", T.StringType()),
        T.StructField("ADDRESS2", T.StringType()),
        T.StructField("CITY", T.StringType()),
        T.StructField("STATE_CODE", T.StringType()),
        T.StructField("ZIP_CODE", T.StringType()),
    ]
)

# "direct" channel fact (direct/direct_water_prep.py:152, compare.py:36).
DIRECT_DATA_COLS = [
    "PWSID",
    "CONTAMID",
    "CONTNAM",
    "RESULT",
    "SAMPTYPE",
    "SAMPDATE",
    "SAMPTIME",
    "ANALDATE",
]

# "direct" channel dim subset kept (direct/direct_water_prep.py:126).
DIRECT_SYSINFO_COLS = [
    "PWSID",
    "SYSTYPE",
    "LOC_EPID",
    "SYSNAME",
    "POPL",
    "AREACITY",
    "SYSOWNAM",
    "MAIL_ADDR1",
    "MAIL_ADDR2",
    "SYSLOCCY",
    "MAIL_ZIP",
]

# Domain ranges (direct/direct_water_prep.py:76-78,85-89).
EPID_RANGE = (100, 199)
SPID_RANGE = (700, 999)

# --------------------------------------------------------------------------
# Synthetic testdata tables (TESTDATA.md)
# --------------------------------------------------------------------------

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table. Parquet scan → Catalyst gets pushdown
    and column pruning for free; callers select/filter declaratively.

    Engine contract: ``events.ts`` is ALWAYS epoch-ns (UTC, long)
    after this function, whatever the physical parquet layout —
    timestamp[ns] (read as raw long via the legacy nanosAsLong flag),
    timestamp[us] NTZ (converted with timestampdiff against an NTZ
    epoch literal — both operands naive, so no session-timezone
    dependence), or timestamp LTZ (unix_micros, an instant, also
    tz-free). The helpers in functions/time.py then derive calendar
    fields with pure integer arithmetic, matching DuckDB's
    naive-wall-clock semantics under ANY driver session timezone.

    Pushdown note: on layouts where ``ts`` is derived (NTZ/LTZ), a
    range predicate on the derived long no longer reaches the parquet
    scan as a pushed filter (Catalyst won't invert the expression).
    None of the registered queries range-filter raw ``ts``; at
    warehouse scale, time pruning should come from date partitioning
    of the table (see the partition-pruning tests), not row-group
    stats on a derived column.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        dt = df.schema["ts"].dataType
        if isinstance(dt, T.TimestampNTZType):
            df = df.withColumn(
                "ts",
                F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
                * F.lit(1000).cast("long"),
            )
        elif isinstance(dt, T.TimestampType):
            df = df.withColumn("ts", F.unix_micros("ts") * F.lit(1000).cast("long"))
    return df

