"""The "down" channel pipeline (SURVEY.md §3, entry point 1) as a
declarative DataFrame DAG.

Reference: ``python down_water_prep.py {pdf|csv|join}``
(down/down_water_prep.py:226-551). The pdf stage is the C5 source
(sources/pdf_table.py); this module is the ``csv`` stage (conform +
dimension assembly, :249-426) and the ``join`` stage (hierarchical
fallback join, :428-546).

Between the two stages the reference has a genuine human step —
geocoding addresses in Google Sheets and pasting a ``Coordinates``
column back (:414-423) — so the stage boundary is a durable Parquet
checkpoint in the engine (C7), and the join stage treats
``Coordinates`` as optional.

Scale: the fact table (samples) is the only large input; every dim is
KB-MB → broadcast. No fact shuffle anywhere in either stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from waterdata_spark.functions.cleaning import coalesce_suffixed, strip_float_suffix
from waterdata_spark.operators.expectations import (
    expect_column_consistency_observed,
    expect_row_count_preserved_observed,
)
from waterdata_spark.operators.fallback_join import fallback_join
from waterdata_spark.operators.joins import suffixed_join
from waterdata_spark.sources.csv import read_csv_multi
from waterdata_spark.sources.excel import read_excel_sheet

# the 7 columns SPI and BI both carry; filled X from X_y post-outer-join
# (down/down_water_prep.py:307-313) then consistency-gated (:324-360)
SHARED_SPI_BI_COLS = [
    "CLIENT ID",
    "COUNTY",
    "DISTRICT",
    "POPULATION SERVED",
    "PRIMARY SOURCE",
    "REGION",
    "PRIMARY FACILITY ID",
]

# projection of the conformed site table (down/down_water_prep.py:376-402)
SITE_FIELDS = [
    "PWSID",
    "SYSTEM NAME",
    "Sample Location",
    "SAMPLE POINT AVAILABILITY",
    "SAMPLE POINT NAME",
    "CLIENT ID",
    "SITE_ID",
    "POPULATION SERVED",
    "PRIMARY SOURCE",
    "DISTRICT",
    "REGION",
    "COUNTY",
    "ACTIVITY CODE",
    "PRIMARY FACILITY ID",
    "SYSTEM TYPE",
    "OWNER TYPE",
    "SITE_NAME",
    "EPA_SITE_ID",
    "ADDRESS1",
    "ADDRESS2",
    "CITY",
    "STATE_CODE",
    "ZIP_CODE",
]

DATA_COLUMNS = [
    "Sample Location",
    "Contaminant ID",
    "Analysis Result",
    "MCL In Effect",
    "Sample Date",
    "Sample Type",
    "Laboratory ID",
    "Analysis Method",
    "Analysis Date",
    "Sample Received Date",
    "SPLIT_PAGES",
    "PWSID",
    "SYSTEM NAME",
    "MAIN_PAGE",
    "TOP_MARGIN",
    "SYSNAME_PAGE",
]


def down_csv_stage(
    spark: SparkSession,
    spi_paths: list[str],
    bi_paths: list[str],
    sites_xlsx: str,
    data_paths: list[str],
) -> tuple[DataFrame, DataFrame]:
    """Conform stage (down/down_water_prep.py:249-426): union the dim
    pages + yearly fact CSVs by name, assemble the site dimension via
    outer join + coalesce + consistency gate, clean the fact table.
    Returns (site_sub, data).

    ``site_sub`` comes back materialized: one eager local checkpoint at
    the end of the stage, whose job also evaluates the C42 gate (an
    observation on the pre-coalesce frame), so the gate raises
    ``ExpectationError`` before this function returns and costs no job
    of its own. This mirrors the reference's intermediate CSV
    (SITE_PREP, :408,454): the join stage, its three tier dedups and
    the streaming join read the dim as given instead of re-running the
    xlsx parse + outer join. ``data`` stays lazy — callers wanting a
    durable fact boundary use checkpoint_parquet (C7), exactly like the
    reference's DATA_PREP."""
    spi = read_csv_multi(spark, spi_paths).withColumnRenamed("PRMRY_FAC_ID", "PRIMARY FACILITY ID")
    bi = read_csv_multi(spark, bi_paths)
    sites = read_excel_sheet(spark, sites_xlsx)
    data = read_csv_multi(spark, data_paths)

    # declared-type discipline at the boundary (:281-288): PWSID numeric,
    # POPULATION SERVED deliberately string so it survives joins
    spi = spi.withColumn("PWSID", F.col("PWSID").cast("long"))
    bi = bi.withColumn("PWSID", F.col("PWSID").cast("long"))

    # SPI ⟗ BI on the 3 shared identity keys (:296), then ⟕ sites (:302)
    spi_bi = suffixed_join(spi, bi, on=["PWSID", "SYSTEM NAME", "SITE ID"], how="full_outer")
    spi_bi = spi_bi.withColumnRenamed("SITE ID", "SITE_ID")
    site_df = suffixed_join(
        spi_bi, sites.withColumn("SITE_ID", F.col("SITE_ID").cast("string")), on=["SITE_ID"], how="left"
    )

    site_df = site_df.withColumn("SYSTEM NAME", F.trim("SYSTEM NAME"))

    # C42 gate BEFORE coalescing (the reference checks X vs X_y where both
    # present, :324-360) — observed during the checkpoint below
    site_df, check_consistency = expect_column_consistency_observed(
        site_df, [(c, c + "_y") for c in SHARED_SPI_BI_COLS]
    )
    site_df = coalesce_suffixed(site_df, SHARED_SPI_BI_COLS)
    site_df = site_df.distinct()

    site_sub = (
        site_df.withColumnRenamed("SAMPLE POINT ID", "Sample Location")
        .select(*SITE_FIELDS)
        # geocoding helper address (:404-406): 'A1[, A2], CITY, ST, ZIP'
        # with A1+' '+A2 when ADDRESS2 present
        .withColumn(
            "Lat_Long_Address",
            F.concat_ws(
                ", ",
                F.when(
                    F.col("ADDRESS2").isNotNull(),
                    F.concat_ws(" ", "ADDRESS1", "ADDRESS2"),
                ).otherwise(F.col("ADDRESS1")),
                F.col("CITY"),
                F.col("STATE_CODE"),
                F.col("ZIP_CODE"),
            ),
        )
    ).localCheckpoint(eager=True)
    check_consistency()
    return site_sub, conform_fact(data)


def conform_fact(data: DataFrame) -> DataFrame:
    """Fact cleaning (down/down_water_prep.py:281-288,315-321): PWSID
    cast, exact dedup, PDF-artifact repair, trims, date de-spacing.

    One definition for batch and stream: on a batch frame
    ``dropDuplicates()`` plans exactly as ``distinct()``; on a stream
    (streaming/down_stream.py) it is the stateful dedup, GLOBAL across
    micro-batches — a duplicate arriving years later is still dropped,
    as the batch rerun over all files drops it. Unwatermarked state is
    right for the bounded yearly corpus; unbounded feeds key the state
    by content sha2 with a watermark (streaming/ops.py::dedup_stream).
    """
    return (
        data.withColumn("PWSID", F.col("PWSID").cast("long"))
        .dropDuplicates()
        .withColumn(
            "Sample Type",
            F.when(F.col("Sample Type") == "DISTRIBUTIO N", "DISTRIBUTION").otherwise(F.col("Sample Type")),
        )
        .withColumn("SYSTEM NAME", F.trim("SYSTEM NAME"))
        .withColumn("Sample Date", F.regexp_replace("Sample Date", r"\s", ""))
    )


def _normalize_sample_location(df: DataFrame, null_marker: str) -> DataFrame:
    """Key normalization for the join stage (:456-493): sentinel nulls →
    a side-specific marker so null≠null across sides, strip pandas'
    '.0' float residue, 'n'-prefix to force string joins, trim."""
    c = F.col("Sample Location").cast("string")
    c = F.when(c.isNull() | c.isin("nan", "NaN", ""), F.lit(null_marker)).otherwise(c)
    c = strip_float_suffix(c)
    return df.withColumn("Sample Location", F.concat(F.lit("n"), F.trim(c)))


def down_join_transform(site_sub: DataFrame, data: DataFrame) -> DataFrame:
    """The join stage's pure transformation (down/down_water_prep.py:
    428-546): key normalization on both sides + the hierarchical
    fallback join.

    Tiers: [PWSID, SYSTEM NAME, Sample Location] → [PWSID, SYSTEM NAME]
    → [PWSID]; "matched" means the joined row got a usable ZIP_CODE
    (:511-512,521-522); the final tier is a plain left join (:528-532).

    The fact side is touched only by stateless projections and
    broadcast left joins, so ``data`` may be a STREAMING DataFrame
    (stream-static join, append mode) — the incremental form of the
    reference lifecycle where each year's extract arrives as a new
    file (streaming/down_stream.py). The site side is read as given:
    :func:`down_csv_stage` returns it materialized, so the three tier
    dedups rescan that checkpoint, not the xlsx parse + outer join.
    Batch callers wanting the row-count gate use
    :func:`down_join_stage`.
    """
    site = _normalize_sample_location(site_sub, "X")
    fact = _normalize_sample_location(data, "Y")

    site = site.withColumn("PWSID", F.trim(F.col("PWSID").cast("string")).cast("long"))
    fact = fact.withColumn("PWSID", F.trim(F.col("PWSID").cast("string")).cast("long"))
    site = site.withColumn("SYSTEM NAME", F.trim("SYSTEM NAME"))
    fact = fact.withColumn("SYSTEM NAME", F.trim("SYSTEM NAME"))

    # optional human-geocoded Coordinates column → Latitude/Longitude (:465-467)
    if "Coordinates" in site.columns:
        site = (
            site.withColumn("Latitude", F.split("Coordinates", ",").getItem(0))
            .withColumn("Longitude", F.split("Coordinates", ",").getItem(1))
            .drop("Coordinates")
        )

    # normalize zip sentinels so match_when sees one null form (:507)
    site = site.withColumn(
        "ZIP_CODE",
        F.when(F.col("ZIP_CODE").isin("nan", "NaN", ""), F.lit(None)).otherwise(F.col("ZIP_CODE")),
    )

    tiers = [["PWSID", "SYSTEM NAME", "Sample Location"], ["PWSID", "SYSTEM NAME"], ["PWSID"]]
    # payload excludes every tier-1 key: on the weaker tiers the fact's own
    # 'SYSTEM NAME'/'Sample Location' values are kept, exactly like the
    # reference deleting the dim's suffixed copies (_z2/_z3, :534-536)
    payload = [c for c in site.columns if c not in tiers[0]]
    # per-tier winner selection mirrors :498-501 (tiers 1-2 sort by
    # Sample Location desc, tier 3 by SYSTEM NAME desc), then ZIP_CODE,
    # SITE_ID and every remaining site column in a fixed order: sites
    # can tie on all of those (59 PWSIDs of the shipped data at tier 3),
    # and only a total order picks the same winner on every run
    def dedup_order(lead: str, keys: list[str]) -> list:
        head = [lead, "ZIP_CODE", "SITE_ID"]
        rest = [c for c in site.columns if c not in head and c not in keys]
        return [F.col(lead).desc(), *[F.col(c).asc_nulls_last() for c in head[1:] + rest]]

    dedup_orders = [
        dedup_order("Sample Location", tiers[0]),
        dedup_order("Sample Location", tiers[1]),
        dedup_order("SYSTEM NAME", tiers[2]),
    ]

    return fallback_join(
        fact,
        site,
        tiers=tiers,
        payload=payload,
        dedup_order=dedup_orders,
        match_col="ZIP_CODE",
        match_pred=lambda c: c.isNotNull() & (c != ""),
        final_tier_left=True,
    )


def down_join_stage(spark: SparkSession, site_sub: DataFrame, data: DataFrame) -> DataFrame:
    """Batch entry for the join stage: run :func:`down_join_transform`
    and enforce the C43 row-count law (:540-543).

    ``site_sub`` is taken as given — :func:`down_csv_stage` already
    materialized it; a caller passing a lazy dim re-runs its DAG for
    every tier's dim dedup. The fact stays lazy — callers wanting a
    durable boundary use checkpoint_parquet (C7), exactly like the
    reference's DATA_PREP.
    """
    # C43 as a one-pass observation: the input count materializes
    # during the same action that evaluates the join output.
    data, check_rows = expect_row_count_preserved_observed(data)
    out = down_join_transform(site_sub, data)
    check_rows(out.count())
    return out


def down_publish(final_df: DataFrame, path: str) -> DataFrame:
    """Gold-zone publish (SURVEY.md §1.4): the reference's manual
    per-year files (down/down_water_prep.py:204-215) become a
    year-partitioned Parquet table — partition pruning replaces
    filename-based year selection, and the layout is append-friendly
    for the next year's extract.

    Returns the published table re-read from disk (so downstream
    queries get pruning against the real layout).
    """
    from waterdata_spark.functions.cleaning import parse_us_date

    out = final_df.withColumn("sample_year", F.year(parse_us_date("Sample Date")))
    out.write.mode("overwrite").partitionBy("sample_year").parquet(path)
    return final_df.sparkSession.read.parquet(path)
