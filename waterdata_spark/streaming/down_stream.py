"""Incremental (streaming) form of the reference's "down" lifecycle
(SURVEY.md §3, entry point 1).

The reference processes its yearly extracts as a batch rerun over all
files (down/down_water_prep.py:258 unions every rptinfo*.csv each
run). The streaming form treats each year's extract as an ARRIVING
file: a Structured Streaming file source picks it up as a micro-batch,
conforms it, and runs the same hierarchical fallback join against the
static site dimension (stream-static broadcast join, append mode).
Stream-vs-batch equality on the full 7-year corpus is pinned by
tests/test_pipelines.py::TestDownStreaming.

Layout hazard (§1.3): the yearly CSVs put the same 16 columns in
DIFFERENT orders (2014-2016 vs 2017+). A file-stream source maps CSV
columns POSITIONALLY, so streaming the raw files would silently
corrupt — exactly the hazard read_csv_multi's by-name union guards
against in batch. The streaming answer is a bronze landing step
(:func:`stage_yearly_facts`): each extract is read by name once at
landing time and written as schema-canonical Parquet; the stream
reads the landing zone, where layout is uniform by construction.
This mirrors a production landing zone (Kafka/object-store bronze)
and keeps the conformance cost per-file-once, not per-rerun.

Scale shape: the fact stream is never shuffled — conform is stateless
projection, dedup state is keyed by the row hash in the state store,
and every join tier is a broadcast of the KB-MB site dim. State in
the dedup operator is the only per-row cost that accumulates; at
100 TB the key should be sha2(concat(cols)) with a watermark
(streaming/ops.py::dedup_stream) so state is bounded by the lateness
horizon rather than corpus size.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from waterdata_spark.pipelines.down import conform_fact, down_join_transform
from waterdata_spark.sources.csv import read_csv

# canonical landing schema: the 16 fact columns in 2017+ header order
# (down/down_water_prep.py:258's post-union column set)
FACT_COLUMNS = [
    "Sample Location",
    "Contaminant ID",
    "Analysis Result",
    "MCL In Effect",
    "Sample Date",
    "Sample Type",
    "SPLIT_PAGES",
    "PWSID",
    "SYSTEM NAME",
    "MAIN_PAGE",
    "TOP_MARGIN",
    "SYSNAME_PAGE",
    "Laboratory ID",
    "Analysis Method",
    "Analysis Date",
    "Sample Received Date",
]


def stage_yearly_facts(spark: SparkSession, csv_paths: list[str], landing_dir: str) -> list[str]:
    """Bronze landing: conform each yearly extract to the canonical
    column order (aligned BY NAME — the §1.3 layout hazard) and land
    it as ONE Parquet file per year, so the downstream file stream
    sees one micro-batch per year with ``maxFilesPerTrigger=1``.

    Idempotent per file: a year already landed is skipped, which is
    the semantics of a real landing zone (new extracts append, old
    ones are immutable). Returns the landed file paths in name order.
    """
    os.makedirs(landing_dir, exist_ok=True)
    landed = []
    for p in sorted(csv_paths):
        stem = os.path.splitext(os.path.basename(p))[0]
        dst = os.path.join(landing_dir, f"{stem}.parquet")
        if not os.path.exists(dst):
            df = read_csv(spark, p).select(FACT_COLUMNS)
            tmp = os.path.join(landing_dir, f"__tmp_{stem}")
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            shutil.move(part, dst)
            shutil.rmtree(tmp)
        landed.append(dst)
    return landed


def read_fact_landing_stream(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File stream over the landed yearly Parquet: one file per
    trigger = one year per micro-batch, the reference's extract
    cadence replayed incrementally."""
    schema = spark.read.parquet(os.path.join(landing_dir, "*.parquet")).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(os.path.join(landing_dir, "*.parquet"))
    )


def down_stream(spark: SparkSession, site_sub: DataFrame, landing_dir: str) -> DataFrame:
    """The full incremental down pipeline: landing-zone file stream →
    conform → hierarchical fallback join against the STATIC site dim
    (the dim changes on its own slow cadence; each micro-batch joins
    the current snapshot). ``site_sub`` is taken as given, as
    :func:`~waterdata_spark.pipelines.down.down_csv_stage` returns it
    (materialized once). Returns a streaming DataFrame; drive it with
    ops.run_stream_to_memory or a real sink."""
    fact = conform_fact(read_fact_landing_stream(spark, landing_dir))
    return down_join_transform(site_sub, fact)
