"""The benchmark's workloads: what one pass does, op by op.

An op is one call into a public entry point of the library plus the
action that completes it (a digest aggregation that drains the result),
or one streaming micro-batch. Every op's output is checked against a
pinned row count and an order-independent digest (``pins.json``).
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen
import tracing

#: the star-schema query mix (ROADMAP's headline queries). q20 (rollup,
#: cube and grouping sets) is left out: the slowest query of the mix by
#: far, it alone would cost a third of each pass, which the run budget
#: spends on a second timed pass instead
OLAP_QUERIES = (
    "q01_pricing_summary",
    "q03_revenue_by_nation",
    "q06_priority_dedup",
    "q07_topk_orders_per_customer",
    "q14_fallback_join",
    "q17_hourly_rollup",
    "q18_asof_join",
    "q19_sessionize",
)
#: olap table size relative to sf1 row counts
OLAP_SCALE = 0.02
#: replicas of the 7 yearly fact extracts in the water inputs
WATER_REPLICAS = 1
#: the facts are every WATER_FRACTION-th fixture row (1 keeps all 144,595)
WATER_FRACTION = 16
#: site columns a tier-3 (PWSID-only) match leaves undetermined: the dim
#: dedup orders by SYSTEM NAME, ZIP_CODE, SITE_ID, and sample points of
#: one system tie on all three while differing in exactly these columns
#: (counted on fixtures/w: 59 tie groups). Digests of the down product
#: and everything derived from it skip them.
TIER3_TIE_COLS = ("SAMPLE POINT AVAILABILITY", "SAMPLE POINT NAME")


@dataclass
class Op:
    id: str
    kind: str
    seconds: float = 0.0
    ok: bool = True
    error: str | None = None


@dataclass
class Digest:
    rows: int
    value: str
    matched: int | None  # rows passing the ``matched`` test, when one was given
    plan_ms: float


def digest(df: DataFrame, exclude=(), matched: Column | None = None) -> Digest:
    """Row count plus an order-independent content digest: two sums of
    the halves of a 64-bit hash over every column except ``exclude``,
    columns in name order. Floats are hashed by bit pattern with -0.0
    folded into 0.0, so equal doubles digest equal as in the oracle's
    value comparison. This aggregation is the op's draining action."""
    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        if f.name in exclude:
            continue
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.when(c == 0, F.lit(0.0).cast(f.dataType)).otherwise(c)
        cols.append(c)
    h = F.xxhash64(*cols)
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(h.bitwiseAND(0xFFFFFFFF)), F.lit(0)).alias("lo"),
        F.coalesce(F.sum(F.shiftrightunsigned(h, 32)), F.lit(0)).alias("hi"),
    ]
    if matched is not None:
        aggs.append(F.coalesce(F.sum(F.when(matched, 1).otherwise(0)), F.lit(0)).alias("m"))
    agg = df.agg(*aggs)
    row = agg.collect()[0]
    m = int(row["m"]) if matched is not None else None
    return Digest(int(row["n"]), f"{row['n']}:{row['lo']}:{row['hi']}", m, tracing.plan_phase_ms(agg))


# ---------------------------------------------------------------------------
# water_etl
# ---------------------------------------------------------------------------

_PRODUCT_SKIP = (*gen.PROVENANCE, *TIER3_TIE_COLS)


def _zip_ok() -> Column:
    """The down join's "matched" test: the row got a usable ZIP_CODE."""
    return F.col("ZIP_CODE").isNotNull() & (F.col("ZIP_CODE") != "")


def water_inputs(root: str, work: str, seed: int) -> dict:
    return gen.stage_water(
        os.path.join(root, "fixtures", "w"), os.path.join(work, "inputs", f"water-{seed}"), seed, WATER_REPLICAS, WATER_FRACTION
    )


def water_pass(bench, p: int, m: dict) -> None:
    """down_csv_stage -> down_join_stage -> down_publish -> compare_pipeline,
    then the same join as a stream: one micro-batch per landed
    replica-year file, drained into a memory sink."""
    from waterdata_spark.pipelines import compare, down
    from waterdata_spark.streaming import down_stream

    spark = bench.spark
    state: dict = {}

    def csv_stage():
        site_sub, data = down.down_csv_stage(spark, m["spi_paths"], m["bi_paths"], m["sites_xlsx"], m["data_paths"])
        state["site_sub"], state["data"] = site_sub, data
        # the facts stay lazy here, as the stage leaves them; the join
        # stage's digest covers every fact column
        return {"site": digest(site_sub)}

    def join_stage():
        out = down.down_join_stage(spark, state["site_sub"], state["data"])
        state["joined"] = out
        return {"out": digest(out, exclude=_PRODUCT_SKIP, matched=_zip_ok())}

    def publish():
        path = os.path.join(bench.work, "out", "published")
        pub = down.down_publish(state["joined"], path)
        state["published"] = pub
        files = sum(1 for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))
        return {"out": digest(pub, exclude=_PRODUCT_SKIP)}, {"files_written": files}

    def compare_stage():
        direct = spark.read.parquet(m["direct_path"])
        out = compare.compare_pipeline(spark, state["published"], direct)
        return {"out": digest(out, exclude=(*_PRODUCT_SKIP, "row_num_down", "row_num_direct"))}

    rows = m["distinct_fact_rows"]
    ok = bench.run_op(p, "csv_stage", csv_stage)
    ok = ok and bench.run_op(p, "join_stage", join_stage, rows={"out": rows})
    ok = ok and bench.run_op(p, "publish", publish, rows={"out": rows})
    ok = ok and bench.run_op(p, "compare", compare_stage)
    bench.run_stream(p, lambda: down_stream.down_stream(spark, state["site_sub"], os.path.dirname(m["landing_files"][0])),
                     expect_batches=len(m["landing_files"]), ok=ok, rows=rows,
                     same_as=bench.last_digest(p, "join_stage", "out"))


# ---------------------------------------------------------------------------
# olap_sf1
# ---------------------------------------------------------------------------


def olap_inputs(root: str, work: str, seed: int) -> dict:
    return gen.gen_olap(os.path.join(work, "inputs", f"olap-{seed}"), seed, OLAP_SCALE)


def olap_pass(bench, p: int, m: dict) -> None:
    """The query mix in a seeded order per pass; each op builds one
    query (QUERIES[q].fn) and drains it through the digest."""
    from waterdata_spark.queries import QUERIES

    order = list(OLAP_QUERIES)
    random.Random(f"{bench.seed}:{p}").shuffle(order)
    sf_dir = m["sf_dir"]
    for q in order:

        def op(q=q):
            t0 = time.perf_counter()
            with bench.span(f"queries.{q}", "queries"):
                df = QUERIES[q].fn(bench.spark, sf_dir)
            t1 = time.perf_counter()
            matched = F.col("match_tier").isNotNull() if "match_tier" in df.columns else None
            d = digest(df, matched=matched)
            t2 = time.perf_counter()
            return {"out": d}, {"build_s": t1 - t0, "drain_s": t2 - t1}

        bench.run_op(p, q, op)


WORKLOADS = {
    "water_etl": (water_inputs, water_pass),
    "olap_sf1": (olap_inputs, olap_pass),
}

