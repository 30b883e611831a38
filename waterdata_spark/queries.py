"""Oracle-checked query suite — one entry per implemented operator
from SURVEY.md §2 (+ extension operators §2.9).

Each query has a Spark implementation (DataFrame API, Catalyst-
optimizable) and a matching ANSI-SQL oracle executed by DuckDB on the
same parquet tables. Numeric policy, so value-hashes match bit-exact:

- monetary sums: cast operands to DECIMAL before SUM (exact, order-
  independent), cast the result back to DOUBLE;
- averages: exact decimal SUM (as double) divided by COUNT — one IEEE
  division, identical in both engines;
- row-level arithmetic on doubles: IEEE ops are deterministic and
  engine-independent — safe to compare raw;
- every computed integer is cast to BIGINT/long on BOTH sides
  (Spark's size/row_number return int32, DuckDB's len/EXTRACT return
  int64 — don't let the engines disagree on width);
- dates in output are formatted as 'yyyy-MM-dd' strings.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from waterdata_spark.plans import cachereg

from waterdata_spark.functions.text import LANG_MARKERS, token_count, tokens
from waterdata_spark.operators.dedup import exact_dedup, priority_dedup
from waterdata_spark.operators.expand import expand_keys
from waterdata_spark.operators.fallback_join import fallback_join
from waterdata_spark.schemas import load_table
from waterdata_spark.sources.down_pages import FIXTURES_W, down_page_paths, down_pages_dir

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    fn: QueryFn
    sql: str | None  # None → non-SQL-expressible, driver does rows-only check
    doc: str = ""
    tags: list[str] = field(default_factory=list)


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, sql: str | None, doc: str = "", tags: list[str] | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def gated(spark: SparkSession, sf: str) -> DataFrame:
            # Query-boundary cache drain: internal frames persisted by
            # the PREVIOUS query are dead weight by now; release them so
            # a long-lived gate/bench JVM never accumulates orphaned
            # storage blocks (plans/cachereg.py has the measurements).
            cachereg.release_all()
            return fn(spark, sf)

        QUERIES[name] = QuerySpec(fn=gated, sql=sql, doc=doc, tags=tags or [])
        return fn

    return deco


def _sum_money(c, scale: int = 2, alias: str | None = None):
    """Exact money sum, r13 SPLIT-LONG form (guide §2.3 narrower
    types, measured: plans/r13/q01_cents_probe_sf10.json).

    Value-identical to the pre-r13 ``sum(cast(x as decimal(18,s)))
    .cast(double)``: per row, ``units == floor(dec)*10^s + lo`` with
    ``lo`` in ``[0, 10^s)`` is an exact identity (both derived from
    the same ``decimal(18,s)`` quantization), the two long sums are
    exact, and the decimal(38,0) recombination + division restore the
    exact unit total before the single final cast to double — so the
    nearest-double result is bit-identical to the decimal form's
    (probe equality + full oracle re-run on record).

    Why two long sums instead of one: JVM primitive adds in the hash
    aggregate beat 128-bit decimal adds — q01@sf10 interleaved A/B
    measured decimal 4.56s / split 3.93s / single-long-cents 2.64s
    (mins of 6). The single-long-cents form is fastest but its bound
    is ~2^63 micro-units ≈ 9.2e12 dollars, which a 100 TB lineitem's
    per-group charge sum exceeds 600x (it raises under ANSI — a
    guaranteed failure at the target scale, so rejected). The split
    form's bound is sum(dollars) < 2^63 (~150 PB at TPC-H prices),
    and beyond it ANSI raises rather than corrupting. The decimal
    form remains the documented fallback for wider-than-decimal(18)
    inputs.
    """
    col = F.col(c) if isinstance(c, str) else c
    m = 10 ** scale
    dec = col.cast(f"decimal(18,{scale})")
    units = (dec * F.lit(m)).cast("long")
    hi = F.floor(dec).cast("long")
    total = F.sum(hi).cast("decimal(38,0)") * F.lit(m) + F.sum(units - hi * F.lit(m))
    out = (total / F.lit(m)).cast("double")
    return out.alias(alias) if alias else out


# Document-frequency cap for x06's inverted-index self-join: a token in
# more than this many documents is excluded from the Jaccard vocabulary
# (applied identically in the DuckDB twin). Bounds the join at cap^2
# pairs per token on a hostile corpus; above the max DF of the test
# corpus (103), so the registered query's output is unchanged.
X06_DF_CAP = 128


# ---------------------------------------------------------------------------
# Core relational operators (SURVEY.md §2.2-2.6) on the TPC-H-ish tables
# ---------------------------------------------------------------------------


@query(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H-Q1-shaped aggregation: C28 counts + hash agg + scalar math. "
    "Map-side partial aggregation (2 grouping values) makes the shuffle tiny at any scale.",
    tags=["agg", "filter"],
)
def q01_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _sum_money("l_quantity", 2, "sum_qty"),
        _sum_money("l_extendedprice", 2, "sum_base_price"),
        _sum_money(disc_price, 6, "sum_disc_price"),
        _sum_money(charge, 6, "sum_charge"),
        (_sum_money("l_quantity", 2) / F.count(F.lit(1))).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "q02_filter_project",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           CASE l_returnflag WHEN 'R' THEN 'returned' WHEN 'A' THEN 'accepted'
                ELSE 'none' END AS flag_desc,
           substr(strftime(l_shipdate, '%Y-%m-%d'), 1, 7) AS ship_month,
           CASE WHEN trim(l_linestatus) IN ('.', 'nan', 'NaN', '')
                THEN NULL ELSE l_linestatus END AS status_clean
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="C8 projection + C11/C12 compound predicate (filters and ReadSchema "
    "push down to the parquet scan) + the q10 scalar-cleaning family "
    "consolidated here to free a registry slot: C13 conditional update "
    "(CASE), C34 substring, C39 sentinel→NULL via clean_sentinels.",
    tags=["filter", "project", "scalar"],
)
def q02_filter_project(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.functions.cleaning import clean_sentinels

    li = load_table(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.when(F.col("l_returnflag") == "R", "returned")
            .when(F.col("l_returnflag") == "A", "accepted")
            .otherwise("none")
            .alias("flag_desc"),
            F.substring(F.date_format("l_shipdate", "yyyy-MM-dd"), 1, 7).alias("ship_month"),
            clean_sentinels("l_linestatus").alias("status_clean"),
        )
    )


@query(
    "q03_revenue_by_nation",
    """
    SELECT n.n_name,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    doc="C16/C17 equi joins, dims broadcast (customer+nation ≪ fact): zero "
    "shuffle for the joins, one small shuffle for the final agg.",
    tags=["join", "agg", "broadcast"],
)
def q03_revenue_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            _sum_money("o_totalprice", 2, "revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "q04_full_outer_order_counts",
    """
    WITH big AS (
      SELECT o_custkey, COUNT(*) AS n_big
      FROM orders WHERE o_totalprice > 400000 GROUP BY o_custkey
    )
    SELECT COALESCE(c.c_custkey, b.o_custkey) AS custkey,
           CAST(COALESCE(b.n_big, 0) AS BIGINT) AS n_big_orders,
           CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS has_customer
    FROM customer c
    FULL OUTER JOIN big b ON c.c_custkey = b.o_custkey
    """,
    doc="C18 full outer join + C14 coalesce across sides.",
    tags=["join", "outer"],
)
def q04_full_outer_order_counts(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    big = o.filter(F.col("o_totalprice") > 400000).groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_big"))
    j = c.join(big, c.c_custkey == big.o_custkey, "full_outer")
    return j.select(
        F.coalesce(c.c_custkey, big.o_custkey).alias("custkey"),
        F.coalesce(F.col("n_big"), F.lit(0)).cast("long").alias("n_big_orders"),
        F.when(c.c_custkey.isNotNull(), 1).otherwise(0).alias("has_customer"),
    )


@query(
    "q05_customers_without_big_orders",
    """
    SELECT c_custkey, c_name, 'without' AS side
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000
    )
    UNION ALL
    SELECT c_custkey, c_name, 'with' AS side
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000
    )
    """,
    doc="Left-anti AND left-semi join, both halves of the reference's "
    "null-split idiom in one oracle row (down/down_water_prep.py:"
    "511-512; r8: the former q25_semi_join is the 'with' leg — slot "
    "freed for x27_url_canonicalize).",
    tags=["join", "anti", "semi"],
)
def q05_customers_without_big_orders(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders").filter(F.col("o_totalprice") > 450000)
    c = load_table(spark, sf, "customer")
    without = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .withColumn("side", F.lit("without"))
    )
    with_ = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .withColumn("side", F.lit("with"))
    )
    return without.unionByName(with_)


@query(
    "q06_priority_dedup",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY l_orderkey
      ORDER BY l_extendedprice DESC, l_linenumber ASC
    ) = 1
    """,
    doc="C22 priority dedup: keep the 'best' row per key "
    "(reference recipe at down/down_water_prep.py:498-501). Runs the "
    "row_number WINDOW form over a payload pruned to the output "
    "columns. Round 6's full-materialization drain reversed the r3 "
    "plan choice here: on HIGH-cardinality keys (~4 rows per orderkey, "
    "15M keys at sf10) the min_by aggregate's map-side hash table "
    "spills and loses 3x to the window sort (honest-drain measurements "
    "21.6s agg vs 7.4s window at sf10; the old 2x-for-agg numbers were "
    "a count() pruning artifact — the payload never materialized). "
    "priority_dedup_agg remains the right plan for LOW-cardinality "
    "keys, where partial aggregation bounds the shuffle; both forms "
    "are differentially tested equal on every key shape.",
    tags=["dedup", "window"],
)
def q06_priority_dedup(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.operators.dedup import priority_dedup

    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    return priority_dedup(
        li, ["l_orderkey"], [F.col("l_extendedprice").desc(), F.col("l_linenumber").asc()]
    )


@query(
    "q07_topk_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC
           ) AS BIGINT) AS rank
    FROM orders
    QUALIFY rank <= 3
    """,
    doc="Top-K per group via rank window (§2.8 surface the reference lacks).",
    tags=["window"],
)
def q07_topk_orders_per_customer(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        o.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


# (r8) q08_distinct_pairs was consolidated into q31_set_ops — C23
# full-row distinct is its 'distinct_pair' leg, still oracle-hashed;
# the freed slot registers x24_dedup_spans_global (COVERAGE.md trace).


@query(
    "q09_key_expansion",
    """
    SELECT p_partkey, 'p_brand' AS key_name, p_brand AS key_value
    FROM part WHERE p_partkey < 100
    UNION ALL
    SELECT p_partkey, 'p_type' AS key_name, p_type AS key_value
    FROM part WHERE p_partkey < 100
    """,
    doc="C21 key expansion: explode-of-struct replaces the reference's "
    "copy+concat self-union (direct/direct_water_prep.py:107-119) — one "
    "scan, no shuffle.",
    tags=["expand"],
)
def q09_key_expansion(spark: SparkSession, sf: str) -> DataFrame:
    p = load_table(spark, sf, "part").filter(F.col("p_partkey") < 100)
    out = expand_keys(p, ["p_brand", "p_type"], "key_value", "key_name")
    return out.select("p_partkey", "key_name", "key_value")


# (r8) q11_union_by_name was consolidated into q31_set_ops — C27's
# union-BY-NAME (inputs with deliberately different column orders) is
# q31's 'returned'/'finished' legs, still oracle-hashed; the freed
# slot registers x29_dsir_select (COVERAGE.md trace).


# (r8) q12_date_parts was consolidated into q20_rollup_cube_gsets —
# C38's calendar-key derivation (year/month extraction + agg) is q20's
# 'date_rollup' leg, still oracle-hashed (and upgraded: the rollup also
# yields the per-year and grand totals); the freed slot registers
# x28_nb_classify (COVERAGE.md trace).


@query(
    "q13_string_funcs",
    """
    WITH p AS (
      SELECT c_custkey, c_name, c_mktsegment, c_nationkey,
             'reach c' || CAST(c_custkey AS VARCHAR) || '@example.com or 10.'
               || CAST(c_custkey % 200 AS VARCHAR) || '.0.1 ssn 123-45-'
               || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
               || ' call (415) 555-'
               || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
               || ' ref 2024-01-15 v1.2.3' AS planted
      FROM customer
    ), s1 AS (
      SELECT *, CAST(len(regexp_extract_all(planted,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER) AS email_count,
             regexp_replace(planted,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
      FROM p
    ), s2 AS (
      SELECT *, CAST(len(regexp_extract_all(t1,
               '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b')) AS INTEGER) AS ip_count,
             regexp_replace(t1, '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g') AS t2
      FROM s1
    ), s3 AS (
      SELECT *, CAST(len(regexp_extract_all(t2,
               '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS INTEGER) AS ssn_count,
             regexp_replace(t2, '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g') AS t3
      FROM s2
    ), s4 AS (
      SELECT *, CAST(len(regexp_extract_all(t3,
               '(\\+?1[-. ]?)?(\\(\\d{3}\\)|\\d{3})[-. ]\\d{3}[-. ]\\d{4}')) AS INTEGER) AS phone_count,
             regexp_replace(t3,
               '(\\+?1[-. ]?)?(\\(\\d{3}\\)|\\d{3})[-. ]\\d{3}[-. ]\\d{4}', '<PHONE>', 'g') AS t4
      FROM s3
    )
    SELECT c_custkey,
           upper(trim(c_name)) AS name_upper,
           regexp_replace(c_name, 'Customer#0*', '') AS name_id,
           substr(c_mktsegment, 1, 3) AS seg3,
           concat_ws(', ', c_name, c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS display,
           concat('n', CAST(c_custkey AS VARCHAR)) AS tagged_key,
           t4 AS pii_redacted, email_count, ip_count, ssn_count, phone_count
    FROM s4
    """,
    doc="C31-C36 string surface: trim/upper, regex replace, substring, "
    "concat_ws, and the reference's 'n'-prefix key tagging "
    "(down/down_water_prep.py:470-471). Round 6 absorbs the X9 PII "
    "surface (functions/text.py:redact_pii / pii_counts) into this "
    "entry: PII is PLANTED deterministically per row (email, IPv4, SSN, "
    "phone built from c_custkey), then redacted and audit-counted "
    "through the same sequential class chain. The planted text is "
    "digit-delimited so the Java-regex engine (Spark, with phone "
    "lookarounds) and the RE2 oracle twin (no lookarounds) provably "
    "match the same spans.",
    tags=["scalar", "string", "pii", "llm"],
)
def q13_string_funcs(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.functions.text import pii_counts, redact_pii

    c = load_table(spark, sf, "customer")
    key4 = F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0")
    planted = F.concat(
        F.lit("reach c"), F.col("c_custkey").cast("string"),
        F.lit("@example.com or 10."), (F.col("c_custkey") % 200).cast("string"),
        F.lit(".0.1 ssn 123-45-"), key4,
        F.lit(" call (415) 555-"), key4,
        F.lit(" ref 2024-01-15 v1.2.3"),
    )
    return c.select(
        "c_custkey",
        F.upper(F.trim(F.col("c_name"))).alias("name_upper"),
        F.regexp_replace("c_name", "Customer#0*", "").alias("name_id"),
        F.substring("c_mktsegment", 1, 3).alias("seg3"),
        F.concat_ws(", ", "c_name", "c_mktsegment", F.col("c_nationkey").cast("string")).alias("display"),
        F.concat(F.lit("n"), F.col("c_custkey").cast("string")).alias("tagged_key"),
        redact_pii(planted).alias("pii_redacted"),
        *[v.alias(k) for k, v in pii_counts(planted).items()],
    )


@query(
    "q14_fallback_join",
    """
    WITH fact AS (
      SELECT event_id, user_id, user_id * 13 AS k1, user_id + 1370 AS k2 FROM events
    ),
    d1 AS (
      SELECT * FROM (
        SELECT c_custkey AS k1, c_name, c_mktsegment,
               ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY c_name) AS rn
        FROM customer
      ) WHERE rn = 1
    ),
    d2 AS (
      SELECT * FROM (
        SELECT c_custkey AS k2, c_name, c_mktsegment,
               ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY c_name) AS rn
        FROM customer
      ) WHERE rn = 1
    )
    SELECT f.event_id, f.user_id,
           CASE WHEN d1.k1 IS NOT NULL THEN d1.c_name
                WHEN d2.k2 IS NOT NULL THEN d2.c_name END AS c_name,
           CASE WHEN d1.k1 IS NOT NULL THEN d1.c_mktsegment
                WHEN d2.k2 IS NOT NULL THEN d2.c_mktsegment END AS c_mktsegment,
           CASE WHEN d1.k1 IS NOT NULL THEN 1
                WHEN d2.k2 IS NOT NULL THEN 2 END AS match_tier
    FROM fact f
    LEFT JOIN d1 ON f.k1 = d1.k1
    LEFT JOIN d2 ON f.k2 = d2.k2
    """,
    doc="C19 hierarchical fallback join, the reference's signature composite "
    "(down/down_water_prep.py:428-546): tier-1 key, retry weaker tier-2 key, "
    "keep unmatched with NULL payload; per-tier dim dedup prevents fan-out. "
    "Both dims broadcast — the fact table is never shuffled.",
    tags=["join", "fallback", "composite"],
)
def q14_fallback_join(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "events")
    c = load_table(spark, sf, "customer")
    fact = e.select(
        "event_id",
        "user_id",
        (F.col("user_id") * 13).alias("k1"),
        (F.col("user_id") + 1370).alias("k2"),
    )
    dim = c.select(
        F.col("c_custkey").alias("k1"),
        F.col("c_custkey").alias("k2"),
        "c_name",
        "c_mktsegment",
    )
    out = fallback_join(
        fact,
        dim,
        tiers=[["k1"], ["k2"]],
        payload=["c_name", "c_mktsegment"],
        dedup_order=[F.col("c_name").asc()],
        keep_unmatched=True,
        tier_col="match_tier",
    )
    return out.select("event_id", "user_id", "c_name", "c_mktsegment", "match_tier")


@query(
    "q15_coalesce_enrich",
    """
    WITH dim AS (SELECT p_partkey, p_brand, p_retailprice FROM part WHERE p_size > 25)
    SELECT l.l_orderkey, l.l_linenumber,
           COALESCE(d.p_brand, 'UNKNOWN') AS brand_filled,
           COALESCE(d.p_retailprice, 0.0) AS retail_filled
    FROM lineitem l
    LEFT JOIN dim d ON l.l_partkey = d.p_partkey
    """,
    doc="C17 left join + C14 null-coalesce of payload columns "
    "(down/down_water_prep.py:307-313 pattern).",
    tags=["join", "coalesce"],
)
def q15_coalesce_enrich(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    dim = (
        load_table(spark, sf, "part")
        .filter(F.col("p_size") > 25)
        .select("p_partkey", "p_brand", "p_retailprice")
    )
    j = li.join(F.broadcast(dim), li.l_partkey == dim.p_partkey, "left")
    return j.select(
        "l_orderkey",
        "l_linenumber",
        F.coalesce(F.col("p_brand"), F.lit("UNKNOWN")).alias("brand_filled"),
        F.coalesce(F.col("p_retailprice"), F.lit(0.0)).alias("retail_filled"),
    )


@query(
    "q16_range_gate",
    """
    SELECT COUNT(*) AS n_total,
           COUNT(*) FILTER (WHERE value < 0 OR value > 30) AS n_violations,
           COUNT(*) FILTER (WHERE value IS NULL) AS n_null
    FROM events
    """,
    doc="C41 range-check gate expressed as a one-pass conditional "
    "aggregation (direct/direct_water_prep.py:84-101 intent).",
    tags=["expectations", "agg"],
)
def q16_range_gate(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "events")
    v = F.col("value")
    return e.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when((v < 0) | (v > 30), 1)).alias("n_violations"),
        F.count(F.when(v.isNull(), 1)).alias("n_null"),
    )


@query(
    "q17_hourly_rollup",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS event_date,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS event_hour,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
    doc="Batch twin of the streaming tumbling-window aggregation "
    "(waterdata_spark.streaming): bucket by calendar hour, count + sum. "
    "events.ts is epoch-ns (long); calendar fields derived with exact "
    "integer arithmetic (functions/time.py), so the result is identical "
    "under any session timezone.",
    tags=["date", "agg", "streaming-twin"],
)
def q17_hourly_rollup(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.functions.time import ns_hour_of_day, ns_to_date

    e = load_table(spark, sf, "events")
    return (
        e.groupBy(
            ns_to_date("ts").cast("string").alias("event_date"),
            ns_hour_of_day("ts").alias("event_hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            _sum_money("value", 2, "total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Extension operators (SURVEY.md §2.9) — LLM-data-pipeline surface
# ---------------------------------------------------------------------------


@query(
    "x01_exact_dedup_docs",
    """
    WITH kept AS (
      SELECT doc_id, lang, n_chars, text
      FROM documents
      QUALIFY ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) = 1
    )
    SELECT k.doc_id, k.lang, k.n_chars
    FROM kept k
    WHERE NOT EXISTS (
      SELECT 1 FROM documents r
      WHERE r.doc_id % 7 = 3 AND r.text IS NOT DISTINCT FROM k.text
    )
    """,
    doc="X1 exact dedup, the full ingest shape (r7: absorbs the "
    "cross-corpus exact form, giving dedup.dedup_against_exact — a "
    "DATA-DELETING operator — its oracle row): stage 1 keeps one row "
    "per distinct text (lowest doc_id wins, sha2 length-prefixed "
    "digest as the fixed-width shuffle key); stage 2 drops every "
    "survivor whose text already exists in the 'previously ingested' "
    "reference slice (doc_id%7=3) via the same digest as a broadcast "
    "anti-join. The DuckDB twin checks both stages against exact-string "
    "semantics (IS NOT DISTINCT FROM mirrors the digest's null "
    "sentinel: null content matches null content), so a digest-encoding "
    "collision bug would hash-mismatch.",
    tags=["dedup", "llm"],
)
def x01_exact_dedup_docs(spark: SparkSession, sf: str) -> DataFrame:
    # r9 plan shape: digest ONCE, project text away, run both stages on
    # the fixed-width digest — the wide text column reaches only the
    # scan (where the sha2 is computed) and never rides the election
    # window shuffle or the anti-join. Same rows, same hashes; strictly
    # less shuffle volume at real document sizes.
    from waterdata_spark.operators.dedup import content_digest, dedup_against_exact

    d = load_table(spark, sf, "documents").withColumn(
        "__digest", content_digest(["text"])
    )
    kept = exact_dedup(
        d.select("doc_id", "lang", "n_chars", "__digest"),
        [],
        "doc_id",
        digest_col="__digest",
    )
    ref = d.filter(F.col("doc_id") % 7 == 3).select("__digest")
    return dedup_against_exact(kept, ref, [], digest_col="__digest").select(
        "doc_id", "lang", "n_chars"
    )


# x02_token_stats (X4 token counting + quality scoring; had itself
# absorbed x03) was consolidated into x11_quality_filter in round 6 —
# every one of its columns (n_chars_measured, n_bpe_tokens, n_tokens,
# mean_token_len) is still oracle-hashed there — freeing the registry
# slot for x21_decontaminate. See COVERAGE.md.


def _lang_score_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return (
        "CAST(len(list_filter(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> ''), "
        f"t -> lower(t) IN ({markers}))) AS BIGINT)"
    )


@query(
    "x04_lang_id",
    f"""
    WITH s AS (
      SELECT doc_id, lang AS lang_given,
             {_lang_score_sql("en")} AS s_en,
             {_lang_score_sql("es")} AS s_es,
             {_lang_score_sql("fr")} AS s_fr,
             {_lang_score_sql("de")} AS s_de,
             {_lang_score_sql("zh")} AS s_zh
      FROM documents
    ),
    wc AS (
      SELECT t AS word, COUNT(*) AS c FROM (
        SELECT unnest(list_filter(
          regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> ''
        )) AS t
        FROM documents
      ) GROUP BY 1
    ),
    seedsub AS (
      SELECT substring(w, CAST(i AS INT), CAST(l AS INT)) AS piece, c
      FROM (
        SELECT w, c, i,
               unnest(range(1, least(4, len(w) - i + 1) + 1)) AS l
        FROM (
          SELECT w, c, unnest(range(1, len(w) + 1)) AS i
          FROM (SELECT '▁' || word AS w, c FROM wc)
        )
      )
    ),
    seed AS (
      SELECT piece, CAST(SUM(c) AS BIGINT) AS weight
      FROM seedsub GROUP BY 1
      ORDER BY weight DESC, piece ASC LIMIT 200
    ),
    cmsk AS (
      SELECT word,
             CAST(j AS INT) AS j,
             CAST(('0x' || substring(
               md5('cms:' || CAST(j AS VARCHAR) || ':' || word), 1, 15
             ))::BIGINT % 1024 AS INT) AS bucket
      FROM (SELECT word, unnest([0, 1, 2]) AS j FROM wc)
    ),
    cmsb AS (
      SELECT k.j, k.bucket, CAST(SUM(w.c) AS BIGINT) AS cnt
      FROM cmsk k JOIN wc w USING (word) GROUP BY 1, 2
    ),
    cmse AS (
      SELECT k.word, MIN(b.cnt) AS est
      FROM cmsk k JOIN cmsb b ON k.j = b.j AND k.bucket = b.bucket
      GROUP BY 1
    ),
    alpha AS (
      SELECT DISTINCT substring(word, CAST(i AS INT), 1) AS ch
      FROM (SELECT word, unnest(range(1, len(word) + 1)) AS i FROM wc)
    )
    SELECT 'lang' AS mode, CAST(doc_id AS VARCHAR) AS key, lang_given,
           s_en, s_es, s_fr, s_de, s_zh,
           CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_fr AND s_es >= s_de AND s_es >= s_zh THEN 'es'
                WHEN s_fr >= s_de AND s_fr >= s_zh THEN 'fr'
                WHEN s_de >= s_zh THEN 'de'
                ELSE 'zh' END AS lang_pred
    FROM s
    UNION ALL
    SELECT 'wc', word, CAST(NULL AS VARCHAR), c,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
    FROM wc
    UNION ALL
    SELECT 'seed', piece, CAST(NULL AS VARCHAR), weight,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
    FROM seed
    UNION ALL
    SELECT 'cms', word, CAST(NULL AS VARCHAR), est,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
    FROM cmse
    UNION ALL
    SELECT 'alpha', ch, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
    FROM alpha
    """,
    doc="X4 language-ID heuristic: whole-token stopword-marker counts per "
    "language, argmax with fixed priority tie-break. Deterministic and "
    "oracle-reproducible. r9 second leg 'wc': the BPE trainer's "
    "distributed word-frequency aggregate (operators/bpe.word_counts — "
    "the vocabulary-bounded scan the merge loop runs on) hash-checked "
    "word-for-word; the iterative merge loop itself is the documented "
    "non-SQL-expressible class, verified by exact differential tests. "
    "r10 third leg 'seed': the unigram-LM tokenizer's seed_pieces "
    "(operators/unigram_lm.py:93 — the substring-explode aggregate that "
    "determines the whole EM fit, VERDICT r9 item 3) hash-checked "
    "piece-for-piece against a DuckDB lateral-unnest twin; only the EM "
    "loop itself remains the documented non-SQL class. "
    "r10 fourth leg 'cms': the mergeable count-min sketch "
    "(operators/sketches.py, Cormode & Muthukrishnan 2005) — the "
    "incremental corpus-stats path for 100 TB profiling — built as a "
    "depth=3 x width=1024 counter TABLE with portable md5 row hashes "
    "over the word-count frame (weighted build == token-stream build, "
    "test-pinned) and queried back for every vocabulary word; the twin "
    "rebuilds the identical counter table in SQL, so every estimate is "
    "hash-checked. Merge==whole and never-underestimate are pinned in "
    "tests/test_sketches.py. "
    "r11 fifth leg 'alpha': the token-ID vocab artifact's ONE "
    "distributed input — operators/vocab.alphabet_frame, the distinct "
    "characters across the corpus's words that form bpe_vocab's base "
    "symbol rows — hash-checked character-for-character (the id "
    "MAPPING itself is driver-side + exact-differential-pinned in "
    "tests/test_vocab.py; this leg pins what it is built FROM).",
    tags=["text", "llm"],
)
def x04_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.functions.text import lang_id_score
    from waterdata_spark.operators.bpe import word_counts
    from waterdata_spark.operators.unigram_lm import seed_pieces

    d = load_table(spark, sf, "documents")
    scores = {lang: lang_id_score("text", lang).cast("long") for lang in ["en", "es", "fr", "de", "zh"]}
    s = d.select(
        "doc_id",
        F.col("lang").alias("lang_given"),
        *[scores[lang].alias(f"s_{lang}") for lang in scores],
    )
    e, es, fr, de, zh = (F.col(f"s_{x}") for x in ["en", "es", "fr", "de", "zh"])
    pred = (
        F.when((e >= es) & (e >= fr) & (e >= de) & (e >= zh), "en")
        .when((es >= fr) & (es >= de) & (es >= zh), "es")
        .when((fr >= de) & (fr >= zh), "fr")
        .when(de >= zh, "de")
        .otherwise("zh")
    )
    lang_leg = s.withColumn("lang_pred", pred).select(
        F.lit("lang").alias("mode"),
        F.col("doc_id").cast("string").alias("key"),
        "lang_given",
        "s_en",
        "s_es",
        "s_fr",
        "s_de",
        "s_zh",
        "lang_pred",
    )
    wc = word_counts(d, "text")
    wc_leg = wc.select(
        F.lit("wc").alias("mode"),
        F.col("word").alias("key"),
        F.lit(None).cast("string").alias("lang_given"),
        F.col("count").alias("s_en"),
        *[F.lit(None).cast("long").alias(c) for c in ["s_es", "s_fr", "s_de", "s_zh"]],
        F.lit(None).cast("string").alias("lang_pred"),
    )
    seed_leg = seed_pieces(wc, max_piece_len=4, seed_size=200).select(
        F.lit("seed").alias("mode"),
        F.col("piece").alias("key"),
        F.lit(None).cast("string").alias("lang_given"),
        F.col("weight").cast("long").alias("s_en"),
        *[F.lit(None).cast("long").alias(c) for c in ["s_es", "s_fr", "s_de", "s_zh"]],
        F.lit(None).cast("string").alias("lang_pred"),
    )
    # 'cms' leg (r10): mergeable count-min sketch — weighted build over
    # the word-count frame (identical counters to the token stream),
    # then every vocabulary word queried back; depth/width/seed match
    # the DuckDB twin's literal rebuild
    from waterdata_spark.operators.sketches import count_min_build, count_min_lookup

    cms = count_min_build(wc, "word", depth=3, width=1024, weight_col="count")
    cms_leg = count_min_lookup(
        cms, wc.select("word"), "word", depth=3, width=1024
    ).select(
        F.lit("cms").alias("mode"),
        F.col("word").alias("key"),
        F.lit(None).cast("string").alias("lang_given"),
        F.col("est").cast("long").alias("s_en"),
        *[F.lit(None).cast("long").alias(c) for c in ["s_es", "s_fr", "s_de", "s_zh"]],
        F.lit(None).cast("string").alias("lang_pred"),
    )
    # 'alpha' leg (r11): the vocab artifact's distributed input — the
    # distinct-character aggregate bpe_vocab builds base symbols from
    from waterdata_spark.operators.vocab import alphabet_frame

    alpha_leg = alphabet_frame(d, "text").select(
        F.lit("alpha").alias("mode"),
        F.col("c").alias("key"),
        F.lit(None).cast("string").alias("lang_given"),
        *[F.lit(None).cast("long").alias(c) for c in ["s_en", "s_es", "s_fr", "s_de", "s_zh"]],
        F.lit(None).cast("string").alias("lang_pred"),
    )
    return (
        lang_leg.unionByName(wc_leg)
        .unionByName(seed_leg)
        .unionByName(cms_leg)
        .unionByName(alpha_leg)
    )


@query(
    "x06_ngram_jaccard_pairs",
    f"""
    WITH tok0 AS (
      SELECT doc_id, lang, unnest(list_distinct(
        list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')
      )) AS tok
      FROM documents WHERE doc_id < 120
    ),
    hi AS (
      SELECT lang, tok FROM tok0 GROUP BY lang, tok HAVING COUNT(*) > {X06_DF_CAP}
    ),
    tok AS (
      SELECT t.doc_id, t.lang, t.tok FROM tok0 t
      WHERE NOT EXISTS (SELECT 1 FROM hi h WHERE h.lang = t.lang AND h.tok = t.tok)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_size
      FROM tok a JOIN tok b ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.inter_size,
           sa.n + sb.n - p.inter_size AS union_size
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE p.inter_size >= 5
    """,
    doc="X2 n-gram Jaccard near-dup candidates via POSTING LISTS (r13, "
    "guide §2.1/§3 — aggregate before you shuffle): explode distinct "
    "tokens, aggregate one sorted doc-id posting list per (lang, token) "
    "in a single shuffle, and generate ordered pairs INSIDE each list "
    "(array combinatorics, map-side) instead of self-joining the token "
    "stream — the r12 form shuffled the token stream twice more (both "
    "self-join sides) to discover the same co-occurrences. Tokens whose "
    "document frequency exceeds X06_DF_CAP are dropped by filtering the "
    "list length in the SAME aggregation that builds the lists (the "
    "separate high-DF aggregate + broadcast anti-join of the r12 plan "
    "collapse into it), bounding any single token's contribution to "
    "cap^2 pairs — without it one stop-word token in N docs costs N^2. "
    "Per-doc sizes re-derive from the capped lists, so 'n' still counts "
    "exactly the surviving vocabulary. Jaccard reported as exact integer "
    "intersection/union sizes over the capped vocabulary (floats would "
    "hash-differ).",
    tags=["dedup", "similarity", "llm"],
)
def x06_ngram_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    d = load_table(spark, sf, "documents").filter(F.col("doc_id") < 120)
    tok = d.select("doc_id", "lang", F.explode(F.array_distinct(tokens("text"))).alias("tok"))
    # tokens are per-doc distinct, so list length per (lang, tok) IS the
    # document frequency; the > cap casualties are a handful of stop
    # words. sort_array makes pair order (a < b) and the plan
    # deterministic regardless of collect_list's arrival order.
    plist = (
        tok.groupBy("lang", "tok")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") <= X06_DF_CAP)
    )
    sizes = (
        plist.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    pairs = (
        plist.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(F.col("inter_size") >= 5)
        .select(
            "doc_a",
            "doc_b",
            "inter_size",
            (F.col("sa.n") + F.col("sb.n") - F.col("inter_size")).alias("union_size"),
        )
    )


@query(
    "x26_bm25_topk",
    """
    WITH traw AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
      FROM documents
    ),
    tlow AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS toks
      FROM documents
    ),
    base AS (SELECT doc_id, toks, len(toks) AS dl FROM tlow),
    stats AS (
      SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM base
    ),
    post AS (SELECT doc_id, dl, unnest(toks) AS t FROM base),
    tf AS (SELECT t, doc_id, dl, COUNT(*) AS tf FROM post GROUP BY 1, 2, 3),
    dfq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1 HAVING COUNT(*) <= 390),
    idf AS (
      SELECT t, ln(1 + (CAST(s.n AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5)) AS idf
      FROM dfq, stats s
    ),
    q AS (
      SELECT doc_id AS qid, array_to_string(list_slice(toks, 3, 8), ' ') AS qtext
      FROM traw WHERE doc_id % 37 = 3 AND len(toks) >= 8
    ),
    qt AS (
      SELECT DISTINCT qid, t FROM (
        SELECT qid,
               unnest(list_filter(regexp_split_to_array(trim(lower(qtext)), '\\s+'), x -> x <> '')) AS t
        FROM q
      )
    ),
    score AS (
      SELECT qt.qid, tf.doc_id,
             SUM(CAST(round(
               i.idf * (CAST(tf.tf AS DOUBLE) * 2.2)
               / (CAST(tf.tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(tf.dl AS DOUBLE) / s.avgdl)),
               9) AS DECIMAL(38,9))) AS score
      FROM tf JOIN qt ON tf.t = qt.t JOIN idf i ON i.t = tf.t, stats s
      GROUP BY 1, 2
    ),
    bm25 AS (
      SELECT qid, doc_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank,
             CAST(score AS DOUBLE) AS score
      FROM score QUALIFY rank <= 5
    ),
    dq AS (
      SELECT q.qid, e.embedding FROM q JOIN embeddings e ON e.vec_id = q.qid
    ),
    dd AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 37 <> 3
    ),
    dp AS (
      SELECT dq.qid, dd.vec_id AS doc_id,
             list_cosine_similarity(CAST(dq.embedding AS DOUBLE[]),
                                    CAST(dd.embedding AS DOUBLE[])) AS c
      FROM dq CROSS JOIN dd
    ),
    dense AS (
      SELECT qid, doc_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY c DESC, doc_id ASC) AS BIGINT) AS rank
      FROM dp QUALIFY rank <= 5
    ),
    fused AS (
      SELECT qid, doc_id,
             SUM(CAST(round(1.0 / (60 + rank), 9) AS DECIMAL(20,9))) AS s
      FROM (
        SELECT qid, doc_id, rank FROM bm25
        UNION ALL
        SELECT qid, doc_id, rank FROM dense
      )
      GROUP BY 1, 2
    ),
    rrf AS (
      SELECT qid, doc_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY s DESC, doc_id ASC) AS BIGINT) AS rank,
             CAST(s AS DOUBLE) AS score
      FROM fused QUALIFY rank <= 5
    )
    SELECT 'bm25' AS mode, qid, doc_id, rank, score FROM bm25
    UNION ALL
    SELECT 'rrf' AS mode, qid, doc_id, rank, score FROM rrf
    """,
    doc="X3 hybrid retrieval, both halves in one oracle row. 'bm25' "
    "(r8): Okapi BM25 top-k over the documents table "
    "(operators/retrieval.bm25_topk, k1=1.2 b=0.75 k=5 max_df=390 — at "
    "sf0.01 the synthetic vocabulary is 31 words with df 25-402, so "
    "the cap demonstrably prunes the hottest terms while the rest "
    "score). Queries are 6-token slices cut from every 37th document. "
    "Determinism contract: per-term contributions round to 9dp and sum "
    "as DECIMAL(38,9) — exact and order-independent, so identical "
    "documents tie exactly (broken by doc id) and the DuckDB twin "
    "reproduces score AND rank bit-for-bit despite ln/float "
    "arithmetic. 'rrf' (NEW r9, VERDICT r8 item 4): the ADVERTISED "
    "hybrid — the same qids rank the embeddings corpus by exact cosine "
    "(the x16-proven recipe; ranks exact, data side excludes the query "
    "vectors) and operators/retrieval.rrf_fuse combines both lists "
    "(Cormack 2009, rrf_k=60): 1/(60+rank) rounded to 9dp, summed as "
    "DECIMAL(20,9), fused top-5 per query — score AND rank "
    "hash-checked. The x07 slot freed by consolidating the self-top-k "
    "leg into x16 registers this (COVERAGE.md trace).",
    tags=["retrieval", "text", "llm"],
)
def x26_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.operators.retrieval import bm25_topk, rrf_fuse
    from waterdata_spark.operators.similarity import cosine_search_bruteforce

    d = load_table(spark, sf, "documents").select("doc_id", "text")
    toks_raw = tokens(F.col("text"))
    q = d.filter((F.col("doc_id") % 37 == 3) & (F.size(toks_raw) >= 8)).select(
        F.col("doc_id").alias("qid"),
        F.array_join(F.slice(toks_raw, 3, 6), " ").alias("qtext"),
    )
    bm25 = bm25_topk(d, q, k=5, max_df=390)
    e = load_table(spark, sf, "embeddings")
    qe = e.join(
        q.select(F.col("qid").alias("vec_id")), "vec_id"
    ).select(F.col("vec_id").alias("qid"), "embedding")
    dense = cosine_search_bruteforce(
        e.filter(F.col("vec_id") % 37 != 3),
        qe,
        query_id_col="qid",
        k=5,
        sim_col=None,
    ).select(
        F.col("query_id").alias("qid"),
        F.col("neighbor_id").alias("doc_id"),
        "rank",
    )
    fused = rrf_fuse([bm25.select("qid", "doc_id", "rank"), dense], k=5)
    return bm25.select(
        F.lit("bm25").alias("mode"), "qid", "doc_id", "rank", "score"
    ).unionByName(
        fused.select(
            F.lit("rrf").alias("mode"),
            "qid",
            "doc_id",
            "rank",
            F.col("rrf_score").alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# Round 1 widening: as-of / sessionization / rollup / pivot / LSH operators
# ---------------------------------------------------------------------------


@query(
    "q18_asof_join",
    """
    WITH errors AS (
      SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us
      FROM events WHERE event_type = 'error'
    ),
    clicks AS (
      SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_id, value
      FROM events WHERE event_type = 'click'
      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts_us ORDER BY event_id DESC) = 1
    )
    SELECT e.event_id, e.user_id, c.event_id AS click_id, c.value AS click_value
    FROM errors e
    ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts_us >= c.ts_us
    """,
    doc="As-of join (point-in-time): each error event gets the most recent "
    "preceding click by the same user. Spark lacks a native ASOF JOIN; the "
    "engine's union+window implementation (operators/asof.py) costs one "
    "shuffle — same as an equi-join — vs DuckDB's native ASOF as oracle.",
    tags=["asof", "window", "composite"],
)
def q18_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.operators.asof import asof_join

    e = load_table(spark, sf, "events").withColumn("ts_us", F.expr("ts div 1000"))
    errors = e.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts_us")
    # r12 (VERDICT r11 item 8): the per-(user, ts) click dedup — keep
    # the max event_id — is FUSED into the as-of window via
    # right_order instead of a separate priority_dedup window: one
    # shuffle+sort of the clicks table eliminated (the q18 plan
    # audit's tall pole; measured in tools/q18_scale_probe.py@72b9015).
    # Result identical (oracle-hashed): among equal-(user, ts) clicks
    # the carry takes the LAST under event_id ASC == the max, exactly
    # the row the dedup window elected.
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts_us", "event_id", "value"
    )
    out = asof_join(
        errors, clicks, on=["user_id"], ts="ts_us",
        payload=["event_id", "value"], right_order=["event_id"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("event_id_right").alias("click_id"),
        F.col("value_right").alias("click_value"),
    )


@query(
    "q19_sessionize",
    """
    WITH e AS (
      SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events
    ),
    g AS (
      SELECT user_id, ts_us, event_id,
             CASE WHEN lag(ts_us) OVER w IS NULL
                       OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    s AS (
      SELECT user_id, ts_us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    )
    SELECT user_id, CAST(sid AS BIGINT) AS session_id, COUNT(*) AS n_events,
           min(ts_us) AS session_start_us,
           max(ts_us) AS session_end_us
    FROM s GROUP BY user_id, sid
    """,
    doc="Gap-based sessionization (30-min inactivity): lag + cumulative-sum "
    "windows — the batch twin of streaming/ops.sessionize_stream "
    "(session_window does the same merge with managed state).",
    tags=["window", "sessionize", "streaming-twin"],
)
def q19_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    # µs resolution on BOTH sides: DuckDB truncates TIMESTAMP_NS to µs at
    # read, so gap/boundary arithmetic must see identical values.
    e = load_table(spark, sf, "events").withColumn("ts_us", F.expr("ts div 1000"))
    w = Window.partitionBy("user_id").orderBy(F.col("ts_us").asc(), F.col("event_id").asc())
    gap_us = 30 * 60 * 1_000_000
    prev = F.lag("ts_us").over(w)
    new_s = F.when(prev.isNull() | ((F.col("ts_us") - prev) > gap_us), 1).otherwise(0)
    s = e.withColumn("__new", new_s).withColumn(
        "session_id",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
    )


@query(
    "q20_rollup_cube_gsets",
    """
    SELECT 'rollup' AS src, l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'cube' AS src, l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'gsets' AS src, l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    UNION ALL
    SELECT 'date_rollup' AS src,
           CAST(yr AS VARCHAR) AS l_returnflag,
           CAST(mo AS VARCHAR) AS l_linestatus,
           CAST(GROUPING(yr, mo) AS BIGINT) AS gid,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM (SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS yr,
                 CAST(EXTRACT(month FROM l_shipdate) AS BIGINT) AS mo,
                 l_quantity
          FROM lineitem)
    GROUP BY ROLLUP(yr, mo)
    """,
    doc="Multi-dimensional aggregation lattices in one entry (formerly "
    "q20 rollup / q30 cube / q35 grouping sets — consolidated so every "
    "family member fits the driver's 50-entry correctness run): ROLLUP "
    "and CUBE via the DataFrame surface, arbitrary GROUPING SETS via "
    "the SQL entry point, each tagged by src and disambiguated with "
    "grouping_id. Each branch is one Expand+Aggregate pass (§2.4 marks "
    "all three absent from the reference). r8: the 'date_rollup' leg "
    "absorbs the former q12_date_parts — C38's derived calendar keys "
    "(year/month extraction) rolled up over (year, month) — freeing a "
    "slot for x28_nb_classify.",
    tags=["agg", "rollup", "cube", "grouping-sets", "date"],
)
def q20_rollup_cube_gsets(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")

    def lattice(grouped, src: str) -> DataFrame:
        return grouped.agg(
            F.grouping_id().cast("long").alias("gid"),
            _sum_money("l_quantity", 2, "sum_qty"),
            F.count(F.lit(1)).alias("n"),
        ).select(
            F.lit(src).alias("src"), "l_returnflag", "l_linestatus", "gid", "sum_qty", "n"
        )

    li.createOrReplaceTempView("lineitem")
    # Spark spells the multi-column bitmask GROUPING_ID (same bit order
    # as DuckDB's two-arg GROUPING: leftmost column = high bit)
    gsets = spark.sql(
        """
        SELECT 'gsets' AS src, l_returnflag, l_linestatus,
               CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )
    li2 = li.select(
        F.year("l_shipdate").cast("long").alias("yr"),
        F.month("l_shipdate").cast("long").alias("mo"),
        "l_quantity",
    )
    date_leg = (
        li2.rollup("yr", "mo")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            _sum_money("l_quantity", 2, "sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.lit("date_rollup").alias("src"),
            F.col("yr").cast("string").alias("l_returnflag"),
            F.col("mo").cast("string").alias("l_linestatus"),
            "gid",
            "sum_qty",
            "n",
        )
    )
    return (
        lattice(li.rollup("l_returnflag", "l_linestatus"), "rollup")
        .unionByName(lattice(li.cube("l_returnflag", "l_linestatus"), "cube"))
        .unionByName(gsets)
        .unionByName(date_leg)
    )


@query(
    "q36_unpivot",
    """
    WITH wide AS (
      SELECT l_returnflag,
             CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_O,
             CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_F
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, status, qty FROM wide
    UNPIVOT (qty FOR status IN (qty_O AS 'O', qty_F AS 'F'))
    """,
    doc="Pivot + unpivot in one round-trip (the former q21_pivot is this "
    "query's first stage — consolidated to free a registry slot): "
    "groupBy().pivot() with an explicit value list (Catalyst rewrites "
    "to one-pass conditional aggregation, no extra shuffle), then the "
    "native UNPIVOT operator melts the wide columns back to long form — "
    "a zero-shuffle Expand over the wide rows, not a union of "
    "per-column scans.",
    tags=["reshape"],
)
def q36_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    wide = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"))
        .withColumnRenamed("O", "qty_O")
        .withColumnRenamed("F", "qty_F")
    )
    return (
        wide.unpivot(
            ids=["l_returnflag"],
            values=["qty_O", "qty_F"],
            variableColumnName="status",
            valueColumnName="qty",
        )
        # Spark's unpivot keeps NULL measures; ANSI UNPIVOT (and the
        # DuckDB twin) default-excludes them — drop them for agreement
        # on inputs where a pivot cell is empty.
        .filter(F.col("qty").isNotNull())
        .withColumn("status", F.regexp_replace("status", "^qty_", ""))
    )


@query(
    "x08_minhash_bands",
    """
    WITH idx AS (
      SELECT doc_id, text,
             unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS i
      FROM documents
    ),
    sh AS (SELECT doc_id, substr(text, CAST(i AS INT), 8) AS s FROM idx),
    mh AS (
      SELECT doc_id,
             min(md5('0:' || s)) AS h0, min(md5('1:' || s)) AS h1,
             min(md5('2:' || s)) AS h2, min(md5('3:' || s)) AS h3,
             min(md5(s)) AS fingerprint
      FROM sh GROUP BY doc_id
    ),
    tok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '')) AS t
      FROM documents
    ),
    hv AS (
      SELECT doc_id, ('0x' || substring(md5(t), 1, 15))::BIGINT AS hv FROM tok
    ),
    votes AS (
      SELECT doc_id, b, SUM(CASE WHEN ((hv >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v
      FROM hv, (SELECT unnest(range(32)) AS b) bits
      GROUP BY doc_id, b
    ),
    sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    ),
    sx AS (
      SELECT d.doc_id, CAST(COALESCE(s.simhash, 0) AS BIGINT) AS simhash
      FROM documents d LEFT JOIN sig s USING (doc_id)
    )
    SELECT m.doc_id, 0 AS band_id, md5(h0 || '|' || h1) AS band_hash, fingerprint, sx.simhash
    FROM mh m JOIN sx USING (doc_id)
    UNION ALL
    SELECT m.doc_id, 1 AS band_id, md5(h2 || '|' || h3) AS band_hash, fingerprint, sx.simhash
    FROM mh m JOIN sx USING (doc_id)
    """,
    doc="X2 near-dup signatures, all three per-document forms in one "
    "oracle row. MinHash+LSH banding (Broder): 4 md5-seeded min-hashes "
    "over 8-char shingles, 2 bands of 2 — docs sharing (band_id, "
    "band_hash) are near-dup candidates; the shuffle key is a "
    "fixed-width hash, never the text. Carries the UNSEEDED "
    "1-permutation MinHash fingerprint (X4 doc_fingerprint, the former "
    "x05 slot — r7 consolidation) computed in the same aggregate pass, "
    "and (r9 consolidation — the former x09_simhash row verbatim, slot "
    "freed for w03_curation_cascade) the SimHash signature: per-bit "
    "majority vote of md5-derived token hashes packed into a long, "
    "Hamming-comparable, one extra JVM aggregate joined on doc_id. The "
    "xxhash64 variants of both signatures remain the faster "
    "engine-only paths (dedup_approx). Fully oracle-checkable because "
    "every hash is md5-based.",
    tags=["dedup", "similarity", "llm"],
)
def x08_minhash_bands(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.operators.dedup_approx import (
        minhash_bands,
        simhash_signature_md5,
    )

    d = load_table(spark, sf, "documents")
    bands = minhash_bands(
        d, "doc_id", "text", n_hashes=4, n_bands=2, k=8, fingerprint=True
    )
    sx = d.select("doc_id", simhash_signature_md5("text").alias("simhash"))
    return bands.join(sx, "doc_id")


# x09_simhash was consolidated into x08_minhash_bands in round 9 — the
# SimHash signature (md5 per-bit majority-vote variant) is now the
# `simhash` column of every x08 row, still oracle-hashed value-for-value
# against the same DuckDB recipe. The freed slot registers
# w03_curation_cascade. See COVERAGE.md.


@query(
    "x10_minhash_dedup",
    """
    WITH RECURSIVE
    idx AS (
      SELECT doc_id, text, unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS i
      FROM documents
    ),
    sh AS (SELECT doc_id, substr(text, CAST(i AS INT), 8) AS s FROM idx),
    mh AS (
      SELECT doc_id,
             min(md5('0:' || s)) AS h0, min(md5('1:' || s)) AS h1,
             min(md5('2:' || s)) AS h2, min(md5('3:' || s)) AS h3,
             min(md5('4:' || s)) AS h4, min(md5('5:' || s)) AS h5,
             min(md5('6:' || s)) AS h6, min(md5('7:' || s)) AS h7
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band_id, md5(h0 || '|' || h1) AS band_hash FROM mh
      UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM mh
      UNION ALL SELECT doc_id, 2, md5(h4 || '|' || h5) FROM mh
      UNION ALL SELECT doc_id, 3, md5(h6 || '|' || h7) FROM mh
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ),
    dsh AS (SELECT DISTINCT doc_id, s FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS ni
      FROM cand c
      JOIN dsh x ON x.doc_id = c.id_a
      JOIN dsh y ON y.doc_id = c.id_b AND y.s = x.s
      GROUP BY c.id_a, c.id_b
    ),
    edges AS (
      SELECT i.id_a, i.id_b
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
      WHERE CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni) >= 0.6
    ),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM edges
      UNION ALL SELECT id_b, id_a FROM edges
    ),
    comp(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, c.lbl FROM comp c JOIN sym e ON e.src = c.node
    ),
    kept AS (SELECT node AS doc_id FROM comp GROUP BY node HAVING min(lbl) = node)
    SELECT d.* FROM documents d JOIN kept k ON d.doc_id = k.doc_id
    """,
    doc="X2 end-to-end near-dup removal: LSH candidates → exact Jaccard "
    "verify → min-id label propagation to CONVERGENCE → keep one doc "
    "per duplicate cluster. The DuckDB twin reproduces the whole "
    "pipeline including connected components (recursive CTE), so the "
    "iterative algorithm is value-hash-checked, not just rows-only; "
    "planted-dup and idempotence property tests cover it too.",
    tags=["dedup", "llm"],
)
def x10_minhash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.operators.dedup_approx import minhash_dedup

    d = load_table(spark, sf, "documents")
    return minhash_dedup(d, "doc_id", "text", n_hashes=8, n_bands=4, k=8, threshold=0.6)


def _semdedup_centroid_values() -> str:
    """The frozen k=4 oracle centroids as DuckDB VALUES rows — the SAME
    constants the Spark side normalizes and rides as plan literals
    (`operators/semdedup.FROZEN_CENTROIDS_64D_K4`), so assignment is
    reproducible in both engines. `list_cosine_similarity` normalizes
    internally; Spark dots pre-normalized unit vectors — same value."""
    from waterdata_spark.operators.semdedup import FROZEN_CENTROIDS_64D_K4

    return ",\n      ".join(
        f"({j}, CAST([{', '.join(repr(float(v)) for v in c)}] AS DOUBLE[]))"
        for j, c in enumerate(FROZEN_CENTROIDS_64D_K4)
    )


@query(
    "x31_semdedup",
    f"""
    WITH RECURSIVE
    cents(cid, c) AS (VALUES
      {_semdedup_centroid_values()}),
    sims AS (
      SELECT e.vec_id, ct.cid,
             round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), ct.c), 6) AS sim
      FROM embeddings e CROSS JOIN cents ct
    ),
    assign AS (
      SELECT vec_id, cid, sim FROM (
        SELECT vec_id, cid, sim,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
        FROM sims) WHERE rn = 1
    ),
    sp AS (
      SELECT aa.vec_id AS id_a, ab.vec_id AS id_b
      FROM assign aa JOIN assign ab ON aa.cid = ab.cid AND aa.vec_id < ab.vec_id
      JOIN embeddings a ON a.vec_id = aa.vec_id
      JOIN embeddings b ON b.vec_id = ab.vec_id
      WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
    ),
    ssym AS (SELECT id_a AS src, id_b AS dst FROM sp UNION ALL SELECT id_b, id_a FROM sp),
    scomp(node, lbl) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT e.dst, c.lbl FROM scomp c JOIN ssym e ON e.src = c.node
    ),
    slab AS (SELECT node, min(lbl) AS component FROM scomp GROUP BY node),
    winners AS (
      SELECT component, node FROM (
        SELECT l.component, l.node,
               ROW_NUMBER() OVER (PARTITION BY l.component ORDER BY a.sim ASC, l.node ASC) AS rn
        FROM slab l JOIN assign a ON a.vec_id = l.node) WHERE rn = 1
    ),
    p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(
              CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
    ),
    sym AS (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p),
    comp(node, lbl) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT e.dst, c.lbl FROM comp c JOIN sym e ON e.src = c.node
    ),
    ex AS (
      SELECT vec_id,
             unnest(range(len(embedding))) AS d,
             unnest(embedding) AS v
      FROM embeddings
    ),
    st0 AS (
      SELECT a.cid, x.d,
             SUM(CAST(round(CAST(x.v AS DOUBLE) * 1000000, 0) AS BIGINT)) AS s,
             COUNT(*) AS n
      FROM ex x JOIN assign a USING (vec_id) GROUP BY a.cid, x.d
    ),
    c1 AS (
      SELECT c0.cid, COALESCE(u.c, c0.c) AS c
      FROM cents c0 LEFT JOIN (
        SELECT cid, list(CAST(s AS DOUBLE) / (n * 1000000.0) ORDER BY d) AS c
        FROM st0 GROUP BY cid) u USING (cid)
    ),
    a1 AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, ct.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), ct.c), 6)
                 DESC, ct.cid) AS rn
        FROM embeddings e CROSS JOIN c1 ct) WHERE rn = 1
    ),
    st1 AS (
      SELECT a.cid, x.d,
             SUM(CAST(round(CAST(x.v AS DOUBLE) * 1000000, 0) AS BIGINT)) AS s,
             COUNT(*) AS n
      FROM ex x JOIN a1 a USING (vec_id) GROUP BY a.cid, x.d
    ),
    c2 AS (
      SELECT c1.cid, COALESCE(u.c, c1.c) AS c
      FROM c1 LEFT JOIN (
        SELECT cid, list(CAST(s AS DOUBLE) / (n * 1000000.0) ORDER BY d) AS c
        FROM st1 GROUP BY cid) u USING (cid)
    ),
    a2 AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, ct.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                 round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), ct.c), 6)
                 DESC, ct.cid) AS rn
        FROM embeddings e CROSS JOIN c2 ct) WHERE rn = 1
    )
    SELECT 'cc' AS mode, node AS vec_id, CAST(min(lbl) AS BIGINT) AS component
    FROM comp GROUP BY node
    UNION ALL
    SELECT 'sem' AS mode, node AS vec_id, CAST(component AS BIGINT) AS component
    FROM winners
    UNION ALL
    SELECT 'km' AS mode, vec_id, CAST(cid AS BIGINT) AS component FROM a2
    """,
    doc="X2 embedding-space dedup, both shapes in one oracle row (r8: "
    "the former x15_embedding_components is the 'cc' leg — slot kept "
    "at 50). 'cc' = exact cosine-threshold edges (6dp-rounded cut) → "
    "min-id connected components to convergence, every vector "
    "labelled. 'sem' = SemDeDup (Abbas 2023, arXiv:2303.09540): "
    "nearest-centroid assignment over the FROZEN k=4 centroids "
    "(argmax of 6dp-rounded cosine, lowest-cid ties), WITHIN-cluster "
    "cosine>=0.4 edges, min-id components, and the paper's election — "
    "keep the group member LEAST similar to its centroid (lowest "
    "rounded cosine, then lowest id). The DuckDB twin reproduces "
    "assignment, the intra-cluster pair graph, the recursive-CTE "
    "components, AND the survivor election value-for-value — the full "
    "data-deleting cascade is hash-checked, not just rows-only. "
    "'km' (r8) = distributed Lloyd's k-means "
    "(`operators/clustering.kmeans`): TWO full iterations from the "
    "same frozen centroids — rounded-cosine argmax assignment, then "
    "the EXACT update (components round once at 1e6 and sum as "
    "integers, centroid = sum/(n*1e6) — order-independent, bit-equal "
    "across engines) — labels after the second update. The twin "
    "unrolls both iterations in SQL, reproducing the scaled-integer "
    "sums and both re-assignments value-for-value, so the trainer's "
    "whole loop is hash-checked, not just one assignment pass.",
    tags=["dedup", "similarity", "llm"],
)
def x31_semdedup(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.operators.dedup_approx import (
        cosine_threshold_edges,
        min_id_components,
    )
    from waterdata_spark.operators.semdedup import (
        FROZEN_CENTROIDS_64D_K4,
        semdedup_labels,
    )

    e = load_table(spark, sf, "embeddings")
    edges = cosine_threshold_edges(e, "vec_id", "embedding", threshold=0.4)
    labels = min_id_components(e.select(F.col("vec_id").alias("node")), edges)
    cc = labels.select(
        F.lit("cc").alias("mode"),
        F.col("node").alias("vec_id"),
        F.col("label").cast("long").alias("component"),
    )
    sem = (
        semdedup_labels(e, "vec_id", "embedding", 0.4, FROZEN_CENTROIDS_64D_K4)
        .filter(F.col("survivor"))
        .select(
            F.lit("sem").alias("mode"),
            "vec_id",
            F.col("component").cast("long").alias("component"),
        )
    )
    from waterdata_spark.operators.clustering import kmeans

    _, asg = kmeans(
        e, "vec_id", "embedding", init_centroids=FROZEN_CENTROIDS_64D_K4, n_iter=2
    )
    km = asg.select(
        F.lit("km").alias("mode"),
        "vec_id",
        F.col("cluster").cast("long").alias("component"),
    )
    return cc.unionByName(sem).unionByName(km)


@query(
    "x16_ann_search",
    """
    WITH d AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 5 <> 0),
    q AS (SELECT vec_id AS qid, label AS qlabel, embedding FROM embeddings WHERE vec_id % 5 = 0),
    p AS (
      SELECT q.qid, q.qlabel, d.vec_id AS neighbor_id, d.label,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(d.embedding AS DOUBLE[])) AS c
      FROM q CROSS JOIN d
    ),
    search AS (
      SELECT 'search' AS mode, qid AS query_id, neighbor_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY c DESC, neighbor_id
             ) AS BIGINT) AS rank
      FROM p QUALIFY rank <= 5
    ),
    hardneg AS (
      SELECT 'hardneg' AS mode, qid AS query_id, neighbor_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY round(c, 6) DESC, neighbor_id
             ) AS BIGINT) AS rank
      FROM p
      WHERE label <> qlabel AND round(c, 6) >= 0.1 AND round(c, 6) < 0.8
      QUALIFY rank <= 5
    ),
    e AS (
      SELECT vec_id, embedding, unnest(range(1, len(embedding) + 1)) AS i
      FROM embeddings WHERE vec_id < 200
    ),
    x AS (
      SELECT vec_id, CAST(i AS INT) AS i,
             CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v
      FROM e
    ),
    norms AS (SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM x GROUP BY vec_id),
    dots AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id, SUM(a.v * b.v) AS dot
      FROM x a JOIN x b ON a.i = b.i AND a.vec_id <> b.vec_id
      GROUP BY 1, 2
    ),
    selfk AS (
      SELECT 'self' AS mode, d.vec_id AS query_id, d.neighbor_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY d.vec_id
               ORDER BY d.dot / (na.nrm * nb.nrm) DESC, d.neighbor_id ASC
             ) AS BIGINT) AS rank
      FROM dots d
      JOIN norms na ON d.vec_id = na.vec_id
      JOIN norms nb ON d.neighbor_id = nb.vec_id
      QUALIFY rank <= 5
    )
    SELECT * FROM search UNION ALL SELECT * FROM selfk
    UNION ALL SELECT * FROM hardneg
    """,
    doc="X3 exact dense retrieval, both shapes in one oracle row (r8: "
    "the former x07_cosine_topk is the 'self' leg — slot freed for "
    "x26_bm25_topk). 'search' = a QUERY table against a DATA corpus "
    "(every 5th vector queries the rest; the IVF scale path "
    "cosine_search_ivf is equivalence-tested against this at probe-all "
    "and recall-measured at partial probe); 'self' = brute-force "
    "self-top-k over vec_id < 200 (the dedup shape — the ANN baseline "
    "the LSH/IVF paths are measured against). Rank-only per leg: float "
    "sums differ in the last ulp across engines, ranks don't. "
    "r10 third leg 'hardneg': hard-negative mining for contrastive/"
    "retrieval training (operators/mining.py — DPR/RocketQA-style: "
    "highest-cosine DIFFERENT-label candidates inside the semi-hard "
    "band [0.1, 0.8), 6dp-rounded so band and order decisions "
    "reproduce across engines); the twin re-derives every surviving "
    "(query, neighbor, rank) from the same cross product. The IVF "
    "scale path is equivalence-tested against this exact form at "
    "probe-all in tests/test_mining.py.",
    tags=["similarity", "llm"],
)
def x16_ann_search(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.operators.similarity import (
        cosine_search_bruteforce,
        cosine_topk_bruteforce,
    )

    e = load_table(spark, sf, "embeddings")
    data = e.filter(F.col("vec_id") % 5 != 0)
    queries = e.filter(F.col("vec_id") % 5 == 0).withColumnRenamed("vec_id", "qid")
    search = cosine_search_bruteforce(
        data, queries, query_id_col="qid", k=5, sim_col=None
    ).select(F.lit("search").alias("mode"), "query_id", "neighbor_id", "rank")
    selfk = cosine_topk_bruteforce(
        e.filter(F.col("vec_id") < 200), id_col="vec_id", vec_col="embedding", k=5
    ).select(
        F.lit("self").alias("mode"),
        F.col("vec_id").alias("query_id"),
        "neighbor_id",
        "rank",
    )
    # 'hardneg' leg (r10): semi-hard different-label negatives, exact
    # method (the oracle form; the IVF path is equivalence-tested
    # against it at probe-all)
    from waterdata_spark.operators.mining import mine_hard_negatives

    hardneg = mine_hard_negatives(
        data,
        queries,
        query_id_col="qid",
        label_col="label",
        k=5,
        lo=0.1,
        hi=0.8,
    ).select(
        F.lit("hardneg").alias("mode"),
        "query_id",
        "neighbor_id",
        "rank",
    )
    return search.unionByName(selfk).unionByName(hardneg)


@query(
    "x11_quality_filter",
    """
    WITH t AS (
      SELECT doc_id, lang,
             CAST(length(text) AS BIGINT) AS n_chars_measured,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]')) AS BIGINT) AS n_bpe_tokens,
             list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
      FROM documents
    ), m AS (
      SELECT doc_id, lang, n_chars_measured, n_bpe_tokens, len(toks) AS n_tok,
             CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
               / greatest(len(toks), 1) AS mtl,
             list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS grams
      FROM t
    )
    SELECT 'quality' AS mode, doc_id, lang, CAST(n_tok AS BIGINT) AS n_tokens,
           n_chars_measured, n_bpe_tokens, mtl AS mean_token_len,
           CAST(NULL AS VARCHAR) AS main_text
    FROM m
    WHERE n_tok >= 30 AND mtl BETWEEN 3.0 AND 8.0
      AND (CASE WHEN len(grams) > 0
            THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
            ELSE 0.0 END) <= 0.05
    UNION ALL
    SELECT 'main', doc_id, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           main_text
    FROM (
      WITH mh AS (
        SELECT doc_id,
               '<html><body><div id="nav"><a href="/">Home</a> <a href="/a">Section A</a> <a href="/b">Section B</a></div><p>'
               || substr(text, 1, CAST(floor(length(text) / 2) AS INT))
               || '</p><p>'
               || substr(text, CAST(floor(length(text) / 2) AS INT) + 1)
               || '</p><div class="rel"><a href="/x">More one</a> <a href="/y">More two</a></div></body></html>'
               AS html
        FROM documents
      ),
      mclean AS (
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
                 '(?is)<a\\b[^>]*>', CHR(1), 'g'),
                 '(?is)</a\\s*>', CHR(2), 'g'),
                 '(?i)</(?:p|div|li|ul|ol|h[1-6]|tr|table|blockquote|section|article|header|footer|pre|figure|figcaption|dd|dt)>|<br\\s*/?>|<hr\\s*/?>',
                 CHR(10), 'g'),
                 '(?s)<[^>]*>', '', 'g') AS s
        FROM mh
      ),
      mblk AS (
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS block_idx, parts[CAST(i AS INT)] AS blk
        FROM (
          SELECT doc_id, parts, unnest(range(1, len(parts) + 1)) AS i
          FROM (SELECT doc_id, string_split(s, CHR(10)) AS parts FROM mclean)
        )
      ),
      mfeat AS (
        SELECT doc_id, block_idx,
               trim(regexp_replace(replace(replace(blk, CHR(1), ''), CHR(2), ''), '\\s+', ' ', 'g')) AS block_text,
               length(replace(replace(blk, CHR(1), ''), CHR(2), '')) AS raw_len,
               CAST(COALESCE(list_sum(list_transform(
                 regexp_extract_all(blk, CHR(1) || '([^' || CHR(2) || ']*)' || CHR(2), 1),
                 x -> length(x))), 0) AS BIGINT) AS anchor_chars
        FROM mblk
      ),
      mcls AS (
        SELECT doc_id, block_idx, block_text,
               length(block_text) AS n_chars,
               CAST(anchor_chars AS DOUBLE) / greatest(raw_len, 1) AS ld
        FROM mfeat WHERE length(block_text) > 0
      ),
      mgood AS (
        SELECT doc_id, block_idx, block_text,
               (ld <= 0.3 AND n_chars >= 80) AS base,
               (ld <= 0.3 AND n_chars >= 20) AS short_ok
        FROM mcls
      ),
      mfinal AS (
        SELECT doc_id, block_idx, block_text,
               base OR (NOT base AND short_ok
                 AND COALESCE(lag(base) OVER w, FALSE)
                 AND COALESCE(lead(base) OVER w, FALSE)) AS is_content
        FROM mgood
        WINDOW w AS (PARTITION BY doc_id ORDER BY block_idx)
      )
      SELECT d.doc_id,
             COALESCE(g.main_text, '') AS main_text
      FROM documents d
      LEFT JOIN (
        SELECT doc_id, string_agg(block_text, CHR(10) ORDER BY block_idx) AS main_text
        FROM mfinal WHERE is_content GROUP BY doc_id
      ) g USING (doc_id)
    )
    """,
    doc="X4 LLM-data quality filter: token count + mean-token-length "
    "thresholds plus the Gopher-style within-document repetition gate "
    "(duplicate-bigram fraction <= 0.05, Rae et al. 2021 §A1.1; filters "
    "~25% of the synthetic corpus so the oracle observes the signal) — "
    "the canonical pre-training heuristic filters, one scan, fully "
    "pushed into JVM expressions via functions/text.py:"
    "repetition_features. Round 6: absorbs the former x02 token-stats "
    "entry (char length, whitespace token count, BPE-ish regex "
    "pre-tokenizer count, mean token length — all still oracle-hashed "
    "here) to free a registry slot for x21_decontaminate; see "
    "COVERAGE.md. r10 second leg 'main': main-content extraction "
    "(operators/content.py — the boilerpipe/jusText block classifier: "
    "anchors sentinel-marked before tag strip so per-block link "
    "density survives, blocks gated on length + link density with the "
    "near-good neighbor inheritance window) over pages synthesized "
    "deterministically from each document's text wrapped in nav and "
    "related-links rails; the DuckDB twin re-implements the whole "
    "block chain (sentinel regexps, block split, raw-length density, "
    "neighbor window, ordered reassembly) and every extracted "
    "main_text string must match byte-for-byte.",
    tags=["text", "llm", "filter"],
)
def x11_quality_filter(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.functions.text import bpe_tokens, repetition_features

    d = load_table(spark, sf, "documents")
    toks = tokens("text")
    n_tok = F.size(toks).cast("long")
    tok_chars = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    mtl = tok_chars.cast("double") / F.greatest(n_tok, F.lit(1)).cast("double")
    dup_bigrams = repetition_features("text", ngram=2)["dup_ngram_fraction"]
    quality = (
        d.withColumn("n_tokens", n_tok)
        .withColumn("n_chars_measured", F.length("text").cast("long"))
        .withColumn("n_bpe_tokens", F.size(bpe_tokens("text")).cast("long"))
        .withColumn("mean_token_len", mtl)
        .withColumn("__dup", dup_bigrams)
        .filter(
            (F.col("n_tokens") >= 30)
            & (F.col("mean_token_len") >= 3.0)
            & (F.col("mean_token_len") <= 8.0)
            & (F.col("__dup") <= 0.05)
        )
        .select(
            F.lit("quality").alias("mode"),
            "doc_id",
            "lang",
            "n_tokens",
            "n_chars_measured",
            "n_bpe_tokens",
            "mean_token_len",
            F.lit(None).cast("string").alias("main_text"),
        )
    )
    # 'main' leg (r10): main-content extraction through the REAL
    # operator over deterministically synthesized pages — every doc's
    # text wrapped in nav/related link rails and split across two <p>
    # blocks; the twin re-implements the block chain in SQL
    from waterdata_spark.operators.content import extract_main_content

    html = F.concat(
        F.lit(
            '<html><body><div id="nav"><a href="/">Home</a> '
            '<a href="/a">Section A</a> <a href="/b">Section B</a></div><p>'
        ),
        F.expr("substr(text, 1, CAST(floor(length(text) / 2) AS INT))"),
        F.lit("</p><p>"),
        F.expr("substr(text, CAST(floor(length(text) / 2) AS INT) + 1)"),
        F.lit(
            '</p><div class="rel"><a href="/x">More one</a> '
            '<a href="/y">More two</a></div></body></html>'
        ),
    )
    main = extract_main_content(
        d.select("doc_id", html.alias("html")), id_col="doc_id", html_col="html"
    ).select(
        F.lit("main").alias("mode"),
        "doc_id",
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("long").alias("n_tokens"),
        F.lit(None).cast("long").alias("n_chars_measured"),
        F.lit(None).cast("long").alias("n_bpe_tokens"),
        F.lit(None).cast("double").alias("mean_token_len"),
        "main_text",
    )
    return quality.unionByName(main)


@query(
    "x14_training_prep",
    """
    WITH kept AS (
      SELECT doc_id, text, lang FROM documents
      QUALIFY ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) = 1
    ), t AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
      FROM kept
    )
    SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
           CASE WHEN md5('split42:' || CAST(doc_id AS VARCHAR))
                     < 'c0000000000000000000000000000000'
                THEN 'train' ELSE 'eval' END AS split
    FROM t
    WHERE len(toks) >= 30
      AND CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
            / greatest(len(toks), 1) BETWEEN 3.0 AND 8.0
    """,
    doc="End-to-end LLM training-data prep as ONE declarative plan: exact "
    "dedup (map-side min_by on a sha2 content key — the bodies never "
    "shuffle twice), token-count + mean-token-length quality gate, and "
    "a deterministic 75/25 md5 train/eval split. Composes X1+X4+hash-"
    "sample (x19's 'hash25' leg) the "
    "way a real corpus pipeline chains them; one scan of documents, no "
    "Python in the plan.",
    tags=["text", "llm", "dedup", "composite"],
)
def x14_training_prep(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.operators.dedup import priority_dedup_agg

    d = load_table(spark, sf, "documents").select("doc_id", "text", "lang")
    # X1 dedup: group on the fixed-width content hash (never shuffles
    # bodies as keys), min_by keeps the lowest-id row map-side
    kept = priority_dedup_agg(
        d.withColumn("__sha", F.sha2(F.col("text"), 256)), ["__sha"], F.col("doc_id")
    ).drop("__sha")
    toks = tokens("text")
    n_tok = F.size(toks).cast("long")
    tok_chars = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    mtl = tok_chars.cast("double") / F.greatest(n_tok, F.lit(1)).cast("double")
    split = F.when(
        F.md5(F.concat(F.lit("split42:"), F.col("doc_id").cast("string")))
        < "c0000000000000000000000000000000",
        F.lit("train"),
    ).otherwise(F.lit("eval"))
    return (
        kept.withColumn("n_tokens", n_tok)
        .withColumn("__mtl", mtl)
        .filter((F.col("n_tokens") >= 30) & (F.col("__mtl") >= 3.0) & (F.col("__mtl") <= 8.0))
        .select("doc_id", "lang", "n_tokens", split.alias("split"))
    )


@query(
    "q22_orderby_limit",
    """
    WITH topn AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey ASC
      LIMIT 10
    )
    SELECT o_orderpriority,
           string_agg(DISTINCT CAST(o_orderkey AS VARCHAR), ';'
                      ORDER BY CAST(o_orderkey AS VARCHAR)) AS keys,
           COUNT(*) AS n,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
    FROM topn
    GROUP BY o_orderpriority
    """,
    doc="C25 sort + C26 limit as a deterministic top-N (total order via "
    "the orderkey tiebreak; Spark plans the limit as "
    "TakeOrderedAndProject — no global sort, each partition keeps N rows "
    "then the driver merges), composed with the former q23 slot's "
    "ordered string aggregation over the top-N (r7 consolidation, "
    "freeing the slot for x23): concat_ws over sort_array(collect_set) "
    "— deterministic multiset semantics on both engines. Every top-10 "
    "membership decision is still hash-checked: the keys column lists "
    "the winning orderkeys per priority.",
    tags=["sort", "limit", "agg", "string"],
)
def q22_orderby_limit(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    topn = o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc()).limit(
        10
    )
    return topn.groupBy("o_orderpriority").agg(
        F.concat_ws(
            ";", F.sort_array(F.collect_set(F.col("o_orderkey").cast("string")))
        ).alias("keys"),
        F.count(F.lit(1)).alias("n"),
        F.max("o_totalprice").cast("double").alias("max_price"),
    )


@query(
    "x12_profile_stats",
    """
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n_rows,
             COUNT(l_orderkey) AS nn_orderkey,
             COUNT(DISTINCT l_orderkey) AS nd_orderkey,
             COUNT(DISTINCT l_suppkey) AS nd_suppkey,
             CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
             CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price,
             CAST(MIN(l_quantity) AS DOUBLE) AS min_qty,
             CAST(MAX(l_quantity) AS DOUBLE) AS max_qty,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
             round(quantile_cont(l_quantity, 0.25), 4) AS q25,
             round(quantile_cont(l_quantity, 0.50), 4) AS q50,
             round(quantile_cont(l_quantity, 0.75), 4) AS q75
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT l_returnflag, n_rows, nn_orderkey, nd_orderkey, nd_suppkey,
           min_price, max_price, min_qty, max_qty, q25, q50, q75,
           (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS qty_price_corr
    FROM m
    """,
    doc="C30/X6 profiling, grouped grain (r8: absorbs the former "
    "q32_quantiles — whose slot registers x30_lm_ppl_score — so one row "
    "carries the whole profiling family): per-group row/non-null/"
    "distinct counts and min/max (the engine's replacement for the "
    "reference's human-reviewed checkpoint CSVs, down/down_water_prep."
    "py:372-373; operators/expectations.profile generalizes to every "
    "column), exact interpolated quantiles (percentile in Spark, "
    "quantile_cont in DuckDB — same linear-interpolation definition; "
    "4dp-rounded, exact for 2dp inputs), and Pearson correlation from "
    "exact decimal moment sums (order-independent decimals, one fixed "
    "IEEE final expression — bit-identical across engines, unlike "
    "native corr() whose float accumulation is order-dependent). "
    "approx_percentile is the documented 100 TB sketch variant.",
    tags=["profile", "agg", "stats"],
)
def x12_profile_stats(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    dx = F.col("l_quantity").cast("decimal(18,2)")
    dy = F.col("l_extendedprice").cast("decimal(18,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("l_orderkey").alias("nn_orderkey"),
        F.count_distinct(F.col("l_orderkey")).alias("nd_orderkey"),
        F.count_distinct(F.col("l_suppkey")).alias("nd_suppkey"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dx).cast("double").alias("sx"),
        F.sum(dy).cast("double").alias("sy"),
        F.sum(dx * dx).cast("double").alias("sxx"),
        F.sum(dy * dy).cast("double").alias("syy"),
        F.sum(dx * dy).cast("double").alias("sxy"),
        F.round(F.expr("percentile(l_quantity, 0.25)"), 4).alias("q25"),
        F.round(F.expr("percentile(l_quantity, 0.50)"), 4).alias("q50"),
        F.round(F.expr("percentile(l_quantity, 0.75)"), 4).alias("q75"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        "l_returnflag", "n_rows", "nn_orderkey", "nd_orderkey", "nd_suppkey",
        "min_price", "max_price", "min_qty", "max_qty", "q25", "q50", "q75",
        corr.alias("qty_price_corr"),
    )


# q23_string_agg was consolidated into q22_orderby_limit in round 7 —
# the ordered string aggregation (concat_ws over sort_array(collect_set)
# vs string_agg DISTINCT ... ORDER BY) is still oracle-hashed there,
# over the top-N rows — freeing the registry slot for
# x23_dedup_against (the fuzzy cross-corpus DATA-DELETING operator).
# See COVERAGE.md.


@query(
    "q24_window_funcs",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS UNBOUNDED PRECEDING
           ) AS DOUBLE) AS running_revenue,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey
             ORDER BY (CAST(o_orderdate AS DATE) - DATE '1970-01-01')
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS d30_revenue,
           CAST((CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS BIGINT)
             - CAST(lag(CAST(o_orderdate AS DATE) - DATE '1970-01-01') OVER w AS BIGINT) AS gap_days,
           lead(o_orderkey) OVER w AS next_orderkey
    FROM orders
    WHERE o_custkey < 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="Window-function suite in one entry (formerly q24 running sum / "
    "q34 RANGE frame / q33 lead-lag — consolidated so every family "
    "member fits the driver's 50-entry correctness run): decimal-exact "
    "cumulative sum under a total order (ROWS frame), trailing-30-day "
    "revenue (VALUE-based RANGE frame over the day number, so same-day "
    "orders are peers), and lead/lag deltas (inter-order gap in days, "
    "next order id). One shuffle on o_custkey serves all four window "
    "columns; computed integers cast to BIGINT on both engines.",
    tags=["window", "agg"],
)
def q24_window_funcs(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders").filter(F.col("o_custkey") < 200)
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    w_rows = w.rowsBetween(Window.unboundedPreceding, 0)
    w_range = Window.partitionBy("o_custkey").orderBy(day).rangeBetween(-30, 0)
    money = F.col("o_totalprice").cast("decimal(18,2)")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(money).over(w_rows).cast("double").alias("running_revenue"),
        F.sum(money).over(w_range).cast("double").alias("d30_revenue"),
        (day - F.lag(day).over(w)).alias("gap_days"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    )


# (r8) q25_semi_join was consolidated into q05 — the left-semi EXISTS
# half is q05's 'with' leg, still oracle-hashed; the freed slot
# registers x27_url_canonicalize (COVERAGE.md trace).


@query(
    "q26_above_customer_avg",
    """
    WITH stats AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey) AS DOUBLE)
               / COUNT(*) OVER (PARTITION BY o_custkey) AS cust_avg
      FROM orders
    )
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM stats
    WHERE o_totalprice > cust_avg
    """,
    doc="Correlated-subquery pattern (orders above their customer's "
    "average) via a partition window — one shuffle instead of the "
    "self-join a naive correlated subquery would plan.",
    tags=["window", "filter"],
)
def q26_above_customer_avg(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey")
    avg = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double") / F.count(
        F.lit(1)
    ).over(w)
    return (
        o.withColumn("__avg", avg)
        .filter(F.col("o_totalprice") > F.col("__avg"))
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@query(
    "q27_range_join",
    """
    WITH bins AS (
      SELECT 0.0 AS lo, 5.0 AS hi, 'low' AS bin UNION ALL
      SELECT 5.0, 15.0, 'mid' UNION ALL
      SELECT 15.0, 40.0, 'high'
    )
    SELECT e.event_id, e.value, b.bin,
           COUNT(*) OVER (PARTITION BY b.bin) AS bin_n
    FROM events e
    JOIN bins b ON e.value >= b.lo AND e.value < b.hi
    """,
    doc="Range join (point-in-interval): bucketize + equi-join + residual "
    "filter instead of the BroadcastNestedLoopJoin a naive inequality "
    "join plans. DuckDB oracle uses the plain inequality join.",
    tags=["join", "range", "composite"],
)
def q27_range_join(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.operators.range_join import range_join

    e = load_table(spark, sf, "events").select("event_id", "value")
    bins = spark.createDataFrame(
        [(0.0, 5.0, "low"), (5.0, 15.0, "mid"), (15.0, 40.0, "high")],
        "lo double, hi double, bin string",
    )
    out = range_join(e, bins, point_col="value", lo_col="lo", hi_col="hi", bucket_width=5.0)
    w = Window.partitionBy("bin")
    return out.select("event_id", "value", "bin", F.count(F.lit(1)).over(w).alias("bin_n"))


@query(
    "q28_json_extract",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MIN(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    """,
    doc="JSON field extraction from the semi-structured props column + "
    "aggregation — get_json_object is JVM-side; at scale prefer "
    "from_json with a declared schema once the shape is known (single "
    "parse, columnar after).",
    tags=["json", "agg"],
)
def q28_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    e = load_table(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "q31_set_ops",
    """
    SELECT CAST(c_nationkey AS VARCHAR) AS key, 'both' AS src FROM customer
    INTERSECT
    SELECT CAST(s_nationkey AS VARCHAR), 'both' FROM supplier
    UNION ALL
    (SELECT CAST(c_nationkey AS VARCHAR), 'customer_only' FROM customer
     EXCEPT
     SELECT CAST(s_nationkey AS VARCHAR), 'customer_only' FROM supplier)
    UNION ALL
    SELECT l_returnflag || '|' || l_linestatus, 'distinct_pair'
    FROM (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem)
    UNION ALL
    SELECT CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR),
           'returned'
    FROM lineitem WHERE l_returnflag = 'R'
    UNION ALL
    SELECT CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR),
           'finished'
    FROM lineitem WHERE l_linestatus = 'F'
    """,
    doc="Set operations (INTERSECT / EXCEPT, set semantics) — §2.4 notes "
    "them absent from the reference; free from Spark's intersect/"
    "exceptAll surface. The 'distinct_pair' leg is the former "
    "q08_distinct_pairs (C23 full-row distinct), consolidated here r8 "
    "to free a registry slot: the distinct runs on the raw column pair "
    "(true full-row semantics), then projects to the union schema. The "
    "'returned'/'finished' legs are the former q11_union_by_name (C27 "
    "bag-semantics union BY NAME — the two inputs deliberately carry "
    "their columns in different orders pre-projection, the §1.3 hazard "
    "that makes positional union corrupt data; consolidated r8, slot "
    "freed for x29_dsir_select).",
    tags=["setops", "dedup", "union"],
)
def q31_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer").select(
        F.col("c_nationkey").cast("string").alias("key")
    )
    s = load_table(spark, sf, "supplier").select(
        F.col("s_nationkey").cast("string").alias("key")
    )
    both = c.intersect(s).withColumn("src", F.lit("both"))
    only_c = c.distinct().exceptAll(s.distinct()).withColumn("src", F.lit("customer_only"))
    pairs = (
        load_table(spark, sf, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .select(F.concat_ws("|", "l_returnflag", "l_linestatus").alias("key"))
        .withColumn("src", F.lit("distinct_pair"))
    )
    li = load_table(spark, sf, "lineitem")
    # C27: deliberately DIFFERENT column orders; unionByName must align
    ret = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_linenumber", F.lit("returned").alias("src")
    )
    fin = li.filter(F.col("l_linestatus") == "F").select(
        F.lit("finished").alias("src"), "l_linenumber", "l_orderkey"
    )
    unioned = ret.unionByName(fin).select(
        F.concat_ws(
            "|",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("key"),
        "src",
    )
    return both.unionByName(only_c).unionByName(pairs).unionByName(unioned)


# (r8) q32_quantiles was consolidated into x12_profile_stats — the
# grouped quantile + decimal-moment correlation stats are x12's per-
# l_returnflag profile row, still oracle-hashed; the freed slot
# registers x30_lm_ppl_score (COVERAGE.md trace).


@query(
    "w01_down_pipeline",
    # Oracle over the STAGED raw inputs (fixtures/w/*.parquet, produced
    # once by tools/stage_w_fixtures.py through the engine's own CSV/
    # xlsx readers): replicates SPI⟗BI on coalesced keys, the sites
    # left join, the 'n'-marker key normalization, the per-tier
    # priority-dedup windows, the 3-tier fallback with final-tier-left
    # semantics, and the match summary. The dim side is projected to
    # the columns the summary can observe — the tier-dedup order
    # (Sample Location / SYSTEM NAME, ZIP_CODE, SITE_ID) plus ZIP_CODE
    # itself — any dedup tie beyond those columns has equal ZIP on
    # every candidate, so the matched counts are invariant.
    f"""
    WITH spi_bi AS (
      SELECT
        COALESCE(s."PWSID", b."PWSID") AS "PWSID",
        COALESCE(s."SYSTEM NAME", b."SYSTEM NAME") AS "SYSTEM NAME",
        COALESCE(s."SITE ID", b."SITE ID") AS "SITE_ID",
        s."SAMPLE POINT ID"
      FROM (SELECT * REPLACE (TRY_CAST("PWSID" AS BIGINT) AS "PWSID")
            FROM read_parquet('{FIXTURES_W}/spi.parquet')) s
      FULL OUTER JOIN (SELECT * REPLACE (TRY_CAST("PWSID" AS BIGINT) AS "PWSID")
            FROM read_parquet('{FIXTURES_W}/bi.parquet')) b
        ON s."PWSID" = b."PWSID" AND s."SYSTEM NAME" = b."SYSTEM NAME"
       AND s."SITE ID" = b."SITE ID"
    ), site_df AS (
      SELECT sb.*, st."ZIP_CODE"
      FROM (SELECT * REPLACE (trim("SYSTEM NAME") AS "SYSTEM NAME") FROM spi_bi) sb
      LEFT JOIN read_parquet('{FIXTURES_W}/sites.parquet') st
        ON sb."SITE_ID" = st."SITE_ID"
    ), site_n AS (
      SELECT "PWSID",
             trim("SYSTEM NAME") AS "SYSTEM NAME",
             'n' || trim(regexp_replace(
               CASE WHEN "SAMPLE POINT ID" IS NULL OR "SAMPLE POINT ID" IN ('nan','NaN','')
                    THEN 'X' ELSE "SAMPLE POINT ID" END, '\\.0$', '')) AS "Sample Location",
             CASE WHEN "ZIP_CODE" IN ('nan','NaN','') THEN NULL ELSE "ZIP_CODE" END AS "ZIP_CODE",
             "SITE_ID"
      FROM site_df
    ), t1 AS (
      SELECT "PWSID", "SYSTEM NAME", "Sample Location", "ZIP_CODE" FROM site_n
      QUALIFY row_number() OVER (PARTITION BY "PWSID", "SYSTEM NAME", "Sample Location"
        ORDER BY "Sample Location" DESC NULLS LAST, "ZIP_CODE" ASC NULLS LAST,
                 "SITE_ID" ASC NULLS LAST) = 1
    ), t2 AS (
      SELECT "PWSID", "SYSTEM NAME", "ZIP_CODE" FROM site_n
      QUALIFY row_number() OVER (PARTITION BY "PWSID", "SYSTEM NAME"
        ORDER BY "Sample Location" DESC NULLS LAST, "ZIP_CODE" ASC NULLS LAST,
                 "SITE_ID" ASC NULLS LAST) = 1
    ), t3 AS (
      SELECT "PWSID", "ZIP_CODE" FROM site_n
      QUALIFY row_number() OVER (PARTITION BY "PWSID"
        ORDER BY "SYSTEM NAME" DESC NULLS LAST, "ZIP_CODE" ASC NULLS LAST,
                 "SITE_ID" ASC NULLS LAST) = 1
    ), raw AS (
      SELECT DISTINCT * FROM read_parquet('{FIXTURES_W}/data.parquet')
    ), fact_n AS (
      SELECT TRY_CAST(trim("PWSID") AS BIGINT) AS "PWSID",
             trim("SYSTEM NAME") AS "SYSTEM NAME",
             'n' || trim(regexp_replace(
               CASE WHEN "Sample Location" IS NULL OR "Sample Location" IN ('nan','NaN','')
                    THEN 'Y' ELSE "Sample Location" END, '\\.0$', '')) AS "Sample Location"
      FROM raw
    ), joined AS (
      SELECT t1."ZIP_CODE" AS z1, (t1."PWSID" IS NOT NULL) AS i1,
             t2."ZIP_CODE" AS z2, (t2."PWSID" IS NOT NULL) AS i2,
             t3."ZIP_CODE" AS z3, (t3."PWSID" IS NOT NULL) AS i3
      FROM fact_n f
      LEFT JOIN t1 ON f."PWSID" = t1."PWSID" AND f."SYSTEM NAME" = t1."SYSTEM NAME"
                  AND f."Sample Location" = t1."Sample Location"
      LEFT JOIN t2 ON f."PWSID" = t2."PWSID" AND f."SYSTEM NAME" = t2."SYSTEM NAME"
      LEFT JOIN t3 ON f."PWSID" = t3."PWSID"
    ), final AS (
      SELECT CASE
               WHEN i1 AND z1 IS NOT NULL AND z1 <> '' THEN z1
               WHEN i2 AND z2 IS NOT NULL AND z2 <> '' THEN z2
               WHEN i3 AND z3 IS NOT NULL AND z3 <> '' THEN z3
               ELSE z3
             END AS "ZIP_CODE"
      FROM joined
    )
    SELECT CAST(("ZIP_CODE" IS NOT NULL AND "ZIP_CODE" <> '') AS INT) AS matched,
           COUNT(*) AS n
    FROM final GROUP BY 1
    """,
    doc="The reference's flagship pipeline end-to-end on its own shipped "
    "data (144,595 fact rows): multi-file unionByName ingest, SPI⟗BI "
    "outer join + coalesce + consistency gate, fact cleaning, 3-tier "
    "hierarchical fallback join with row-count preservation. Returns "
    "per-tier match counts (stable summary). The Spark side ingests "
    "the raw CSV/xlsx fixtures (C1-C3 stay exercised); the oracle "
    "replays the full transform from the staged raw inputs "
    "(fixtures/w, tools/stage_w_fixtures.py) — a hash-checked query "
    "since r5 (VERDICT r4 item 4). Runs identically at any sf_dir — "
    "the inputs are the reference fixtures.",
    tags=["pipeline", "water", "composite"],
)
def w01_down_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.pipelines.down import down_csv_stage, down_join_stage

    site_sub, data = down_csv_stage(spark, **down_page_paths(down_pages_dir()))
    out = down_join_stage(spark, site_sub, data)
    return (
        out.withColumn(
            "matched",
            (F.col("ZIP_CODE").isNotNull() & (F.col("ZIP_CODE") != "")).cast("int"),
        )
        .groupBy("matched")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "w02_compare_reconciliation",
    # Oracle over the staged raw fact (fixtures/w/data.parquet — see
    # w01). Every one of the 7 reconciliation keys derives from FACT
    # columns (the site dim contributes only payload the summary never
    # reads), so the oracle needs no dim replay: clean fact → 'n'-key
    # normalization → md5 25%-sample with every-4th-date perturbation →
    # conform both channels (trims, M/d/yyyy parses, sentinel→1/9/1999
    # compat on the down side only) → 7-key inner join → per-SAMPTYPE
    # counts.
    f"""
    WITH raw AS (
      SELECT DISTINCT * FROM read_parquet('{FIXTURES_W}/data.parquet')
    ), fact0 AS (
      SELECT * REPLACE (
        CASE WHEN "Sample Type" = 'DISTRIBUTIO N' THEN 'DISTRIBUTION'
             ELSE "Sample Type" END AS "Sample Type",
        trim("SYSTEM NAME") AS "SYSTEM NAME",
        regexp_replace("Sample Date", '\\s', '', 'g') AS "Sample Date"
      ) FROM raw
    ), fact_n AS (
      SELECT * REPLACE (
        'n' || trim(regexp_replace(
          CASE WHEN "Sample Location" IS NULL OR "Sample Location" IN ('nan','NaN','')
               THEN 'Y' ELSE "Sample Location" END, '\\.0$', '')) AS "Sample Location"
      ) FROM fact0
    ), down AS (
      SELECT *, md5(concat_ws('|', CAST(TRY_CAST("PWSID" AS BIGINT) AS VARCHAR),
                    "Contaminant ID", "Sample Location", "Sample Date")) AS h
      FROM fact_n
    ), direct AS (
      SELECT TRY_CAST("PWSID" AS BIGINT) AS "PWSID",
             "Contaminant ID" AS "CONTNAM",
             substr("Sample Type", 1, 1) AS "SAMPTYPE",
             CASE WHEN substr(h, 3, 1) IN ('0','4','8','c') THEN '12/31/2099'
                  ELSE "Sample Date" END AS "SAMPDATE",
             "Analysis Date" AS "ANALDATE",
             "SYSTEM NAME" AS "SYSNAME",
             regexp_replace("Sample Location", '^n', '') AS "LOC_EPID"
      FROM down WHERE h < '40000000000000000000000000000000'
    ), conf_down AS (
      SELECT TRY_CAST("PWSID" AS BIGINT) AS "PWSID",
             trim("SYSTEM NAME") AS sysname,
             trim("Contaminant ID") AS cont,
             try_strptime(CASE WHEN trim(regexp_replace("Sample Date",'\\s','','g'))
                               IN ('.','nan','NaN','') THEN NULL
                          ELSE regexp_replace("Sample Date",'\\s','','g') END,
                          '%-m/%-d/%Y')::DATE AS sdate,
             try_strptime(coalesce(
               CASE WHEN trim(regexp_replace("Analysis Date",'\\s','','g'))
                    IN ('.','nan','NaN','') THEN NULL
               ELSE regexp_replace("Analysis Date",'\\s','','g') END,
               '1/9/1999'), '%-m/%-d/%Y')::DATE AS adate,
             substr("Sample Type", 1, 1) AS "SAMPTYPE",
             "Sample Location" AS "LOC_EPID"
      FROM down
    ), conf_direct AS (
      SELECT "PWSID",
             trim("SYSNAME") AS sysname,
             trim("CONTNAM") AS cont,
             try_strptime(CASE WHEN trim(regexp_replace("SAMPDATE",'\\s','','g'))
                               IN ('.','nan','NaN','') THEN NULL
                          ELSE regexp_replace("SAMPDATE",'\\s','','g') END,
                          '%-m/%-d/%Y')::DATE AS sdate,
             try_strptime(CASE WHEN trim(regexp_replace("ANALDATE",'\\s','','g'))
                               IN ('.','nan','NaN','') THEN NULL
                          ELSE regexp_replace("ANALDATE",'\\s','','g') END,
                          '%-m/%-d/%Y')::DATE AS adate,
             "SAMPTYPE",
             'n' || "LOC_EPID" AS "LOC_EPID"
      FROM direct
    ), j AS (
      SELECT d."SAMPTYPE", d."PWSID"
      FROM conf_down d JOIN conf_direct c
        ON d."PWSID" = c."PWSID" AND d.cont = c.cont AND d.sysname = c.sysname
       AND d.sdate = c.sdate AND d.adate = c.adate AND d."SAMPTYPE" = c."SAMPTYPE"
       AND d."LOC_EPID" = c."LOC_EPID"
    )
    SELECT "SAMPTYPE", COUNT(*) AS n_matched, COUNT(DISTINCT "PWSID") AS n_systems
    FROM j GROUP BY "SAMPTYPE"
    """,
    doc="The reference's third entry point (compare.py:88-107) end-to-end "
    "on the shipped 144,595-row data: the down product (conform + "
    "3-tier fallback join) is reconciled against a deterministically "
    "derived direct-channel product via the 7-key inner join. The "
    "direct side is a 25% md5-sample of the down product mapped to the "
    "direct schema, with every 4th sampled row's date perturbed so it "
    "must NOT reconcile — the stable per-SAMPTYPE match counts prove "
    "key conformance (date parsing, trims, 'n'-prefix typing, sentinel "
    "handling) across both channels.",
    tags=["pipeline", "water", "composite"],
)
def w02_compare_reconciliation(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.pipelines.compare import compare_pipeline
    from waterdata_spark.pipelines.down import down_csv_stage, down_join_stage

    site_sub, data = down_csv_stage(spark, **down_page_paths(down_pages_dir()))
    down_prod = down_join_stage(spark, site_sub, data)

    # deterministic direct-channel derivation: md5-sample 25% of the
    # down product into the direct schema (LOC_EPID without the 'n'
    # prefix — conform_direct re-adds it), perturbing every 4th
    # sampled row's Sample Date so it cannot reconcile
    h = F.md5(
        F.concat_ws(
            "|", F.col("PWSID").cast("string"), "Contaminant ID", "Sample Location", "Sample Date"
        )
    )
    samp = down_prod.filter(h < "40000000000000000000000000000000")
    perturb = F.substring(h, 3, 1).isin("0", "4", "8", "c")
    direct = samp.select(
        F.col("PWSID").cast("long").alias("PWSID"),
        F.col("Contaminant ID").alias("CONTNAM"),
        F.col("Analysis Result").cast("double").alias("RESULT"),
        F.substring("Sample Type", 1, 1).alias("SAMPTYPE"),
        F.when(perturb, F.lit("12/31/2099")).otherwise(F.col("Sample Date")).alias("SAMPDATE"),
        F.col("Analysis Date").alias("ANALDATE"),
        F.col("SYSTEM NAME").alias("SYSNAME"),
        F.regexp_replace(F.col("Sample Location"), "^n", "").alias("LOC_EPID"),
    )
    out = compare_pipeline(spark, down_prod, direct)
    return (
        out.groupBy("SAMPTYPE")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.count_distinct("PWSID").alias("n_systems"),
        )
        .orderBy("SAMPTYPE")
    )


#: w03 quality-gate config: the four SQL-expressible Gopher signals
#: stay active (n_words floor LOWERED to 20 — the corpus loses lines to
#: the boilerplate stage upstream, exactly the interaction this row
#: verifies); the line/ngram-repetition signals are neutralized here
#: because their DuckDB twins live in x11/x22 already and a 12-signal
#: twin would re-prove what those rows prove.
_W03_NEUTRAL = (float("-inf"), float("inf"))
_W03_THRESHOLDS = {
    "n_words": (20.0, 100000.0),
    "mean_word_len": (3.0, 10.0),
    # alpha_word_ratio (0.80, inf) and symbol_word_ratio (-inf, 0.10)
    # ride the published defaults — mirrored in the twin
    "bullet_line_fraction": _W03_NEUTRAL,
    "ellipsis_line_fraction": _W03_NEUTRAL,
    "dup_line_fraction": _W03_NEUTRAL,
    "top_2gram_fraction": _W03_NEUTRAL,
    "top_3gram_fraction": _W03_NEUTRAL,
    "top_4gram_fraction": _W03_NEUTRAL,
    "dup_5gram_fraction": _W03_NEUTRAL,
    "dup_10gram_fraction": _W03_NEUTRAL,
}


@query(
    "w03_curation_cascade",
    """
    WITH src0 AS (
      SELECT doc_id, replace(text, ' the ', chr(10)) AS text FROM documents
    ),
    src AS (
      SELECT doc_id, text FROM src0
      UNION ALL
      SELECT doc_id + 100000, text FROM src0 WHERE doc_id % 83 = 0
    ),
    s1 AS (
      SELECT doc_id, text FROM src
      QUALIFY ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) = 1
    ),
    arr AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\r?\n'), x -> trim(x) <> '') AS lns
      FROM s1
    ),
    ls AS (
      SELECT doc_id, unnest(lns) AS line, unnest(range(len(lns))) AS idx FROM arr
    ),
    hot AS (
      SELECT trim(line) AS t FROM ls
      GROUP BY trim(line) HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    bkept AS (
      SELECT doc_id, idx, line FROM ls
      WHERE trim(line) NOT IN (SELECT t FROM hot)
    ),
    s2 AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text
      FROM bkept GROUP BY doc_id
    ),
    s2t AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
      FROM s2
    ),
    s3 AS (
      SELECT doc_id, text FROM s2t
      WHERE len(toks) BETWEEN 20 AND 100000
        AND CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
            / greatest(len(toks), 1) BETWEEN 3.0 AND 10.0
        AND CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
            / greatest(len(toks), 1) >= 0.80
        AND CAST(len(list_filter(toks, x -> regexp_matches(x, '#|\\.\\.\\.|…'))) AS DOUBLE)
            / greatest(len(toks), 1) <= 0.10
    ),
    lowsrc AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
      FROM src
    ),
    ev AS (
      SELECT doc_id * 10 + 1 AS eid, toks[4:16] AS etoks
      FROM lowsrc WHERE doc_id % 97 = 0 AND len(toks) >= 16
      UNION ALL
      SELECT doc_id * 10 + 2 AS eid, toks[1:5] AS etoks
      FROM lowsrc WHERE doc_id % 131 = 0 AND len(toks) >= 5
    ),
    eg0 AS (
      SELECT eid,
             CASE WHEN len(etoks) >= 13 THEN 13 ELSE len(etoks) END AS l,
             UNNEST(CASE WHEN len(etoks) >= 13
               THEN list_transform(range(1, len(etoks) - 11),
                                   i -> array_to_string(etoks[i:i+12], ' '))
               ELSE [array_to_string(etoks, ' ')] END) AS g
      FROM ev WHERE len(etoks) > 0
    ),
    eg AS (SELECT DISTINCT l, g FROM eg0),
    lens AS (SELECT DISTINCT l FROM eg),
    ct AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
      FROM s3
    ),
    cw AS (
      SELECT ct.doc_id, lens.l AS l,
             UNNEST(list_transform(range(1, len(ct.toks) - lens.l + 2),
                                   i -> array_to_string(ct.toks[i:i+lens.l-1], ' '))) AS g
      FROM ct, lens WHERE len(ct.toks) >= lens.l
    ),
    flagged AS (
      SELECT DISTINCT cw.doc_id FROM cw JOIN eg ON cw.l = eg.l AND cw.g = eg.g
    ),
    s4 AS (
      SELECT doc_id, text FROM s3
      WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
    )
    SELECT 'doc' AS mode, CAST(doc_id AS VARCHAR) AS k, text AS v FROM s4
    UNION ALL SELECT 'funnel', 'input', CAST(COUNT(*) AS VARCHAR) FROM src
    UNION ALL SELECT 'funnel', 'exact_dedup', CAST(COUNT(*) AS VARCHAR) FROM s1
    UNION ALL SELECT 'funnel', 'boilerplate', CAST(COUNT(*) AS VARCHAR) FROM s2
    UNION ALL SELECT 'funnel', 'quality_gate', CAST(COUNT(*) AS VARCHAR) FROM s3
    UNION ALL SELECT 'funnel', 'decontaminate', CAST(COUNT(*) AS VARCHAR) FROM s4
    """,
    doc="The COMPOSED curation cascade, oracle-backed end-to-end "
    "(VERDICT r8 item 3): pipelines/curate.curate_corpus running exact "
    "dedup -> boilerplate-line removal -> Gopher quality gate -> "
    "13-gram eval decontamination over the documents table (made "
    "multi-line by the x22 literal-replace convention so the "
    "boilerplate stage does real work; eval items carved "
    "deterministically from the corpus by the x21 convention). The "
    "DuckDB twin CHAINS the already-proven x01/x22-boiler/x11-style/"
    "x21 recipes in the same order, so what this row uniquely "
    "hash-checks is the COMPOSITION: stage ordering, each stage "
    "consuming the previous stage's rewritten text (the gate counts "
    "words of the post-boilerplate text; decontamination slides over "
    "post-gate text — the published 'decontaminate last among "
    "deleters' rule), and the per-stage funnel. 'doc' leg = surviving "
    "(doc_id, final text) value-for-value; 'funnel' leg = row counts "
    "after every stage (r13: counted from the stage_barrier frames of "
    "ONE cascade run — each checkpointed intermediate is exactly the "
    "prefix-cascade result, so the counts are unchanged while the r12 "
    "plan's 4 extra prefix cascades are gone; the observe()-based "
    "funnel is the production path, tested in test_pipelines, but "
    "observations need a driver action and the oracle contract's "
    "funnel must be ROWS of the result). Quality-gate config: "
    "_W03_THRESHOLDS (4 SQL-expressible signals active, repetition "
    "signals neutralized — x11/x22 already prove those twins).",
    tags=["llm", "pipeline", "dedup", "text"],
)
def w03_curation_cascade(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.pipelines.curate import curate_corpus

    src0 = load_table(spark, sf, "documents").select(
        "doc_id", F.replace(F.col("text"), F.lit(" the "), F.lit("\n")).alias("text")
    )
    # plant exact duplicates (every 83rd doc re-tagged above the id
    # space) — the synthetic corpus has no exact dups at sf0.01, and a
    # vacuous first stage would verify nothing about its ordering
    src = src0.unionByName(
        src0.filter(F.col("doc_id") % 83 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    toks = tokens(F.col("text"))
    span13 = src.filter((F.col("doc_id") % 97 == 0) & (F.size(toks) >= 16)).select(
        (F.col("doc_id") * 10 + 1).alias("doc_id"),
        F.array_join(F.slice(toks, 4, 13), " ").alias("text"),
    )
    short5 = src.filter((F.col("doc_id") % 131 == 0) & (F.size(toks) >= 5)).select(
        (F.col("doc_id") * 10 + 2).alias("doc_id"),
        F.array_join(F.slice(toks, 1, 5), " ").alias("text"),
    )
    evals = span13.unionByName(short5)

    # r13 (guide §3.3/§5 — materialise intermediates to truncate the
    # plan): ONE cascade run under stage_barrier=True; the funnel legs
    # count the checkpointed stage outputs instead of re-running the
    # cascade prefix per leg (the r12 form built 4 extra prefix
    # cascades — a 118-Exchange plan that paid exact-dedup 5x and
    # boilerplate 3x). Counts over materialized frames are the same
    # numbers the prefix runs produced (the cascade is sequential:
    # the intermediate AFTER stage k == running only stages 1..k).
    res = curate_corpus(
        src,
        audit=False,
        exact_dedup=True,
        boilerplate_min_docs=2,
        quality_gate={"thresholds": _W03_THRESHOLDS},
        decontaminate_eval=evals,
        stage_barrier=True,
    )
    full = res.df
    docs = full.select(
        F.lit("doc").alias("mode"),
        F.col("doc_id").cast("string").alias("k"),
        F.col("text").alias("v"),
    )

    def n_rows(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("__n")).select(
            F.lit("funnel").alias("mode"),
            F.lit(name).alias("k"),
            F.col("__n").cast("string").alias("v"),
        )

    funnel = (
        n_rows(src, "input")
        .unionByName(n_rows(res.frames["exact_dedup"], "exact_dedup"))
        .unionByName(n_rows(res.frames["boilerplate"], "boilerplate"))
        .unionByName(n_rows(res.frames["quality_gate"], "quality_gate"))
        .unionByName(n_rows(res.frames["decontaminate"], "decontaminate"))
    )
    return docs.unionByName(funnel)


# (r8) x13_hash_sample was consolidated into x19_stratified_sample —
# the deterministic salted-md5 hash-sample primitive is x19's 'hash25'
# leg (operators/sampling.hash_sample, same seed, same ~25% threshold),
# still oracle-hashed; the freed slot registers x25_linked_dedup
# (COVERAGE.md trace).


# ---------------------------------------------------------------------------
# Round-4 shaping / maintenance operators, oracle-backed (VERDICT r4 #1)
# ---------------------------------------------------------------------------


@query(
    "x17_chunk_documents",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
      FROM documents
    ), n AS (
      SELECT doc_id, toks,
             greatest(1, CAST(ceil((len(toks) - 8) / 24.0) AS BIGINT)) AS n_chunks
      FROM t WHERE len(toks) > 0
    ), e AS (
      SELECT doc_id, toks, unnest(generate_series(0, n_chunks - 1)) AS g FROM n
    )
    SELECT 'tok' AS mode, doc_id,
           CAST(g AS BIGINT) AS chunk_idx,
           array_to_string(list_slice(toks, g * 24 + 1, g * 24 + 32), ' ') AS chunk_text,
           CAST(len(list_slice(toks, g * 24 + 1, g * 24 + 32)) AS BIGINT) AS n_chunk_tokens,
           CAST(NULL AS BIGINT) AS n_sentences
    FROM e
    UNION ALL
    SELECT 'sent', doc_id, chunk_idx,
           string_agg(sent, ' ' ORDER BY sent_idx) AS chunk_text,
           CAST(SUM(n) AS BIGINT), CAST(COUNT(*) AS BIGINT)
    FROM (
      SELECT doc_id, sent_idx, sent, n,
             CAST(floor((SUM(n) OVER (
               PARTITION BY doc_id ORDER BY sent_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n) / 32.0) AS BIGINT) AS chunk_idx
      FROM (
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS sent_idx,
               trim(parts[CAST(i AS INT)]) AS sent,
               CAST(len(list_filter(
                 regexp_split_to_array(trim(parts[CAST(i AS INT)]), '\\s+'),
                 x -> x <> '')) AS BIGINT) AS n
        FROM (
          SELECT doc_id, parts, unnest(range(1, len(parts) + 1)) AS i
          FROM (
            SELECT doc_id,
                   regexp_split_to_array(
                     regexp_replace(text, '\\bvalue\\b', 'value.', 'g'),
                     '\\.\\s+') AS parts
            FROM documents
          )
        )
      ) WHERE n > 0
    )
    GROUP BY doc_id, chunk_idx
    """,
    doc="Token-window document chunking (operators/chunking.chunk_documents): "
    "max 32 tokens per chunk, 8-token overlap (stride 24) — the "
    "context-preserving split for training/RAG ingestion. Spark plan is "
    "one narrow stage (tokens → sequence → posexplode → slice, no "
    "shuffle, no UDF); the oracle reproduces the same windows with "
    "DuckDB list slicing over generate_series. r10 second leg 'sent': "
    "sentence-preserving chunking (chunk_documents_sentences — "
    "consecutive sentences assigned to token-budget chunks by the "
    "pack_sequences running-sum convention, never cutting "
    "mid-sentence) over text given deterministic sentence boundaries "
    "(a period after every 'value' token — the corpus vocabulary "
    "guarantees coverage) with an RE2-safe consuming boundary pattern "
    "so the twin reproduces the split, the per-document cumsum window, "
    "and the ordered reassembly string-for-string.",
    tags=["llm", "shaping"],
)
def x17_chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.operators.chunking import (
        chunk_documents,
        chunk_documents_sentences,
    )

    d = load_table(spark, sf, "documents")
    tok = chunk_documents(
        d, id_col="doc_id", text_col="text", max_tokens=32, overlap=8
    ).select(
        F.lit("tok").alias("mode"),
        "doc_id",
        "chunk_idx",
        "chunk_text",
        "n_chunk_tokens",
        F.lit(None).cast("long").alias("n_sentences"),
    )
    # 'sent' leg (r10): deterministic sentence boundaries synthesized in
    # both engines (period after every 'value' token), RE2-safe
    # consuming boundary so DuckDB reproduces the split
    sent_src = d.select(
        "doc_id",
        F.regexp_replace("text", r"\bvalue\b", "value.").alias("text"),
    )
    sent = chunk_documents_sentences(
        sent_src, id_col="doc_id", text_col="text", max_tokens=32,
        boundary=r"\.\s+",
    ).select(
        F.lit("sent").alias("mode"),
        "doc_id",
        "chunk_idx",
        "chunk_text",
        "n_chunk_tokens",
        "n_sentences",
    )
    return tok.unionByName(sent)


def _portable_stream_hash(c: str) -> F.Column:
    """Engine-portable stream assignment for x18's oracle twin: the
    first 60 bits of a salted md5 as a long (DuckDB: CAST('0x'||substr
    AS UBIGINT)). xxhash64 (the default) is faster but Spark-only."""
    h = F.md5(F.concat(F.lit("pack:"), F.col(c).cast("string")))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long")


@query(
    "x18_pack_sequences",
    """
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
             CAST(CAST('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 15) AS UBIGINT) % 8 AS INT) AS stream_id
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens, stream_id,
             SUM(n_tokens) OVER (
               PARTITION BY stream_id
               ORDER BY n_tokens DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t WHERE n_tokens > 0
    ), b AS (
      SELECT doc_id, n_tokens, stream_id,
             CAST(floor((cum - n_tokens) / 128.0) AS BIGINT) AS bin_id
      FROM c
    ), bb AS (
      SELECT doc_id, n_tokens, stream_id,
             CAST((ROW_NUMBER() OVER (
               PARTITION BY stream_id
               ORDER BY n_tokens DESC, doc_id ASC) - 1) // 16 AS BIGINT) AS batch_id
      FROM c
    )
    SELECT 'pack' AS mode, doc_id, n_tokens, stream_id, bin_id,
           CAST(SUM(n_tokens) OVER (PARTITION BY stream_id, bin_id) AS BIGINT) AS bin_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY stream_id, bin_id
             ORDER BY n_tokens DESC, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset
    FROM b
    UNION ALL
    SELECT 'batch', doc_id, n_tokens, stream_id, batch_id,
           CAST(MAX(n_tokens) OVER (PARTITION BY stream_id, batch_id) AS BIGINT),
           CAST(NULL AS BIGINT)
    FROM bb
    """,
    doc="Fixed-budget sequence packing (operators/chunking.pack_sequences): "
    "documents hash-partitioned into 8 content-hash streams, each stream "
    "first-fit-decreasing packed into 128-token bins by running cumsum — "
    "the scalable approximation of bin packing used by training-data "
    "pipelines (one shuffle, one window, no driver state). The "
    "registered variant uses the portable md5 stream hash so the DuckDB "
    "twin reproduces bin assignments bit-for-bit. r10 'offset' column: "
    "pack_offsets — each document's start-token position within its "
    "bin, the loader contract for packing WITHOUT cross-document "
    "attention contamination (per-document masks/position resets need "
    "document starts); hash-checked per row against the twin's "
    "within-bin prior-token window sum. r11 second leg 'batch': "
    "chunking.batch_by_length — length-bucketed FIXED-COUNT batching "
    "(the padding-waste minimizer for serving/eval: per-stream length "
    "sort, cut every 16 rows) on the same portable streams; bin_id "
    "carries the batch id and bin_tokens the batch's padded length "
    "(max tokens), every row hash-checked against the twin's "
    "row_number-div window.",
    tags=["llm", "shaping"],
)
def x18_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.operators.chunking import (
        batch_by_length,
        pack_offsets,
        pack_sequences,
    )

    d = load_table(spark, sf, "documents")
    out = pack_sequences(
        d,
        id_col="doc_id",
        text_col="text",
        budget_tokens=128,
        n_streams=8,
        stream_hash=_portable_stream_hash,
    )
    pack_leg = pack_offsets(out).select(
        F.lit("pack").alias("mode"),
        "doc_id", "n_tokens", "stream_id", "bin_id", "bin_tokens", "offset",
    )
    # 'batch' leg (r11): length-bucketed batching on the same portable
    # streams — batch_id rides bin_id, padded length rides bin_tokens
    batch_leg = batch_by_length(
        d,
        id_col="doc_id",
        text_col="text",
        batch_size=16,
        n_streams=8,
        stream_hash=_portable_stream_hash,
    ).select(
        F.lit("batch").alias("mode"),
        "doc_id",
        "n_tokens",
        "stream_id",
        F.col("batch_id").alias("bin_id"),
        F.col("batch_max_tokens").alias("bin_tokens"),
        F.lit(None).cast("long").alias("offset"),
    )
    return pack_leg.unionByName(batch_leg)


@query(
    "x19_stratified_sample",
    """
    WITH t AS (
      SELECT doc_id, lang, source,
             CAST(CAST('0x' || substr(md5('strat7:' || CAST(doc_id AS VARCHAR)), 1, 15) AS UBIGINT) AS DOUBLE)
               / 1152921504606846976.0 AS u
      FROM documents
    )
    SELECT doc_id, lang, source, 'strat' AS sample FROM t
    WHERE u < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                        WHEN 'fr' THEN 0.75 ELSE 0.0 END
    UNION ALL
    SELECT doc_id, lang, source, 'hash25' AS sample FROM documents
    WHERE CAST(CAST('0x' || substr(md5('sample42:' || CAST(doc_id AS VARCHAR)), 1, 15) AS UBIGINT) AS DOUBLE)
            / 1152921504606846976.0 < 0.25
    UNION ALL
    SELECT doc_id, lang, source,
           'split_' || CASE
             WHEN CAST(CAST('0x' || substr(md5('split7:' || CAST(doc_id // 7 AS VARCHAR)), 1, 15) AS UBIGINT) AS DOUBLE)
                  / 1152921504606846976.0 < 0.8 THEN 'train'
             WHEN CAST(CAST('0x' || substr(md5('split7:' || CAST(doc_id // 7 AS VARCHAR)), 1, 15) AS UBIGINT) AS DOUBLE)
                  / 1152921504606846976.0 < 0.9 THEN 'val'
             ELSE 'test' END AS sample
    FROM documents
    UNION ALL
    SELECT doc_id, lang, source, 'cap' AS sample FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (
               PARTITION BY CASE WHEN doc_id % 3 = 0 THEN source ELSE 'big' END
               -- DOUBLE, not UBIGINT: Spark's cap_per_group orders by the
               -- 53-bit-mantissa double, so the twin must round the same
               -- way or rank-boundary ties can diverge (ADVICE r10; the
               -- hash25/split legs cast for the same reason)
               ORDER BY CAST(CAST('0x' || substr(md5('cap42:' || CAST(doc_id AS VARCHAR)), 1, 15) AS UBIGINT) AS DOUBLE),
                        doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 30
    """,
    doc="Deterministic sampling and splitting, three forms in one "
    "oracle row (r8: the former x13_hash_sample is the 'hash25' leg — "
    "slot freed for x25_linked_dedup). 'strat' = per-stratum rates "
    "{en: 0.5, de: 0.25, fr: 0.75} via "
    "operators/sampling.stratified_sample, missing strata (es, zh) "
    "drop to 0.0 per the documented contract; 'hash25' = flat ~25% "
    "via operators/sampling.hash_sample. 'split_*' (NEW r9) = "
    "operators/sampling.assign_split, the LEAKAGE-SAFE train/val/test "
    "assignment: the 80/10/10 label is a pure function of (seed, the "
    "row's GROUP key — here doc_id div 7, simulating ~7-doc near-dup "
    "clusters), so co-grouped near-duplicates land in the same split "
    "(Lee 2021 §4: row-hash splitting inflates eval via train-side "
    "near-dups) and growing the corpus never flips an existing "
    "group's split. Membership everywhere is the salted-md5 uniform — "
    "reproducible across engines and cluster sizes, unlike "
    "rand()-based sampling; the per-stratum rates ride one broadcast "
    "of a |strata|-row literal frame; the split is a zero-shuffle "
    "CASE chain. r10 fourth leg 'cap': sampling.cap_per_group — the "
    "C4/RefinedWeb per-domain frequency cap (at most N docs per "
    "group, frozen-random order) over a deliberately SKEWED synthetic "
    "group (every 3rd doc keeps its source, the rest pool into one "
    "hot 'big' group), so the skew-aware plan's both branches fire: "
    "small groups pass through the broadcast anti-join untouched, "
    "only the hot group's rows enter the window; the twin is the "
    "plain row_number()<=N — the split plan must be semantically "
    "invisible.",
    tags=["llm", "sampling"],
)
def x19_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.operators.sampling import (
        assign_split,
        hash_sample,
        stratified_sample,
    )

    d = load_table(spark, sf, "documents")
    strat = stratified_sample(
        d, "lang", {"en": 0.5, "de": 0.25, "fr": 0.75}, id_col="doc_id", seed="strat7"
    ).select("doc_id", "lang", "source", F.lit("strat").alias("sample"))
    hs = hash_sample(d, id_col="doc_id", fraction=0.25, seed="sample42").select(
        "doc_id", "lang", "source", F.lit("hash25").alias("sample")
    )
    # 'split' leg (r9): leakage-safe 80/10/10 assignment keyed on a
    # simulated near-dup GROUP (doc_id div 7 — ~7-doc clusters), so the
    # oracle checks every row's label AND the group-stability contract
    sp = assign_split(
        d.withColumn("__grp", F.expr("doc_id div 7")),
        {"train": 0.8, "val": 0.1, "test": 0.1},
        group_col="__grp",
        seed="split7",
    ).select(
        "doc_id",
        "lang",
        "source",
        F.concat(F.lit("split_"), F.col("split")).alias("sample"),
    )
    # 'cap' leg (r10): per-group frequency cap over a skewed synthetic
    # group — both plan branches (broadcast pass-through + windowed hot
    # group) execute; semantics pinned to plain row_number()<=N
    from waterdata_spark.operators.sampling import cap_per_group

    grp = F.when(F.col("doc_id") % 3 == 0, F.col("source")).otherwise(F.lit("big"))
    cap_leg = cap_per_group(
        d.withColumn("__g", grp), "__g", 30, id_col="doc_id", seed="cap42"
    ).select("doc_id", "lang", "source", F.lit("cap").alias("sample"))
    return strat.unionByName(hs).unionByName(sp).unionByName(cap_leg)


@query(
    "x20_apply_changes",
    """
    WITH tgt AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 4 <> 0
    ), chg AS (
      SELECT o_orderkey, 1 AS seq, 'update' AS op, o_totalprice + 1000 AS o_totalprice
      FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, 2 AS seq,
             CASE WHEN o_orderkey % 5 = 0 THEN 'delete' ELSE 'update' END AS op,
             o_totalprice * 2 AS o_totalprice
      FROM orders WHERE o_orderkey % 3 = 0
    ), latest AS (
      SELECT o_orderkey, o_totalprice, (op = 'delete') AS is_del
      FROM chg
      QUALIFY row_number() OVER (
        PARTITION BY o_orderkey ORDER BY seq DESC, (op = 'delete') DESC) = 1
    ), merged AS (
      SELECT COALESCE(t.o_orderkey, l.o_orderkey) AS o_orderkey,
             t.o_orderstatus AS o_orderstatus,
             CASE WHEN l.o_orderkey IS NOT NULL THEN l.o_totalprice
                  ELSE t.o_totalprice END AS o_totalprice
      FROM tgt t FULL OUTER JOIN latest l ON t.o_orderkey = l.o_orderkey
      WHERE (t.o_orderkey IS NOT NULL AND NOT (l.o_orderkey IS NOT NULL AND l.is_del))
         OR (t.o_orderkey IS NULL AND NOT l.is_del)
    )
    SELECT 'merged' AS mode, o_orderkey, o_orderstatus, o_totalprice
    FROM merged
    UNION ALL
    SELECT 'diff', COALESCE(t.o_orderkey, m.o_orderkey),
           CASE WHEN t.o_orderkey IS NULL THEN 'added'
                WHEN m.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END,
           CAST(NULL AS DOUBLE)
    FROM tgt t FULL OUTER JOIN merged m ON t.o_orderkey = m.o_orderkey
    WHERE t.o_orderkey IS NULL OR m.o_orderkey IS NULL
       OR t.o_totalprice IS DISTINCT FROM m.o_totalprice
       OR t.o_orderstatus IS DISTINCT FROM m.o_orderstatus
    """,
    doc="CDC changelog apply (operators/merge.apply_changes → "
    "merge_upsert): a synthetic two-generation changelog over orders "
    "(seq 1 superseded by seq 2; every 5th changed key a delete) "
    "collapses via one map-side-combinable max_by — latest-seq-wins, "
    "delete-on-tie — then SCD-1 full-outer merges into a target missing "
    "every 4th key, exercising update, insert and delete paths in one "
    "oracle row. Inserted keys carry NULL for columns absent from the "
    "feed (o_orderstatus). r10 second leg 'diff': dataset_diff "
    "(operators/diff.py) — the snapshot-versioning audit between the "
    "pre-merge target and the merged result (added = inserted keys, "
    "removed = deletes, changed = updates); each side reduces to "
    "(key, md5 digest) BEFORE the full-outer join so wide rows never "
    "ride the shuffle, and the twin re-derives every status with "
    "IS DISTINCT FROM value comparison — digest equality and value "
    "equality must agree row-for-row.",
    tags=["merge", "cdc"],
)
def x20_apply_changes(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.operators.merge import apply_changes

    o = load_table(spark, sf, "orders")
    tgt = o.filter(F.col("o_orderkey") % 4 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = o.filter(F.col("o_orderkey") % 3 == 0)
    chg = base.select(
        "o_orderkey",
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("seq"),
                    F.lit("update").alias("op"),
                    (F.col("o_totalprice") + 1000).alias("o_totalprice"),
                ),
                F.struct(
                    F.lit(2).alias("seq"),
                    F.when(F.col("o_orderkey") % 5 == 0, "delete")
                    .otherwise("update")
                    .alias("op"),
                    (F.col("o_totalprice") * 2).alias("o_totalprice"),
                ),
            )
        ).alias("c"),
    ).select("o_orderkey", "c.seq", "c.op", "c.o_totalprice")
    merged = apply_changes(tgt, chg, ["o_orderkey"])
    merged_leg = merged.select(
        F.lit("merged").alias("mode"), "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    # 'diff' leg (r10): the snapshot audit — what did the changelog do?
    from waterdata_spark.operators.diff import dataset_diff

    diff_leg = dataset_diff(tgt, merged, "o_orderkey").select(
        F.lit("diff").alias("mode"),
        "o_orderkey",
        F.col("status").alias("o_orderstatus"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    return merged_leg.unionByName(diff_leg)


@query(
    "x21_decontaminate",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
      FROM documents
    ), ev AS (
      SELECT doc_id * 10 + 1 AS eid, toks[4:16] AS etoks
      FROM t WHERE doc_id % 97 = 0 AND len(toks) >= 16
      UNION ALL
      SELECT doc_id * 10 + 2 AS eid, toks[1:5] AS etoks
      FROM t WHERE doc_id % 131 = 0 AND len(toks) >= 5
    ), eg0 AS (
      SELECT eid,
             CASE WHEN len(etoks) >= 13 THEN 13 ELSE len(etoks) END AS l,
             UNNEST(CASE WHEN len(etoks) >= 13
               THEN list_transform(range(1, len(etoks) - 11),
                                   i -> array_to_string(etoks[i:i+12], ' '))
               ELSE [array_to_string(etoks, ' ')] END) AS g
      FROM ev WHERE len(etoks) > 0
    ), eg AS (
      SELECT DISTINCT eid, l, g FROM eg0
    ), lens AS (
      SELECT DISTINCT l FROM eg
    ), cw AS (
      SELECT t.doc_id, lens.l AS l,
             UNNEST(list_transform(range(1, len(t.toks) - lens.l + 2),
                                   i -> array_to_string(t.toks[i:i+lens.l-1], ' '))) AS g
      FROM t, lens WHERE len(t.toks) >= lens.l
    )
    SELECT cw.doc_id,
           CAST(COUNT(DISTINCT eg.g) AS BIGINT) AS n_collisions,
           CAST(COUNT(DISTINCT eg.eid) AS BIGINT) AS n_eval_docs
    FROM cw JOIN eg ON cw.l = eg.l AND cw.g = eg.g
    GROUP BY cw.doc_id
    """,
    doc="X9 eval-set decontamination, ORACLE-GATED (VERDICT r5 item 3; "
    "the flag side of operators/decontaminate.ngram_contamination — the "
    "GPT-3 13-gram collision rule, Brown et al. 2020 App. C, with "
    "whole-example grams for short eval items). The eval set is carved "
    "deterministically from the corpus itself (a 13-token span from "
    "every 97th document + a 5-token short item from every 131st), so "
    "contamination is guaranteed non-vacuous and both engines can "
    "construct it. Spark matches on broadcast xxhash64 gram hashes "
    "(document text never rides the shuffle); the DuckDB twin matches "
    "the gram STRINGS — equal distinct-counts certify the hash path is "
    "collision-free at this scale. Output: one row per contaminated "
    "doc with distinct colliding grams + implicated eval items.",
    tags=["llm", "decontaminate", "text"],
)
def x21_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.operators.decontaminate import ngram_contamination

    d = load_table(spark, sf, "documents").select("doc_id", "text")
    toks = tokens("text")
    span13 = d.filter((F.col("doc_id") % 97 == 0) & (F.size(toks) >= 16)).select(
        (F.col("doc_id") * 10 + 1).alias("eid"),
        F.array_join(F.slice(toks, 4, 13), " ").alias("etext"),
    )
    short5 = d.filter((F.col("doc_id") % 131 == 0) & (F.size(toks) >= 5)).select(
        (F.col("doc_id") * 10 + 2).alias("eid"),
        F.array_join(F.slice(toks, 1, 5), " ").alias("etext"),
    )
    eval_df = span13.unionByName(short5)
    return ngram_contamination(
        d, eval_df, n=13, eval_id_col="eid", eval_text_col="etext"
    ).select("doc_id", "n_collisions", "n_eval_docs")


@query(
    "x22_dedup_lines_global",
    """
    WITH arr AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(replace(text, ' the ', chr(10)), '\r?\n'),
                         x -> trim(x) <> '') AS lns
      FROM documents
    ),
    ls AS (
      SELECT doc_id,
             unnest(lns) AS line,
             unnest(range(len(lns))) AS idx
      FROM arr
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_total FROM ls GROUP BY doc_id),
    kept AS (
      SELECT doc_id, idx, line FROM (
        SELECT doc_id, idx, line,
               ROW_NUMBER() OVER (PARTITION BY trim(line)
                                  ORDER BY doc_id, idx) AS rn
        FROM ls
      ) WHERE rn = 1
    ),
    agg AS (
      SELECT doc_id,
             string_agg(line, chr(10) ORDER BY idx) AS text,
             COUNT(*) AS n_lines_kept
      FROM kept GROUP BY doc_id
    ),
    hot AS (
      SELECT trim(line) AS t FROM ls
      GROUP BY trim(line) HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    bkept AS (
      SELECT doc_id, idx, line FROM ls
      WHERE trim(line) NOT IN (SELECT t FROM hot)
    ),
    bagg AS (
      SELECT doc_id,
             string_agg(line, chr(10) ORDER BY idx) AS text,
             COUNT(*) AS n_lines_kept
      FROM bkept GROUP BY doc_id
    )
    SELECT 'dedup' AS mode, a.doc_id, a.text,
           CAST(a.n_lines_kept AS BIGINT) AS n_lines_kept,
           CAST(t.n_total - a.n_lines_kept AS BIGINT) AS n_lines_dropped
    FROM agg a JOIN tot t USING (doc_id)
    UNION ALL
    SELECT 'boiler' AS mode, b.doc_id, b.text,
           CAST(b.n_lines_kept AS BIGINT) AS n_lines_kept,
           CAST(t.n_total - b.n_lines_kept AS BIGINT) AS n_lines_dropped
    FROM bagg b JOIN tot t USING (doc_id)
    """,
    doc="X1/X9 line-granularity corpus rewriting, both global shapes in "
    "one oracle row (r8). 'dedup' = C4-style GLOBAL line dedup (Raffel "
    "et al. 2020 §2.2): every line keeps only its first corpus "
    "occurrence, deterministic by (doc_id, line index). 'boiler' = "
    "CCNet/RefinedWeb-style boilerplate removal (Wenzek 2020 §3.1, "
    "Penedo 2023 §3.4): a line whose distinct-document frequency "
    "reaches 2 is deleted from EVERY document including the first — "
    "cookie banners are content nowhere. The corpus is made multi-line "
    "for the check by a literal replace both engines share (' the ' -> "
    "newline), so 43 lines recur across documents at sf0.01 and both "
    "legs do real work. The DuckDB twin elects/filters by the trimmed "
    "line STRING itself, so the engine's 96-bit hash composite is "
    "checked against exact-string semantics on both paths. Engine "
    "shape: one shuffle on the fixed-width line hash (min_by election "
    "/ two-phase distinct-doc count), order-preserving reassembly via "
    "sort_array(collect_list).",
    tags=["dedup", "text", "llm"],
)
def x22_dedup_lines_global(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.operators.dedup import (
        dedup_lines_global,
        remove_boilerplate_lines,
    )

    d = load_table(spark, sf, "documents").select(
        "doc_id", F.replace(F.col("text"), F.lit(" the "), F.lit("\n")).alias("text")
    )
    dd = dedup_lines_global(d, "doc_id", "text").select(
        F.lit("dedup").alias("mode"), "doc_id", "text", "n_lines_kept", "n_lines_dropped"
    )
    bb = remove_boilerplate_lines(d, "doc_id", "text", min_docs=2).select(
        F.lit("boiler").alias("mode"), "doc_id", "text", "n_lines_kept", "n_lines_dropped"
    )
    return dd.unionByName(bb)


@query(
    "x23_dedup_against",
    """
    WITH idx AS (
      SELECT doc_id, text,
             unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS i
      FROM documents
    ),
    sh AS (SELECT doc_id, substr(text, CAST(i AS INT), 8) AS s FROM idx),
    mh AS (
      SELECT doc_id,
             min(md5('0:' || s)) AS h0, min(md5('1:' || s)) AS h1,
             min(md5('2:' || s)) AS h2, min(md5('3:' || s)) AS h3,
             min(md5('4:' || s)) AS h4, min(md5('5:' || s)) AS h5,
             min(md5('6:' || s)) AS h6, min(md5('7:' || s)) AS h7
      FROM sh GROUP BY doc_id
    ),
    rmh AS (SELECT * FROM mh WHERE doc_id % 5 = 2),
    cbands AS (
      SELECT doc_id, 0 AS band_id, md5(h0 || '|' || h1) AS band_hash FROM mh
      UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM mh
      UNION ALL SELECT doc_id, 2, md5(h4 || '|' || h5) FROM mh
      UNION ALL SELECT doc_id, 3, md5(h6 || '|' || h7) FROM mh
    ),
    rbands AS (
      SELECT doc_id, 0 AS band_id, md5(h0 || '|' || h1) AS band_hash FROM rmh
      UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM rmh
      UNION ALL SELECT doc_id, 2, md5(h4 || '|' || h5) FROM rmh
      UNION ALL SELECT doc_id, 3, md5(h6 || '|' || h7) FROM rmh
    ),
    cand AS (
      SELECT DISTINCT c.doc_id AS cid, r.doc_id AS rid
      FROM cbands c JOIN rbands r
        ON c.band_id = r.band_id AND c.band_hash = r.band_hash
    ),
    est AS (
      SELECT cand.cid, cand.rid
      FROM cand
      JOIN mh a ON a.doc_id = cand.cid
      JOIN rmh b ON b.doc_id = cand.rid
      WHERE CAST((CASE WHEN a.h0 = b.h0 THEN 1 ELSE 0 END)
               + (CASE WHEN a.h1 = b.h1 THEN 1 ELSE 0 END)
               + (CASE WHEN a.h2 = b.h2 THEN 1 ELSE 0 END)
               + (CASE WHEN a.h3 = b.h3 THEN 1 ELSE 0 END)
               + (CASE WHEN a.h4 = b.h4 THEN 1 ELSE 0 END)
               + (CASE WHEN a.h5 = b.h5 THEN 1 ELSE 0 END)
               + (CASE WHEN a.h6 = b.h6 THEN 1 ELSE 0 END)
               + (CASE WHEN a.h7 = b.h7 THEN 1 ELSE 0 END) AS DOUBLE) / 8.0
            >= 0.35
    ),
    dsh AS (SELECT DISTINCT doc_id, s FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
    flagged AS (
      SELECT DISTINCT e.cid AS doc_id
      FROM (
        SELECT e.cid, e.rid, COUNT(*) AS ni
        FROM est e
        JOIN dsh x ON x.doc_id = e.cid
        JOIN dsh y ON y.doc_id = e.rid AND y.s = x.s
        GROUP BY e.cid, e.rid
      ) e
      JOIN sizes sa ON sa.doc_id = e.cid
      JOIN sizes sb ON sb.doc_id = e.rid
      WHERE CAST(e.ni AS DOUBLE) / (sa.n + sb.n - e.ni) >= 0.6
    )
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM flagged f WHERE f.doc_id = d.doc_id)
    """,
    doc="X2 cross-corpus NEAR-dup dedup, oracle-backed (r7 — the r6 "
    "verdict flagged dedup_against as a DATA-DELETING operator with no "
    "oracle row): drop corpus documents that near-duplicate (Jaccard "
    ">= 0.6 on 8-char shingles) ANY document in the 'already ingested' "
    "reference slice (doc_id%5=2 — which therefore deletes itself plus "
    "its near-dup neighborhood). The DuckDB twin reproduces the FULL "
    "three-stage r7 cascade: md5 minhash banding (8 hashes, 4 bands), "
    "the signature-estimate prefilter (matching fraction >= "
    "threshold-0.25), and exact shingle-Jaccard verification — so the "
    "cascade's miss structure, not just the final survivor set, is "
    "value-hash-checked. Engine side runs hash_fn='md5' here for "
    "DuckDB reproducibility; production default is the xxhash64 long "
    "path (identical plan shape, ~4x faster, pytest-equivalence in "
    "test_operators).",
    tags=["dedup", "llm"],
)
def x23_dedup_against(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.operators.dedup_approx import dedup_against

    d = load_table(spark, sf, "documents")
    ref = d.filter(F.col("doc_id") % 5 == 2).select("doc_id", "text")
    return dedup_against(
        d.select("doc_id", "lang", "n_chars", "text"),
        ref,
        n_hashes=8,
        n_bands=4,
        k=8,
        threshold=0.6,
        prefilter_margin=0.25,
        hash_fn="md5",
    ).select("doc_id", "lang", "n_chars")


@query(
    "x24_dedup_spans_global",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
      FROM documents
    ),
    tok AS (
      SELECT doc_id, toks, unnest(toks) AS tok, unnest(range(len(toks))) AS pos
      FROM t WHERE len(toks) > 0
    ),
    bf AS (
      SELECT doc_id, pos, tok,
             CASE WHEN pos >= 3 AND
                       CAST('0x' || substr(md5(array_to_string(
                             list_slice(toks, CAST(pos AS INT) - 2, CAST(pos AS INT) + 1), ' ')),
                           1, 15) AS UBIGINT) % 32 = 0
                  THEN 1 ELSE 0 END AS bnd
      FROM tok
    ),
    ch AS (
      SELECT doc_id, pos, tok,
             COALESCE(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
      FROM bf
    ),
    chunks AS (
      SELECT doc_id, chunk,
             string_agg(tok, ' ' ORDER BY pos) AS ctext,
             min(pos) AS start, COUNT(*) AS ntok
      FROM ch GROUP BY doc_id, chunk
    ),
    winners AS (
      SELECT ctext, doc_id AS wdoc, start AS wstart FROM (
        SELECT ctext, doc_id, start,
               ROW_NUMBER() OVER (PARTITION BY ctext ORDER BY doc_id, start) AS rn
        FROM chunks WHERE ntok >= 8
      ) WHERE rn = 1
    ),
    kept AS (
      SELECT doc_id, ctext, start, ntok FROM chunks WHERE ntok < 8
      UNION ALL
      SELECT c.doc_id, c.ctext, c.start, c.ntok
      FROM chunks c JOIN winners w
        ON c.ctext = w.ctext AND c.doc_id = w.wdoc AND c.start = w.wstart
      WHERE c.ntok >= 8
    ),
    agg AS (
      SELECT doc_id,
             string_agg(ctext, ' ' ORDER BY start) AS text,
             CAST(SUM(ntok) AS BIGINT) AS n_tokens_kept
      FROM kept GROUP BY doc_id
    )
    SELECT a.doc_id, a.text, a.n_tokens_kept,
           CAST(len(t.toks) - a.n_tokens_kept AS BIGINT) AS n_tokens_dropped
    FROM agg a JOIN t USING (doc_id)
    """,
    doc="X1 GLOBAL duplicate-SPAN removal, oracle-backed (r8 — the r7 "
    "verdict's top ask: dedup_spans_global REWRITES corpus text, the "
    "highest blast radius of the un-oracled operators). Content-defined "
    "chunking (operators/dedup.dedup_spans_global, hash_fn='md5': a "
    "boundary falls after token i iff md5(4-token window ending at i) "
    "% 32 == 0 — a pure function of local content, so identical spans "
    "chunk identically at ANY offset), then every chunk of >= 8 tokens "
    "keeps only its first corpus occurrence by (doc_id, position) and "
    "documents are reassembled in order. The DuckDB twin reproduces "
    "boundary placement from the same md5 window hash but elects "
    "winners by the exact chunk STRING, so the engine's 96-bit "
    "xxhash64+crc32 election composite is checked against exact-string "
    "semantics (the x22 recipe). Engine shape: one narrow tokenize "
    "pass, one per-doc window shuffle, one fixed-width election "
    "shuffle, ordered reassembly; the freed q08 slot registers this "
    "(COVERAGE.md trace).",
    tags=["dedup", "text", "llm"],
)
def x24_dedup_spans_global(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.operators.dedup import dedup_spans_global

    d = load_table(spark, sf, "documents").select("doc_id", "text")
    return dedup_spans_global(
        d,
        "doc_id",
        "text",
        window=4,
        target_chunk_tokens=32,
        min_chunk_tokens=8,
        hash_fn="md5",
    )


@query(
    "x25_linked_dedup",
    """
    WITH RECURSIVE
    src AS (
      SELECT p_partkey AS id,
             p_name || ' ' || CAST(p_partkey AS VARCHAR) AS key
      FROM part
      UNION ALL
      SELECT p_partkey + 100000,
             substr(p_name || ' ' || CAST(p_partkey AS VARCHAR), 1, 1) || 'x' ||
             substr(p_name || ' ' || CAST(p_partkey AS VARCHAR), 3)
      FROM part WHERE p_partkey % 7 = 0
      UNION ALL
      SELECT p_partkey + 200000,
             upper(replace(p_name || ' ' || CAST(p_partkey AS VARCHAR), ' ', '  '))
      FROM part WHERE p_partkey % 11 = 0
    ),
    nk AS (
      SELECT id, lower(trim(regexp_replace(key, '\\s+', ' ', 'g'))) AS k
      FROM src WHERE key IS NOT NULL AND key <> ''
    ),
    okp AS (SELECT substr(k, 1, 4) AS blk FROM nk GROUP BY 1 HAVING COUNT(*) <= 100),
    okr AS (SELECT substr(k, length(k) - 3, 4) AS blk FROM nk GROUP BY 1 HAVING COUNT(*) <= 100),
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b, a.k AS ka, b.k AS kb
      FROM nk a JOIN okp o ON substr(a.k, 1, 4) = o.blk
                JOIN nk b ON substr(b.k, 1, 4) = o.blk
      UNION
      SELECT a.id, b.id, a.k, b.k
      FROM nk a JOIN okr o ON substr(a.k, length(a.k) - 3, 4) = o.blk
                JOIN nk b ON substr(b.k, length(b.k) - 3, 4) = o.blk
    ),
    pairs AS (
      SELECT id_a, id_b, levenshtein(ka, kb) AS d
      FROM cand WHERE id_a < id_b AND levenshtein(ka, kb) <= 1
    ),
    sym AS (SELECT id_a AS s, id_b AS t FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
    comp(node, lbl) AS (
      SELECT id, id FROM src
      UNION
      SELECT e.t, c.lbl FROM comp c JOIN sym e ON e.s = c.node
    ),
    keep AS (SELECT node FROM comp GROUP BY node HAVING min(lbl) = node)
    SELECT 'pair' AS kind, id_a, id_b, CAST(d AS BIGINT) AS distance FROM pairs
    UNION ALL
    SELECT 'kept', node, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM keep
    """,
    doc="X2 record linkage, oracle-backed (r8 — the r7 verdict's ask #3: "
    "linked_dedup DELETES rows). One row hash-checks BOTH halves: "
    "'pair' rows are operators/linkage.link_pairs (normalize -> "
    "prefix:4 + rprefix:4 blocking union -> JVM levenshtein <= 1, "
    "max_block_size=100), 'kept' rows are linked_dedup's survivors "
    "(min-id connected components, lowest id per cluster — the DuckDB "
    "twin runs the same recursive-CTE label propagation as x10). The "
    "input plants three entity populations from part: base keys "
    "'p_name p_partkey', a mid-string typo copy for every 7th key "
    "(distance 1, tail block intact), and an UPPERCASE double-spaced "
    "copy for every 11th (distance 0 after normalize_key). Every "
    "prefix:4 block exceeds the cap (~280 rows per leading color "
    "word), so the degenerate-block guard itself is oracle-checked: an "
    "engine that failed to cap would link sequential keys through the "
    "shared-prefix blocks and hash-mismatch. The freed x13 slot "
    "registers this (COVERAGE.md trace).",
    tags=["dedup", "linkage", "llm"],
)
def x25_linked_dedup(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.operators.linkage import link_pairs, linked_dedup

    p = load_table(spark, sf, "part")
    kbase = F.concat(F.col("p_name"), F.lit(" "), F.col("p_partkey").cast("string"))
    base = p.select(F.col("p_partkey").cast("long").alias("id"), kbase.alias("key"))
    typo = p.filter(F.col("p_partkey") % 7 == 0).select(
        (F.col("p_partkey") + 100000).cast("long").alias("id"),
        F.concat(
            F.substring(kbase, 1, 1),
            F.lit("x"),
            kbase.substr(F.lit(3), F.length(kbase)),
        ).alias("key"),
    )
    cased = p.filter(F.col("p_partkey") % 11 == 0).select(
        (F.col("p_partkey") + 200000).cast("long").alias("id"),
        F.upper(F.regexp_replace(kbase, " ", "  ")).alias("key"),
    )
    df = base.unionByName(typo).unionByName(cased)
    blocking = ["prefix:4", "rprefix:4"]
    pairs = link_pairs(
        df, None, "id", "key", max_distance=1, blocking=blocking, max_block_size=100
    )
    kept = linked_dedup(
        df, "id", "key", max_distance=1, blocking=blocking, max_block_size=100
    )
    return pairs.select(
        F.lit("pair").alias("kind"),
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("distance").cast("long").alias("distance"),
    ).unionByName(
        kept.select(
            F.lit("kept").alias("kind"),
            F.col("id").alias("id_a"),
            F.lit(None).cast("long").alias("id_b"),
            F.lit(None).cast("long").alias("distance"),
        )
    )


def _psl_rule_values() -> str:
    """VALUES list of the vendored PSL snapshot for the x27 'psl' leg —
    the twin shares the rule DATA (a data file, not logic) and
    re-implements the matching algorithm independently in SQL."""
    from waterdata_spark.functions.urls import load_psl

    p = load_psl()
    rows = (
        [(r, 0) for r in sorted(p.rules)]
        + [(w, 1) for w in sorted(p.wildcards)]
        + [(e, 2) for e in sorted(p.exceptions)]
    )
    return ", ".join(f"('{r}', {k})" for r, k in rows)


@query(
    "x27_url_canonicalize",
    f"""
    WITH u AS (
      SELECT c_custkey,
             (CASE WHEN c_custkey % 3 = 0 THEN 'HTTP'
                   WHEN c_custkey % 3 = 1 THEN 'https' ELSE 'http' END)
             || '://Shop-' || CAST(c_custkey % 40 AS VARCHAR) || '.Example.COM'
             || (CASE WHEN c_custkey % 4 = 0 THEN
                   (CASE WHEN c_custkey % 3 = 1 THEN ':443' ELSE ':80' END)
                 ELSE '' END)
             || '/catalog/item-' || CAST(c_custkey AS VARCHAR)
             || (CASE WHEN c_custkey % 5 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN c_custkey % 2 = 0 THEN
                   '?utm_source=feed&b=' || CAST(c_custkey % 7 AS VARCHAR) || '&a=1'
                 ELSE '' END)
             || (CASE WHEN c_custkey % 6 = 0 THEN '#top' ELSE '' END) AS url
      FROM customer
    ),
    parts AS (
      SELECT c_custkey, url,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\\?[^#]*)?(#.*)?$', 1)) AS scheme,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\\?[^#]*)?(#.*)?$', 2)) AS auth,
             regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\\?[^#]*)?(#.*)?$', 3) AS path,
             regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\\?[^#]*)?(#.*)?$', 4) AS rawq
      FROM u
    ),
    norm AS (
      SELECT c_custkey, url, scheme,
             CASE WHEN scheme = 'http' AND auth LIKE '%:80'
                    THEN substr(auth, 1, length(auth) - 3)
                  WHEN scheme = 'https' AND auth LIKE '%:443'
                    THEN substr(auth, 1, length(auth) - 4)
                  ELSE auth END AS auth2,
             CASE WHEN length(path) > 1 AND path LIKE '%/'
                    THEN substr(path, 1, length(path) - 1)
                  ELSE path END AS path2,
             array_to_string(list_sort(list_filter(
               string_split(substr(rawq, 2), '&'),
               x -> x <> '' AND NOT regexp_matches(
                 x, '^(utm_[^=]*|fbclid|gclid|msclkid|mc_cid|mc_eid)(=.*)?$')
             )), '&') AS qstr
      FROM parts
    ),
    u2 AS (
      SELECT c_custkey,
        (CASE WHEN c_custkey % 3 = 1 THEN 'www.' WHEN c_custkey % 3 = 2 THEN 'a.b.' ELSE '' END)
        || 'site-' || CAST(c_custkey % 19 AS VARCHAR)
        || (CASE WHEN c_custkey % 4 = 0 THEN '.com' WHEN c_custkey % 4 = 1 THEN '.co.uk'
                 WHEN c_custkey % 4 = 2 THEN '.com.au' ELSE '.org' END) AS host2
      FROM customer
    ),
    dom AS (
      SELECT c_custkey, host2, string_split(host2, '.') AS parts FROM u2
    ),
    dom2 AS (
      SELECT c_custkey, host2,
             CASE WHEN len(parts) <= 1 THEN host2
                  WHEN len(parts) >= 3 AND array_to_string(parts[-2:], '.') IN ('co.uk', 'com.au')
                    THEN array_to_string(parts[-3:], '.')
                  ELSE array_to_string(parts[-2:], '.') END AS reg_dom,
             CAST(len(list_intersect(
               list_transform(range(1, len(parts) + 1), i -> array_to_string(parts[i:], '.')),
               ['site-3.co.uk', 'site-7.com', 'ite-7.com'])) > 0 AS INT) AS blocked
      FROM dom
    ),
    u3 AS (
      SELECT c_custkey,
        CASE WHEN c_custkey % 23 = 0 THEN 'www.ck'
             WHEN c_custkey % 23 = 1 THEN 'ck'
             WHEN c_custkey % 23 = 2 THEN 'deep.www.ck'
             ELSE
               (CASE WHEN c_custkey % 3 = 1 THEN 'www.' WHEN c_custkey % 3 = 2 THEN 'a.b.' ELSE '' END)
               || 'user-' || CAST(c_custkey % 17 AS VARCHAR)
               || (CASE WHEN c_custkey % 5 = 0 THEN '.github.io'
                        WHEN c_custkey % 5 = 1 THEN '.co.uk'
                        WHEN c_custkey % 5 = 2 THEN '.ck'
                        WHEN c_custkey % 5 = 3 THEN '.com'
                        ELSE '.zz' END)
        END AS host3
      FROM customer
    ),
    pslr(rule, kind) AS (VALUES {_psl_rule_values()}),
    h3 AS (SELECT c_custkey, host3, string_split(host3, '.') AS p3 FROM u3),
    sufs3 AS (
      SELECT c_custkey, len(p3) AS n3,
             unnest(list_transform(range(1, len(p3) + 1), i -> array_to_string(p3[i:], '.'))) AS suf
      FROM h3
    ),
    m3 AS (
      SELECT c_custkey,
             arg_max(CASE WHEN kind = 2 THEN k - 1 WHEN kind = 1 THEN k + 1 ELSE k END,
                     (CASE WHEN kind = 2 THEN 1 ELSE 0 END) * 1000000
                     + (CASE WHEN kind = 1 THEN k + 1 ELSE k END)) AS ps
      FROM (SELECT c_custkey, n3, suf, len(string_split(suf, '.')) AS k FROM sufs3) s
      JOIN pslr r ON s.suf = r.rule
      WHERE NOT (r.kind = 1 AND s.n3 < s.k + 1)
      GROUP BY 1
    ),
    psl3 AS (
      SELECT h.c_custkey, h.host3,
             CASE WHEN len(h.p3) > COALESCE(m3.ps, 1)
                  THEN array_to_string(h.p3[-(COALESCE(m3.ps, 1) + 1):], '.')
                  ELSE NULL END AS reg_dom_psl
      FROM h3 h LEFT JOIN m3 USING (c_custkey)
    )
    SELECT n.c_custkey, n.url,
           n.scheme || '://' || n.auth2 || n.path2
             || (CASE WHEN n.qstr <> '' THEN '?' || n.qstr ELSE '' END) AS canon_url,
           regexp_replace(n.auth2, ':[0-9]+$', '') AS host,
           d.host2, d.reg_dom, d.blocked,
           p.host3, p.reg_dom_psl
    FROM norm n JOIN dom2 d USING (c_custkey) JOIN psl3 p USING (c_custkey)
    """,
    doc="Crawl URL canonicalization (NEW r8, functions/urls.py): the "
    "dedup-key problem BEFORE content dedup — scheme/host lowercasing, "
    "default-port strip (:80 http / :443 https), fragment drop, "
    "tracking-parameter removal (utm_*/fbclid/gclid/msclkid/mc_*), "
    "query-parameter SORT, trailing-slash strip. Inputs are built "
    "deterministically from customer keys so every normalization path "
    "fires (mixed-case scheme+host, default and non-default ports, "
    "tracking+real params out of order, trailing slashes, fragments); "
    "the DuckDB twin reproduces the full regexp chain (RE2-safe: no "
    "lookarounds) value-for-value, canonical string AND extracted "
    "host. Pure JVM expression chain — no UDF, no shuffle; runs at "
    "scan speed on a 100 TB frontier. The q25 slot freed by the "
    "semi-join consolidation registers this (COVERAGE.md trace). "
    "r9 'domain' leg: registered-domain extraction (last-2-labels, or "
    "last-3 under a known multi-label public suffix) and the "
    "url_blocklist_filter operator (RefinedWeb stage 1: UT1-style "
    "domain blocklists) — suffix-CHAIN matching on dot boundaries over "
    "diverse synthetic hosts, with a planted 'ite-7.com' endswith-trap "
    "entry that must match nothing; the twin reproduces the suffix "
    "chain, the registered-domain rule, and every block decision. "
    "r10 'psl' leg: registered_domains_psl (operators/urlfilter.py) — "
    "exact public-suffix-list semantics over the vendored snapshot "
    "(normal + '*.ck' wildcard + '!www.ck' exception rules, private "
    "suffixes like github.io) on hosts built to fire every rule kind; "
    "the twin shares only the rule DATA and re-implements the match "
    "(exception wins, else longest, default '*') independently in SQL.",
    tags=["url", "text", "llm"],
)
def x27_url_canonicalize(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.functions.urls import (
        canonicalize_url,
        load_psl,
        registered_domain,
        url_host,
    )
    from waterdata_spark.operators.urlfilter import (
        registered_domains_psl,
        url_blocklist_filter,
    )

    c = load_table(spark, sf, "customer")
    k = F.col("c_custkey")
    url = F.concat(
        F.when(k % 3 == 0, F.lit("HTTP"))
        .when(k % 3 == 1, F.lit("https"))
        .otherwise(F.lit("http")),
        F.lit("://Shop-"),
        (k % 40).cast("string"),
        F.lit(".Example.COM"),
        F.when(
            k % 4 == 0,
            F.when(k % 3 == 1, F.lit(":443")).otherwise(F.lit(":80")),
        ).otherwise(F.lit("")),
        F.lit("/catalog/item-"),
        k.cast("string"),
        F.when(k % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            k % 2 == 0,
            F.concat(F.lit("?utm_source=feed&b="), (k % 7).cast("string"), F.lit("&a=1")),
        ).otherwise(F.lit("")),
        F.when(k % 6 == 0, F.lit("#top")).otherwise(F.lit("")),
    )
    # 'domain' leg (r9): diverse synthetic hosts (sub-depth × site × TLD,
    # moduli 3/19/4 pairwise coprime so every combination occurs — a
    # %20-site index would be correlated with the %4 TLD and the
    # blocklisted pairs would never co-occur) through the REAL
    # url_blocklist_filter operator plus the registered-domain rule;
    # 'ite-7.com' is the planted endswith-trap entry that must match
    # nothing
    sub = (
        F.when(k % 3 == 1, F.lit("www."))
        .when(k % 3 == 2, F.lit("a.b."))
        .otherwise(F.lit(""))
    )
    tld = (
        F.when(k % 4 == 0, F.lit(".com"))
        .when(k % 4 == 1, F.lit(".co.uk"))
        .when(k % 4 == 2, F.lit(".com.au"))
        .otherwise(F.lit(".org"))
    )
    url2 = F.concat(
        F.lit("http://"), sub, F.lit("site-"), (k % 19).cast("string"), tld, F.lit("/p")
    )
    # 'psl' leg (r10): hosts that fire every PSL rule kind — private
    # suffix (github.io), multi-label (co.uk), wildcard (*.ck),
    # exception (!www.ck), bare TLD, unknown TLD (default '*' rule)
    host3 = (
        F.when(k % 23 == 0, F.lit("www.ck"))
        .when(k % 23 == 1, F.lit("ck"))
        .when(k % 23 == 2, F.lit("deep.www.ck"))
        .otherwise(
            F.concat(
                F.when(k % 3 == 1, F.lit("www."))
                .when(k % 3 == 2, F.lit("a.b."))
                .otherwise(F.lit("")),
                F.lit("user-"),
                (k % 17).cast("string"),
                F.when(k % 5 == 0, F.lit(".github.io"))
                .when(k % 5 == 1, F.lit(".co.uk"))
                .when(k % 5 == 2, F.lit(".ck"))
                .when(k % 5 == 3, F.lit(".com"))
                .otherwise(F.lit(".zz")),
            )
        )
    )
    base = c.select(
        "c_custkey", url.alias("url"), url2.alias("url2"), host3.alias("host3")
    )
    bl = spark.createDataFrame(
        [("site-3.co.uk",), ("site-7.com",), ("ite-7.com",)], "domain string"
    )
    flagged = url_blocklist_filter(base, bl, url_col="url2", mode="flag")
    withpsl = registered_domains_psl(
        flagged, load_psl(), host_col="host3", out_col="reg_dom_psl"
    )
    return withpsl.select(
        "c_custkey",
        "url",
        canonicalize_url("url").alias("canon_url"),
        url_host("url").alias("host"),
        url_host(F.col("url2")).alias("host2"),
        registered_domain(url_host(F.col("url2"))).alias("reg_dom"),
        F.col("url_blocked").cast("int").alias("blocked"),
        "host3",
        "reg_dom_psl",
    )


@query(
    "x28_nb_classify",
    """
    WITH train AS (
      SELECT lang AS label, text FROM documents WHERE doc_id % 3 = 0
    ),
    test AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 3 <> 0),
    ttok AS (
      SELECT label,
             CAST(CAST('0x' || substr(md5(t), 1, 15) AS UBIGINT) % 4096 AS BIGINT) AS b
      FROM (SELECT label,
                   unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS t
            FROM train)
    ),
    cnt AS (SELECT label, b, COUNT(*) AS cnt FROM ttok GROUP BY 1, 2),
    ncls AS (SELECT label, COUNT(*) AS n_class FROM ttok GROUP BY 1),
    nd AS (SELECT label, COUNT(*) AS n_docs FROM train GROUP BY 1),
    consts AS (
      SELECT nd.label,
             round(ln(CAST(nd.n_docs AS DOUBLE) / (SELECT SUM(n_docs) FROM nd)), 9) AS lp,
             round(ln(1.0) - ln(CAST(ncls.n_class AS DOUBLE) + 1.0 * 4096), 9) AS lu
      FROM nd JOIN ncls USING (label)
    ),
    adj AS (
      SELECT label, b,
             CAST(round(ln((CAST(cnt AS DOUBLE) + 1.0) / 1.0), 9) AS DECIMAL(20,9)) AS a
      FROM cnt
    ),
    stok AS (
      SELECT doc_id,
             CAST(CAST('0x' || substr(md5(t), 1, 15) AS UBIGINT) % 4096 AS BIGINT) AS b
      FROM (SELECT doc_id,
                   unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS t
            FROM test)
    ),
    ntok AS (
      SELECT t.doc_id, COUNT(s.b) AS n
      FROM test t LEFT JOIN stok s USING (doc_id) GROUP BY 1
    ),
    hit AS (
      SELECT s.doc_id, a.label, SUM(a.a) AS hit_adj
      FROM stok s JOIN adj a ON a.b = s.b
      GROUP BY 1, 2
    ),
    scoredall AS (
      SELECT n.doc_id, c.label,
             CAST(c.lp AS DECIMAL(20,9))
               + CAST(n.n * c.lu AS DECIMAL(20,9))
               + COALESCE(h.hit_adj, CAST(0 AS DECIMAL(20,9))) AS score
      FROM ntok n CROSS JOIN consts c
      LEFT JOIN hit h ON h.doc_id = n.doc_id AND h.label = c.label
    ),
    best AS (
      SELECT doc_id, label, CAST(score AS DOUBLE) AS nb_log_prob
      FROM scoredall
      QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, label ASC) = 1
    ),
    ltrain AS (
      SELECT doc_id AS d, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y, text
      FROM documents WHERE doc_id % 3 = 0
    ),
    ltrtok AS (
      SELECT d, len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS n_d,
             CAST(CAST('0x' || substr(md5(t), 1, 15) AS UBIGINT) % 4096 AS BIGINT) AS b
      FROM (SELECT d, text,
                   unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS t
            FROM ltrain)
    ),
    ltrf AS (SELECT d, n_d, b, COUNT(*) AS cnt FROM ltrtok GROUP BY 1, 2, 3),
    ltry AS (SELECT d, y FROM ltrain),
    lntr AS (SELECT COUNT(*) AS n FROM ltrain),
    lr1 AS (SELECT d, round(0.5 - y, 7) AS r FROM ltry),
    lg1 AS (SELECT f.b, SUM(CAST(round(r1.r * f.cnt / f.n_d, 12) AS DECIMAL(38,12))) AS g
            FROM ltrf f JOIN lr1 r1 USING (d) GROUP BY 1),
    lbg1 AS (SELECT SUM(CAST(r AS DECIMAL(20,7))) AS bg FROM lr1),
    lw1 AS (SELECT b, round(0.0 - 0.5 * (CAST(g AS DOUBLE) / n), 9) AS w FROM lg1, lntr),
    lb1 AS (SELECT round(0.0 - 0.5 * (CAST(bg AS DOUBLE) / n), 9) AS bias FROM lbg1, lntr),
    lm2 AS (SELECT f.d, SUM(CAST(round(w1.w * f.cnt / f.n_d, 12) AS DECIMAL(38,12))) AS m
            FROM ltrf f JOIN lw1 w1 USING (b) GROUP BY 1),
    lr2 AS (SELECT t.d,
                   round(1.0 / (1.0 + exp(-(b1.bias + COALESCE(CAST(m2.m AS DOUBLE), 0.0)))) - t.y, 7) AS r
            FROM ltry t LEFT JOIN lm2 m2 USING (d), lb1 b1),
    lg2 AS (SELECT f.b, SUM(CAST(round(r2.r * f.cnt / f.n_d, 12) AS DECIMAL(38,12))) AS g
            FROM ltrf f JOIN lr2 r2 USING (d) GROUP BY 1),
    lbg2 AS (SELECT SUM(CAST(r AS DECIMAL(20,7))) AS bg FROM lr2),
    lw2 AS (SELECT w1.b, round(w1.w - 0.5 * (CAST(COALESCE(g2.g, 0) AS DOUBLE) / n), 9) AS w
            FROM lw1 w1 LEFT JOIN lg2 g2 USING (b), lntr),
    lb2 AS (SELECT round(b1.bias - 0.5 * (CAST(bg AS DOUBLE) / n), 9) AS bias
            FROM lb1 b1, lbg2, lntr),
    ltetok AS (
      SELECT doc_id AS d, len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS n_d,
             CAST(CAST('0x' || substr(md5(t), 1, 15) AS UBIGINT) % 4096 AS BIGINT) AS b
      FROM (SELECT doc_id, text,
                   unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS t
            FROM test)
    ),
    ltef AS (SELECT d, n_d, b, COUNT(*) AS cnt FROM ltetok GROUP BY 1, 2, 3),
    lms AS (SELECT f.d, SUM(CAST(round(w2.w * f.cnt / f.n_d, 12) AS DECIMAL(38,12))) AS m
            FROM ltef f JOIN lw2 w2 USING (b) GROUP BY 1),
    lprob AS (
      SELECT t.doc_id,
             round(1.0 / (1.0 + exp(-(b2.bias + COALESCE(CAST(m.m AS DOUBLE), 0.0)))), 7) AS lr_prob
      FROM test t LEFT JOIN lms m ON m.d = t.doc_id, lb2 b2
    )
    SELECT t.doc_id, t.lang, b.label AS predicted, b.nb_log_prob,
           l.lr_prob, CAST(l.lr_prob >= 0.5 AS INT) AS lr_pred
    FROM test t JOIN best b USING (doc_id) JOIN lprob l USING (doc_id)
    UNION ALL
    SELECT CAST(-ROW_NUMBER() OVER (ORDER BY s.threshold) AS BIGINT) AS doc_id,
           'sweep' AS lang,
           CAST(s.tp AS VARCHAR) || '|' || CAST(s.fp AS VARCHAR) || '|'
             || CAST(s.fn AS VARCHAR) || '|' || CAST(s.tn AS VARCHAR) AS predicted,
           s.threshold AS nb_log_prob,
           CAST(NULL AS DOUBLE) AS lr_prob,
           CAST(NULL AS INT) AS lr_pred
    FROM (
      SELECT th.threshold,
             SUM(CASE WHEN l.lr_prob >= th.threshold AND t.lang = 'en' THEN 1 ELSE 0 END) AS tp,
             SUM(CASE WHEN l.lr_prob >= th.threshold AND t.lang <> 'en' THEN 1 ELSE 0 END) AS fp,
             SUM(CASE WHEN l.lr_prob < th.threshold AND t.lang = 'en' THEN 1 ELSE 0 END) AS fn,
             SUM(CASE WHEN l.lr_prob < th.threshold AND t.lang <> 'en' THEN 1 ELSE 0 END) AS tn
      FROM test t JOIN lprob l USING (doc_id)
      CROSS JOIN (SELECT CAST(unnest([0.48, 0.4875, 0.48808, 0.49]) AS DOUBLE) AS threshold) th
      GROUP BY 1
    ) s
    """,
    doc="Hashed-token multinomial Naive Bayes classification (NEW r8, "
    "operators/classify.py) — the supervised corpus labeler of public "
    "pretraining pipelines (the fastText-supervised role), here as the "
    "closed-form member that trains as PURE AGGREGATION and scores as "
    "one broadcast join + one map-side sum. The oracle row is a real "
    "task: train on the lang-labeled third of the documents table "
    "(md5 bucket path, B=4096), classify the held-out two thirds; the "
    "DuckDB twin reproduces training counts, the ln((cnt+α)/α) "
    "hit adjustments (9dp-decimal summed — order-independent, the "
    "bm25 recipe), the closed-form unseen-mass term, and the "
    "tie-broken argmax, value-for-value including the joint log "
    "probability. The q12 slot freed by the date_rollup consolidation "
    "registers this (COVERAGE.md trace). r9 'lr' leg: the ITERATED "
    "sibling — binary logistic regression over the same hashed-token "
    "features (classify.lr_train/lr_score, the GPT-3-appendix-A / "
    "fastText-supervised quality-classifier form), trained as two "
    "full-batch gradient epochs whose margin/gradient sums are "
    "12dp-decimal (order-independent) with 9dp HALF_UP driver weight "
    "updates; the twin unrolls BOTH epochs in SQL from zero init "
    "(epoch 1 collapses to p=0.5) and reproduces every held-out "
    "document's 7dp probability and decision, value-for-value. r12 "
    "'sweep' leg (VERDICT r11 item 6): classify.pr_sweep's operating-"
    "point selection over the same 7dp probabilities — per-threshold "
    "EXACT confusion counts (packed tp|fp|fn|tn) at four thresholds "
    "straddling the real score mass (all four rows fire "
    "non-vacuously at sf0.01), reproduced by the twin as a plain "
    "grouped count over the identical lprob CTE while the engine "
    "side computes them via the one-scan bucketize + suffix-sum "
    "plan — integer-for-integer agreement.",
    tags=["classify", "llm"],
)
def x28_nb_classify(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.operators.classify import lr_score, lr_train, nb_score, nb_train

    docs = load_table(spark, sf, "documents").select("doc_id", "lang", "text")
    train = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.col("lang").alias("label"), "text"
    )
    test = docs.filter(F.col("doc_id") % 3 != 0)
    model = nb_train(train, n_buckets=4096, hash_fn="md5")
    nb = nb_score(
        test, model, n_buckets=4096, alpha=1.0, hash_fn="md5"
    ).select("doc_id", "lang", "predicted", "nb_log_prob")
    # 'lr' leg (r9): the iterated-aggregation binary quality classifier on
    # the same split — y = (lang='en'), two full-batch epochs, md5 path
    train_lr = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("y"), "text"
    )
    lrm = lr_train(
        train_lr, n_buckets=4096, hash_fn="md5", n_iter=2, learning_rate=0.5
    )
    lrs = lr_score(test, lrm).select("doc_id", "lr_prob", "lr_pred")
    main = nb.join(lrs, "doc_id")
    # 'sweep' leg (r12, VERDICT r11 item 6): the operating-point sweep
    # over the SAME 7dp probabilities — pr_sweep's one-scan bucketize +
    # suffix-sum confusion counts, rendered into the row shape
    # (negative doc_id keys, counts packed 'tp|fp|fn|tn' in the
    # predicted column, threshold in nb_log_prob). Thresholds chosen to
    # straddle the real sf0.01 score mass (0.4873-0.4888) so every row
    # fires non-vacuously.
    from waterdata_spark.operators.classify import pr_sweep

    scored = test.select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("__y")
    ).join(lrs, "doc_id")
    sweep = pr_sweep(scored, "lr_prob", "__y", [0.48, 0.4875, 0.48808, 0.49])
    sweep_leg = sweep.select(
        (-F.row_number().over(Window.orderBy("threshold")))
        .cast("long")
        .alias("doc_id"),
        F.lit("sweep").alias("lang"),
        F.concat_ws("|", "tp", "fp", "fn", "tn").alias("predicted"),
        F.col("threshold").alias("nb_log_prob"),
        F.lit(None).cast("double").alias("lr_prob"),
        F.lit(None).cast("int").alias("lr_pred"),
    )
    return main.unionByName(sweep_leg)


@query(
    "x29_dsir_select",
    """
    WITH ctok AS (
      SELECT doc_id,
             CAST(CAST('0x' || substr(md5(t), 1, 15) AS UBIGINT) % 2048 AS BIGINT) AS b
      FROM (SELECT doc_id,
                   unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS t
            FROM documents)
    ),
    ttok AS (
      SELECT c.b FROM ctok c JOIN documents d ON d.doc_id = c.doc_id
      WHERE d.lang = 'de'
    ),
    tc AS (SELECT b, COUNT(*) AS cnt FROM ttok GROUP BY 1),
    rc AS (SELECT b, COUNT(*) AS cnt FROM ctok GROUP BY 1),
    consts AS (SELECT (SELECT SUM(cnt) FROM tc) AS nt,
                      (SELECT SUM(cnt) FROM rc) AS nr),
    ratio AS (
      SELECT rc.b,
             CAST(round(
               ln(CAST(COALESCE(tc.cnt, 0) AS DOUBLE) + 1.0)
               - ln(CAST(nt AS DOUBLE) + 1.0 * 2048)
               - ln(CAST(rc.cnt AS DOUBLE) + 1.0)
               + ln(CAST(nr AS DOUBLE) + 1.0 * 2048), 7) AS DECIMAL(20,7)) AS r
      FROM rc LEFT JOIN tc ON tc.b = rc.b, consts
    ),
    w AS (
      SELECT c.doc_id, CAST(SUM(r.r) AS DOUBLE) AS log_w
      FROM ctok c JOIN ratio r ON r.b = c.b GROUP BY 1
    ),
    fullw AS (
      SELECT d.doc_id, d.lang, COALESCE(w.log_w, 0.0) AS log_w
      FROM documents d LEFT JOIN w ON w.doc_id = d.doc_id
    )
    SELECT doc_id, lang, log_w,
           CAST(ROW_NUMBER() OVER (ORDER BY log_w DESC, doc_id ASC) AS BIGINT) AS rank
    FROM fullw QUALIFY rank <= 150
    """,
    doc="X7 DSIR data selection, oracle-backed (NEW r8 — the r7 verdict "
    "named DSIR among the data-SELECTING operators still lacking an "
    "independent DuckDB twin): select the 150 corpus documents most "
    "like the lang='de' target slice by importance weight "
    "(operators/selection.importance_resample at temperature=0, the "
    "argmax limit — pure top-k by weight, no Gumbel noise; the sampled "
    "temperature>0 path keeps its exact pure-Python differential in "
    "pytest). Engine-reproducibility comes from decimal_round=7: each "
    "of the <=2048 per-bucket log ratios rounds once to 7dp and sums "
    "as DECIMAL(20,7) (the bm25/NB recipe), so weights — and therefore "
    "the selected set and its ranks — are exact, order-independent, "
    "and identical across engines despite ln() differing by ulps "
    "between libms. The DuckDB twin refits BOTH unigram models "
    "(md5-bucket path, B=2048, alpha=1), rebuilds the smoothed "
    "log-ratio table, and reproduces weight, rank, and the top-150 cut "
    "value-for-value. The q11 slot freed by the union-by-name "
    "consolidation registers this (COVERAGE.md trace).",
    tags=["selection", "llm"],
)
def x29_dsir_select(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.operators.selection import importance_resample

    docs = load_table(spark, sf, "documents").select("doc_id", "lang", "text")
    tgt = docs.filter(F.col("lang") == "de")
    sel = importance_resample(
        docs,
        tgt,
        k=150,
        temperature=0,
        hash_fn="md5",
        n_buckets=2048,
        alpha=1.0,
        use_bigrams=False,
        decimal_round=7,
    )
    w = Window.orderBy(F.col("log_w").desc(), F.col("doc_id").asc())
    return sel.select(
        "doc_id",
        "lang",
        "log_w",
        F.row_number().over(w).cast("long").alias("rank"),
    )


@query(
    "x30_lm_ppl_score",
    """
    WITH rtok AS (
      SELECT CAST(CAST('0x' || substr(md5(t), 1, 15) AS UBIGINT) % 65536 AS BIGINT) AS b
      FROM (SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS t
            FROM documents WHERE lang = 'en')
    ),
    uc AS (SELECT b, COUNT(*) AS cu FROM rtok GROUP BY 1),
    nref AS (SELECT CAST(SUM(cu) AS DOUBLE) AS n FROM uc),
    rarr AS (
      SELECT list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
      FROM documents WHERE lang = 'en'
    ),
    rbig AS (
      SELECT CAST(CAST('0x' || substr(md5(toks[i]), 1, 15) AS UBIGINT) % 65536 AS BIGINT) AS b1,
             CAST(CAST('0x' || substr(md5(toks[i + 1]), 1, 15) AS UBIGINT) % 65536 AS BIGINT) AS b2
      FROM rarr, unnest(range(1, len(toks))) AS u(i)
    ),
    bc AS (SELECT b1, b2, COUNT(*) AS cb FROM rbig GROUP BY 1, 2),
    carr AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
      FROM documents
    ),
    cbig AS (
      SELECT doc_id,
             CAST(CAST('0x' || substr(md5(toks[i]), 1, 15) AS UBIGINT) % 65536 AS BIGINT) AS b1,
             CAST(CAST('0x' || substr(md5(toks[i + 1]), 1, 15) AS UBIGINT) % 65536 AS BIGINT) AS b2
      FROM carr, unnest(range(1, len(toks))) AS u(i)
    ),
    scored AS (
      SELECT c.doc_id,
             CAST(round(
               -ln(0.3 * exp(ln(CAST(COALESCE(u2.cu, 0) AS DOUBLE) + 0.1)
                             - ln(n.n + 0.1 * 65536))
                   + (1.0 - 0.3) * ((CAST(COALESCE(b.cb, 0) AS DOUBLE) + 0.1)
                                    / (CAST(COALESCE(u1.cu, 0) AS DOUBLE) + 0.1 * 65536))),
               7) AS DECIMAL(20,7)) AS nll
      FROM cbig c
      LEFT JOIN bc b ON b.b1 = c.b1 AND b.b2 = c.b2
      LEFT JOIN uc u1 ON u1.b = c.b1
      LEFT JOIN uc u2 ON u2.b = c.b2, nref n
    ),
    pd AS (
      SELECT doc_id, CAST(SUM(nll) AS DOUBLE) / COUNT(*) AS lp
      FROM scored GROUP BY 1
    ),
    kd AS (
      SELECT COUNT(*) AS B,
             CAST(SUM(CASE WHEN cb = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / (SUM(CASE WHEN cb = 1 THEN 1 ELSE 0 END)
                  + 2 * SUM(CASE WHEN cb = 2 THEN 1 ELSE 0 END)) AS D
      FROM bc
    ),
    cleft AS (SELECT b1, SUM(cb) AS cl, COUNT(*) AS nl FROM bc GROUP BY 1),
    nright AS (SELECT b2, COUNT(*) AS nr FROM bc GROUP BY 1),
    vstat AS (SELECT COUNT(*) AS V FROM nright),
    knsc AS (
      SELECT c.doc_id,
             CAST(round(-ln(
               CASE WHEN l.cl IS NULL
                    THEN (CAST(COALESCE(r.nr, 0) AS DOUBLE) + 0.1)
                         / (k.B + 0.1 * v.V)
                    ELSE greatest(CAST(COALESCE(b.cb, 0) AS DOUBLE) - k.D, 0.0)
                           / l.cl
                         + k.D * l.nl / l.cl
                           * ((CAST(COALESCE(r.nr, 0) AS DOUBLE) + 0.1)
                              / (k.B + 0.1 * v.V))
               END), 7) AS DECIMAL(20,7)) AS nll
      FROM cbig c
      LEFT JOIN bc b ON b.b1 = c.b1 AND b.b2 = c.b2
      LEFT JOIN cleft l ON l.b1 = c.b1
      LEFT JOIN nright r ON r.b2 = c.b2, kd k, vstat v
    ),
    knpd AS (
      SELECT doc_id, CAST(SUM(nll) AS DOUBLE) / COUNT(*) AS lp
      FROM knsc GROUP BY 1
    ),
    base AS (
      SELECT d.doc_id, d.lang, pd.lp AS log_ppl,
             knpd.lp AS log_ppl_kn
      FROM documents d
      LEFT JOIN pd ON pd.doc_id = d.doc_id
      LEFT JOIN knpd ON knpd.doc_id = d.doc_id
    ),
    terc AS (
      SELECT doc_id,
             CASE NTILE(3) OVER (PARTITION BY lang ORDER BY log_ppl, doc_id)
               WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
      FROM base WHERE log_ppl IS NOT NULL
    )
    SELECT b.doc_id, b.lang, b.log_ppl, t.ppl_bucket, b.log_ppl_kn
    FROM base b LEFT JOIN terc t ON t.doc_id = b.doc_id
    """,
    doc="X7 CCNet-style LM quality scoring, oracle-backed (NEW r8 — the "
    "other data-selecting r7 operator that lacked a DuckDB twin): "
    "score EVERY document's log perplexity under an interpolated "
    "hashed-bigram LM trained on the lang='en' slice as the curated "
    "reference (operators/selection.lm_perplexity, md5 path, B=65536, "
    "alpha=0.1, interp=0.3). decimal_round=7 is the determinism "
    "contract: each per-bigram NLL rounds once to 7dp and sums as "
    "DECIMAL(20,7); the mean is one IEEE division of bit-identical "
    "inputs, so log_ppl reproduces bit-for-bit across engines — and is "
    "presented UNROUNDED (r10: half-boundary means made Spark/DuckDB "
    "round() disagree 3/500 docs per leg; the raw double needs no "
    "rounding to compare exactly). r10 'kn' leg: log_ppl_kn scores the "
    "same documents under interpolated bigram KNESER-NEY (Kneser & Ney "
    "1995; Chen & Goodman 1999 — the smoothing KenLM, CCNet's actual "
    "scorer, uses; smoothing='kn' with count-of-counts discount "
    "D=n1/(n1+2n2)), the twin refitting the continuation/"
    "distinct-follower statistics independently. The "
    "DuckDB twin refits the unigram AND bigram reference tables, "
    "mirrors the exp(ln()-ln()) unigram form and the "
    "Jelinek-Mercer interpolation term-for-term, and reproduces the "
    "per-document mean including the <2-token null contract. The q32 "
    "slot freed by the profile-stats consolidation registers this "
    "(COVERAGE.md trace).",
    tags=["selection", "quality", "llm"],
)
def x30_lm_ppl_score(spark: SparkSession, sf: str) -> DataFrame:
    from waterdata_spark.operators.selection import lm_perplexity, quantile_buckets

    docs = load_table(spark, sf, "documents").select("doc_id", "lang", "text")
    ref = docs.filter(F.col("lang") == "en").select("text")
    out = lm_perplexity(
        docs,
        ref,
        n_buckets=65536,
        alpha=0.1,
        interp=0.3,
        hash_fn="md5",
        decimal_round=7,
    )
    # r10: NO presentation rounding on either mean — sum(7dp-decimal)/n
    # frequently lands exactly on x.xxxxxx5 boundaries (odd scaled sum /
    # even count), where Spark round (BigDecimal of the SHORTEST double
    # repr) and DuckDB round (scaled-double multiply) can disagree with
    # each other and with exact HALF_UP (measured: 3/500 docs each leg
    # at sf0.01). decimal_round=7 already makes the unrounded mean ONE
    # IEEE division of bit-identical inputs, so it compares exactly on
    # both engines with no rounding at all.
    scored = out.select("doc_id", "lang", "log_ppl")
    # r10 'kn' leg: the same documents scored under interpolated bigram
    # KNESER-NEY (the KenLM/CCNet smoothing; selection.lm_perplexity
    # smoothing='kn'), hash-checked against a DuckDB twin that refits
    # the continuation/discount statistics independently
    kn = lm_perplexity(
        docs,
        ref,
        n_buckets=65536,
        alpha=0.1,
        hash_fn="md5",
        decimal_round=7,
        smoothing="kn",
    ).select("doc_id", F.col("log_ppl").alias("log_ppl_kn"))
    # NO presentation rounding on the kn mean: it is sum(7dp-decimal)/n,
    # which lands EXACTLY on x.xxxxxx5 boundaries whenever n divides the
    # scaled sum oddly — and DuckDB's round() on double (scaled-multiply)
    # disagrees with exact-decimal HALF_UP there (3/500 docs at sf0.01).
    # The unrounded mean is one IEEE division of bit-identical inputs on
    # both engines, so it compares exactly without any rounding.
    # r9: CCNet §4.3 head/middle/tail terciles per language, exact
    # mode — the oracle twin of quantile_buckets; ties break by doc_id
    # (the unrounded means are bit-identical on both engines, so the
    # NTILE ordering is too)
    return quantile_buckets(
        scored,
        "log_ppl",
        id_col="doc_id",
        n_buckets=3,
        group_col="lang",
        bucket_col="ppl_bucket",
        labels=["head", "middle", "tail"],
        mode="exact",
    ).join(kn, "doc_id", "left")
