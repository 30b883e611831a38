"""Declarative validation gates (SURVEY.md §2.7: C41-C45).

The reference enforces correctness with inline counts + aborts and
interactive ``input()`` halts (down/down_water_prep.py:623 etc.). The
engine replaces those with expectation operators that raise
``ExpectationError`` — same gates, batch-safe, and cheap: each gate is
a single aggregate over the violating predicate, which Catalyst
pushes into the scan where possible.

One deliberate scale choice: gates that need multiple counts over the
same DataFrame compute them in ONE pass via conditional aggregation
(``sum(case when ...)``) instead of N ``count()`` actions — at 100 TB
each extra action is a full re-scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class ExpectationError(AssertionError):
    """A validation gate failed (replaces the reference's abort /
    interactive-halt behavior, C45)."""


def _range_violation(col: str, lo: int | float, hi: int | float, allow_null: bool) -> Column:
    c = F.col(col)
    violation = (c < lo) | (c > hi)
    if not allow_null:
        violation = violation | c.isNull()
    # count(when(...)) not filter().count(): conditional aggregation
    # keeps the gate a single aggregate (and lets several gates share
    # one scan), per the module doctrine
    return F.count(F.when(violation, 1)).alias(f"{col}__violations")


def expect_ranges(
    df: DataFrame,
    specs: list[tuple[str, int | float, int | float]],
    allow_null: bool = True,
) -> DataFrame:
    """C41, multi-column form: all range gates evaluated in ONE
    aggregation pass over the input (at 100 TB each separate gate
    action is a full re-scan)."""
    aggs = [_range_violation(col, lo, hi, allow_null) for col, lo, hi in specs]
    row = df.agg(*aggs).collect()[0].asDict()
    bad = {k.removesuffix("__violations"): v for k, v in row.items() if v}
    if bad:
        detail = ", ".join(
            f"{n} rows with {col} outside [{lo}, {hi}]"
            for (col, lo, hi) in specs
            for c2, n in bad.items()
            if c2 == col
        )
        raise ExpectationError(f"expect_range: {detail}")
    return df


def expect_range(
    df: DataFrame,
    col: str,
    lo: int | float,
    hi: int | float,
    allow_null: bool = True,
) -> DataFrame:
    """C41: abort if any value falls outside [lo, hi]
    (direct/direct_water_prep.py:84-101 — preserving the intent, not
    the latent `EPID>999` bug noted there). Single conditional
    aggregate — see :func:`expect_ranges` to share one scan across
    several columns."""
    return expect_ranges(df, [(col, lo, hi)], allow_null=allow_null)


def expect_column_consistency_observed(df: DataFrame, pairs: list[tuple[str, str]]):
    """C42: after an outer join, assert X == X_y wherever X_y is not
    null, for each (X, X_y) pair (down/down_water_prep.py:324-360).

    The mismatch counts of all pairs are one observation on ``df``, so
    they materialize during an action the caller runs anyway instead
    of a separate aggregation pass. Returns ``(observed, check)``; call
    ``check()`` after an EAGER action over ``observed`` — it raises
    ``ExpectationError`` on any mismatch, and blocks if no action over
    ``observed`` has run."""
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(
        obs,
        *[
            F.sum(
                F.when(F.col(b).isNotNull() & (F.col(a) != F.col(b)), 1).otherwise(0)
            ).alias(f"{a}!={b}")
            for a, b in pairs
        ],
    )

    def check() -> None:
        bad = {k: v for k, v in obs.get.items() if v}
        if bad:
            raise ExpectationError(f"expect_column_consistency: mismatches {bad}")

    return observed, check


def expect_row_count_preserved(before: DataFrame, after: DataFrame) -> DataFrame:
    """C43: a join/enrichment must not fan out or drop rows
    (down/down_water_prep.py:540-543). Guards duplicate dim keys."""
    n_before, n_after = before.count(), after.count()
    if n_before != n_after:
        raise ExpectationError(
            f"expect_row_count_preserved: {n_before} rows in, {n_after} out"
        )
    return after


def expect_schema(df: DataFrame, expected: T.StructType | list[str]) -> DataFrame:
    """C44: schema-shape gate (down/down_water_prep.py:633-637,948-974).
    With declared StructTypes this is a metadata-only check — no scan."""
    if isinstance(expected, T.StructType):
        if df.schema != expected:
            raise ExpectationError(
                f"expect_schema: got {df.schema.simpleString()}, want {expected.simpleString()}"
            )
    else:
        if sorted(df.columns) != sorted(expected):
            raise ExpectationError(
                f"expect_schema: got columns {sorted(df.columns)}, want {sorted(expected)}"
            )
    return df


def profile(df: DataFrame, cols: list[str] | None = None, approx: bool = False, rsd: float = 0.05) -> DataFrame:
    """X6: one-pass profiling summary (generalizes the reference's
    human-reviewed checkpoint CSVs, down/down_water_prep.py:372-373).
    Returns one row per column: non-null count, distinct count, min,
    max — all in a single aggregate (no per-column scans).

    ``approx=True`` swaps exact ``count_distinct`` for HyperLogLog++
    ``approx_count_distinct(rsd)``. At 100 TB a multi-column exact
    distinct is a heavy multi-Expand aggregate; the sketch form is one
    fixed-size buffer per column. Keep ``approx=False`` where the
    result feeds an oracle/equality check (x12)."""
    cols = cols or df.columns
    nd = (
        (lambda c: F.approx_count_distinct(F.col(c), rsd))
        if approx
        else (lambda c: F.count_distinct(F.col(c)))
    )
    aggs: list[Column] = [F.count(F.lit(1)).alias("__total")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__nn"),
            nd(c).alias(f"{c}__nd"),
            F.min(F.col(c).cast("string")).alias(f"{c}__min"),
            F.max(F.col(c).cast("string")).alias(f"{c}__max"),
        ]
    row = df.agg(*aggs).collect()[0].asDict()
    spark = df.sparkSession
    data = [
        (c, int(row["__total"]), int(row[f"{c}__nn"]), int(row[f"{c}__nd"]),
         row[f"{c}__min"], row[f"{c}__max"])
        for c in cols
    ]
    schema = T.StructType(
        [
            T.StructField("column", T.StringType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("n_nonnull", T.LongType()),
            T.StructField("n_distinct", T.LongType()),
            T.StructField("min_str", T.StringType()),
            T.StructField("max_str", T.StringType()),
        ]
    )
    return spark.createDataFrame(data, schema)


def expect_row_count_preserved_observed(fact: DataFrame):
    """C43, single-pass form: attach an observation to the input fact
    so the 'rows in' count materializes DURING the output's own action
    instead of via a separate re-scan (two full passes → one).

    Usage::

        fact_obs, check = expect_row_count_preserved_observed(fact)
        out = build(fact_obs)        # any 1:1 enrichment
        n_out = out.count()          # triggers the observation too
        check(n_out)                 # raises ExpectationError on mismatch

    At 100 TB the saved pass is the difference between the gate being
    free and the gate doubling the job.
    """
    from pyspark.sql import Observation

    obs = Observation()
    observed = fact.observe(obs, F.count(F.lit(1)).alias("n_in"))

    def check(n_out: int) -> None:
        n_in = obs.get["n_in"]
        if n_in != n_out:
            raise ExpectationError(
                f"expect_row_count_preserved: {n_in} rows in, {n_out} out"
            )

    return observed, check
