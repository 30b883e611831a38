"""Deterministic sampling operators for training-data pipelines.

The registered query x19 (queries.py; its 'hash25' leg — the former
x13, consolidated r8) pins the primitive: a salted-md5
threshold is reproducible on any engine at any cluster size, unlike
``rand()``-based sampling (task-count-dependent) . This module adds the
stratified forms a class-balanced corpus build needs. Everything is
JVM expressions + at most one tiny broadcast join — no UDFs, no
driver-side state proportional to data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _hash_u(id_col: str, seed: str) -> F.Column:
    """Deterministic uniform-(0,1) value per row id: the first 15 hex
    digits of a salted md5, carried in a double. NB the 60 hash bits
    EXCEED a double's 53-bit mantissa, so distinct hashes can round to
    equal doubles — every consumer tie-breaks on the id column, and a
    second engine must compare the same rounded double (not the exact
    integer) to reproduce rank boundaries (ADVICE r10)."""
    h = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("double") / F.lit(float(16**15))


def hash_sample(df: DataFrame, id_col: str, fraction: float, seed: str = "sample42") -> DataFrame:
    """~``fraction`` of rows, selected by salted-hash threshold on the
    row id. Rerun-, retry- and cluster-size-stable; adding rows to the
    table never flips the membership of existing rows (the property
    that makes frozen eval splits possible on a growing corpus)."""
    return df.filter(_hash_u(id_col, seed) < fraction)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict | float,
    id_col: str,
    seed: str = "sample42",
) -> DataFrame:
    """Per-stratum deterministic sampling: ``fractions`` is either one
    rate for every stratum or {stratum: rate} (missing strata → 0.0 —
    an explicit contract, matching ``DataFrame.sampleBy``).

    The per-stratum rates ride a broadcast of a tiny literal frame
    (|strata| rows), so the plan stays one scan + one broadcast hash
    join — no per-stratum passes, no collect. Unlike ``sampleBy``
    (Bernoulli on ``rand()``), membership is a pure function of
    (seed, id), so splits are reproducible across engines and stable
    under repartitioning.
    """
    if not isinstance(fractions, dict):
        return df.filter(_hash_u(id_col, seed) < float(fractions))
    if not fractions:
        # missing-stratum-means-0.0 ⇒ an empty dict selects nothing
        # (createDataFrame can't infer a schema from zero rows, so
        # short-circuit rather than build an empty rates frame)
        return df.filter(F.lit(False))
    spark = df.sparkSession
    # infer the stratum key type from the dict keys (int labels stay
    # ints — forcing string here would make the join silently coerce)
    rates = spark.createDataFrame(
        [(k, float(v)) for k, v in fractions.items()], [strata_col, "__rate"]
    )
    return (
        df.withColumn("__u", _hash_u(id_col, seed))
        .join(F.broadcast(rates), strata_col, "left")
        .filter(F.col("__u") < F.coalesce(F.col("__rate"), F.lit(0.0)))
        .drop("__u", "__rate")
    )


def assign_split(
    df: DataFrame,
    weights: dict[str, float],
    group_col: str,
    seed: str = "split7",
    split_col: str = "split",
) -> DataFrame:
    """Leakage-safe deterministic train/val/test assignment (r9): adds
    ``split_col`` with a label that is a pure function of (seed, the
    row's GROUP key) — every row sharing a group lands in the SAME
    split. The group is the leakage unit: a near-dup component id
    (minhash_dedup/semdedup output), a URL host, a license bucket —
    splitting by ROW hash instead would scatter near-duplicates across
    train and eval, the contamination the dedup operators exist to
    prevent (Lee 2021 §4 measures the resulting eval inflation).

    ``weights`` need not sum to 1 (normalized); labels are assigned by
    cumulative-threshold walk over the salted-md5 uniform of the group
    key in dict order, so assignment is reproducible on any engine at
    any cluster size, and — because u depends only on (seed, group) —
    growing the corpus never flips the split of an existing group (the
    frozen-eval-set property, same contract as hash_sample).

    Zero shuffle, no UDF: one scan adding a CASE chain over one md5.
    """
    if not weights:
        raise ValueError("assign_split: weights must be non-empty")
    if any(w < 0 for w in weights.values()):
        raise ValueError("assign_split: weights must be >= 0")
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("assign_split: weights must sum to > 0")
    u = _hash_u(group_col, seed)
    labels = list(weights)
    expr = F.lit(labels[-1])  # the last label absorbs u in [cum_{n-1}, 1)
    cum = 0.0
    branches = []
    for name in labels[:-1]:
        cum += float(weights[name]) / total
        branches.append((cum, name))
    for threshold, name in reversed(branches):
        expr = F.when(u < F.lit(threshold), F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def stratified_sample_exact(
    df: DataFrame,
    strata_col: str,
    n_per_stratum: int,
    id_col: str,
    seed: str = "sample42",
) -> DataFrame:
    """EXACTLY ``n_per_stratum`` rows per stratum (fewer iff the
    stratum is smaller): rank rows within each stratum by the salted
    hash and keep the first n — a deterministic reservoir. One shuffle
    on the stratum key; the window never materializes more than a
    partition at a time. Use for class-balanced eval sets where
    approximate rates aren't acceptable."""
    w = Window.partitionBy(strata_col).orderBy(_hash_u(id_col, seed).asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n_per_stratum)
        .drop("__rk")
    )


def mixture_rates(
    counts: dict, target_rows: int | None = None, alpha: float = 1.0, cap: bool = True
) -> dict:
    """Per-source sampling rates for a temperature-weighted data mix:
    source weights ∝ count^alpha (alpha=1 → natural proportions,
    alpha<1 → upweight small sources — the standard multilingual /
    multi-domain rebalancing), scaled so the expected total is
    ``target_rows`` (default: the natural total). With ``cap=True``
    (default) rates are capped at 1.0 — the pure-sampling contract for
    :func:`stratified_sample`; ``cap=False`` returns the raw rates
    (possibly >1) for :func:`upsample`, which materializes repeated
    epochs deterministically.

    Driver-side arithmetic on |sources| numbers (the counts come from
    one groupBy-count of the corpus); feed the result to
    :func:`stratified_sample` for the deterministic row selection.
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    total = sum(counts.values())
    target = total if target_rows is None else target_rows
    weights = {k: (v**alpha if v else 0.0) for k, v in counts.items()}
    wsum = sum(weights.values()) or 1.0
    raw = {
        k: (weights[k] / wsum) * target / counts[k] if counts[k] else 0.0
        for k in counts
    }
    return {k: min(1.0, v) for k, v in raw.items()} if cap else raw


def upsample(
    df: DataFrame,
    rates: dict | float,
    id_col: str,
    strata_col: str | None = None,
    seed: str = "upsample42",
    replica_col: str = "replica",
) -> DataFrame:
    """Materialize a data mix whose rates may EXCEED 1.0 — the
    repeated-epochs side of mixture building (public mixes routinely
    upsample curated sources: a rate of 2.3 means every row appears
    twice and a deterministic 30% of rows a third time). The ≤1.0
    samplers cannot express this; :func:`mixture_rates` with
    ``cap=False`` produces the uncapped rates this consumes.

    Per row with rate r: replicas 0..floor(r)-1 always, plus replica
    floor(r) iff the row's salted-hash uniform < frac(r) — expected
    multiplicity exactly r, deterministic, rerun- and partition-stable
    (same contract as :func:`hash_sample`; the salt includes floor(r)
    so changing a source's rate re-draws only the fractional margin).
    ``replica_col`` tags the copy index — downstream packing/shuffling
    interleaves replicas instead of emitting them adjacent.

    Scale shape: one broadcast join for per-stratum rates (|strata|
    rows), one explode bounded by ceil(r) per row — no shuffle at all;
    the output is exactly as large as the mix demands."""
    # negative rates are meaningless and would make floor(r) = -1 walk
    # F.sequence backwards into a phantom replica — reject up front
    if isinstance(rates, dict):
        bad = {k: v for k, v in rates.items() if v < 0}
        if bad:
            raise ValueError(f"upsample rates must be >= 0, got {bad}")
    elif float(rates) < 0:
        raise ValueError(f"upsample rate must be >= 0, got {rates}")
    if isinstance(rates, dict):
        if strata_col is None:
            raise ValueError("strata_col is required when rates is a dict")
        spark = df.sparkSession
        rdf = F.broadcast(
            spark.createDataFrame(
                [(k, float(v)) for k, v in rates.items()],
                schema=f"{strata_col} {dict(df.dtypes)[strata_col]}, __rate double",
            )
        )
        out = df.join(rdf, strata_col, "left").withColumn(
            "__rate", F.coalesce("__rate", F.lit(0.0))
        )
    else:
        out = df.withColumn("__rate", F.lit(float(rates)))
    n_full = F.floor("__rate").cast("int")
    frac = F.col("__rate") - n_full.cast("double")
    u = _hash_u_salted(id_col, seed, n_full)
    # the lambda captures u/n_full/frac (re-evaluated per element —
    # the known interpreted-HOF cost), but the array has ceil(r)+1
    # elements, so the re-evaluation is a bounded handful of md5s per
    # row, not the O(m^2) capture trap sliding_windows exists to avoid
    out = (
        out.withColumn(
            "__reps",
            F.filter(
                F.sequence(F.lit(0), n_full),
                lambda i: (i < n_full) | ((i == n_full) & (u < frac)),
            ),
        )
        .withColumn(replica_col, F.explode("__reps"))
        .drop("__rate", "__reps")
    )
    return out


def _hash_u_salted(id_col: str, seed: str, extra) -> F.Column:
    """:func:`_hash_u` with an extra column-valued salt component."""
    h = F.md5(
        F.concat(
            F.lit(f"{seed}:"), extra.cast("string"), F.lit(":"),
            F.col(id_col).cast("string"),
        )
    )
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("double") / F.lit(float(16**15))


def cap_per_group(
    df: DataFrame,
    group_col: str,
    max_rows: int,
    id_col: str,
    order_by: list | None = None,
    seed: str = "cap42",
    mode: str = "remove",
    flag_col: str = "kept",
    max_broadcast_rows: int = 10_000_000,
    plan: str = "split",
) -> DataFrame:
    """Keep at most ``max_rows`` rows per group — the published
    frequency-cap rule (C4 and RefinedWeb cap documents per
    host/domain so a handful of mega-sites cannot dominate the mix;
    the same rule caps near-dup cluster contributions).

    Which rows survive is deterministic: rank within the group by
    ``order_by`` (a list of Columns/names — e.g. a quality score
    descending to keep the BEST ``max_rows``) or, by default, by the
    salted-md5 uniform on ``id_col`` (an unbiased random-but-frozen
    cap: rerun-stable, and adding corpus rows never flips an existing
    row below the cap unless the new rows genuinely outrank it);
    ``id_col`` always breaks ties. Semantics == ``row_number() <=
    max_rows`` over (group, order) — the x19 'cap' oracle leg pins it.

    Scale shape (the skew point of this operator): the window runs
    ONLY over rows of groups that exceed the cap. One
    map-side-combinable count per group finds the offenders; rows of
    under-cap groups — the overwhelming bulk of a crawl, and exactly
    the rows a naive global window would pointlessly shuffle — pass
    through with a broadcast semi-join and never enter the window
    exchange. The hot-domain partition the window DOES process is
    bounded per group by that group's row count; the cap itself
    guarantees the OUTPUT is bounded, and the input skew is the
    reason this operator exists. The input plan is evaluated twice
    (pass branch + capped branch) — **it must therefore be
    deterministic across evaluations** (ADVICE r10): a ``rand()``
    column, unseeded sampling, or a changing source can make the two
    branches disagree and silently drop or duplicate rows; persist or
    checkpoint such an input first (also the cheaper choice when it
    is an expensive derivation).

    ``mode='flag'`` keeps every row and adds boolean ``flag_col``
    (audit form); ``mode='remove'`` (default) drops rows over the cap.

    ``plan`` picks the physical strategy, semantics identical
    (equivalence test-pinned; measured in tools/cap_scale_probe.py@72b9015):
    ``'split'`` (default) is the wide-row/document form above — at 8M
    x ~1 KB rows it beats the global window 2.1x and the gap grows
    with payload width, because the bulk's payloads never reach an
    exchange; ``'window'`` is the plain corpus-wide
    ``row_number() <= cap`` window — the right plan for NARROW rows
    (ids + keys), where one cheap shuffle beats the split plan's
    count + double scan + joins by ~2.4x (measured).
    """
    if max_rows < 1:
        raise ValueError(f"need max_rows >= 1, got {max_rows}")
    if mode not in ("remove", "flag"):
        raise ValueError(f"unknown mode {mode!r}")
    if plan not in ("split", "window"):
        raise ValueError(f"unknown plan {plan!r}")
    if order_by is None:
        order_exprs = [_hash_u(id_col, seed).asc()]
    else:
        order_exprs = [F.col(c) if isinstance(c, str) else c for c in order_by]
    order_exprs = list(order_exprs) + [F.col(id_col).asc()]

    w = Window.partitionBy(group_col).orderBy(*order_exprs)
    if plan == "window":
        ranked = df.withColumn("__rn", F.row_number().over(w))
        if mode == "remove":
            return ranked.filter(F.col("__rn") <= max_rows).drop("__rn")
        return ranked.withColumn(flag_col, F.col("__rn") <= max_rows).drop("__rn")

    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__gn"))
    over = counts.filter(F.col("__gn") > max_rows).select(group_col)
    over_j = F.broadcast(over) if over.count() <= max_broadcast_rows else over

    under_rows = df.join(over_j, group_col, "left_anti")
    over_rows = df.join(over_j, group_col, "left_semi").withColumn(
        "__rn", F.row_number().over(w)
    )
    if mode == "remove":
        return under_rows.unionByName(
            over_rows.filter(F.col("__rn") <= max_rows).drop("__rn")
        )
    return under_rows.withColumn(flag_col, F.lit(True)).unionByName(
        over_rows.withColumn(flag_col, F.col("__rn") <= max_rows).drop("__rn")
    )
