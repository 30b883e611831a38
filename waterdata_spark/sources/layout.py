"""Sort-clustered parquet layout for data skipping (SURVEY.md §4
physical design; the companion to sources/bucketed.py).

Bucketing co-locates equi-JOIN keys; sort-clustering serves RANGE
predicates: ``write_sorted`` range-partitions the frame on the sort
key (each output file covers a DISJOINT key range) and sorts within
partitions (row groups inside each file cover nested sub-ranges).
Parquet footers then carry min/max statistics at both granularities,
and any engine's scan — Spark's parquet filter pushdown included —
skips whole files and row groups whose range cannot match a
predicate. At 100 TB this is the difference between scanning the
corpus and scanning the slice a date-bounded query touches: pruning
effectiveness is a property of the LAYOUT, paid once at write time.

``skipping_stats`` reads the footers back (pyarrow) and reports, for
a given predicate range, how many files/row groups a stats-respecting
scan must touch — the measurable pruning contract
(tools/layout_probe.py@72b9015 commits the numbers; tests pin disjointness).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["write_sorted", "write_zordered", "zorder_value", "skipping_stats"]


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Persist range-clustered parquet: ``repartitionByRange`` over the
    sort key (disjoint per-file ranges via sampled boundaries) then
    ``sortWithinPartitions`` (ordered row groups inside each file).
    One shuffle at write time; every later range-filtered scan prunes.

    ``n_files`` trades pruning granularity against file count — at
    cluster scale set it so files land near the 128-256 MB scan-task
    sweet spot."""
    (
        df.repartitionByRange(n_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode(mode)
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) multi-column clustering — the layout for tables queried
# by MORE THAN ONE selective column. Sort-clustering prunes perfectly on the
# leading sort key and not at all on the others; interleaving the bits of
# per-column quantile ranks gives every clustered column BALANCED locality,
# so parquet min/max footers stay tight on ALL of them and a
# stats-respecting scan prunes on whichever column the predicate names.
# Public technique (Morton 1966; the lakehouse OPTIMIZE ZORDER BY
# convention); implementation here is original, pure JVM expressions.
#
# Rank quantization is SAMPLED: per-column boundaries come from one
# approxQuantile pass (2^bits driver-side doubles per column — bounded
# state), and each row's bucket is counted against the literal boundary
# array with one `aggregate` expression (no window, no second shuffle).
# Skewed distributions therefore get equal-POPULATION buckets, which is
# what makes the interleave balanced when a column is skewed.
# ---------------------------------------------------------------------------


def zorder_value(
    bucket_cols: list[Column], bits_per_col: int
) -> Column:
    """Interleave the low ``bits_per_col`` bits of each already-bucketed
    column (values in [0, 2^bits_per_col), else the key is null) into
    one Morton key: bit ``i`` of column ``j`` lands at position
    ``i * n_cols + j``.

    Implementation is one literal LOOKUP TABLE per column (the 2^bits
    spread values, bits pre-strided by ``n_cols``) + one `get` + one
    shift — so each input expression is referenced exactly ONCE. The
    naive per-bit shift/mask form references every input ``bits_per_col``
    times, and Catalyst's CollapseProject inlines a COPY of the whole
    upstream expression per reference: with the quantile-bucket
    aggregates underneath it, the first probe measured 507s for the
    sf10 write vs 33s with the lookup (the r6 minhash getItem lesson,
    re-learned at write time). ``bits_per_col * n_cols`` must fit a
    long (≤ 62)."""
    n_cols = len(bucket_cols)
    if bits_per_col * n_cols > 62:
        raise ValueError(
            f"bits_per_col={bits_per_col} × {n_cols} cols exceeds a long"
        )
    spread = [
        sum(((v >> i) & 1) << (i * n_cols) for i in range(bits_per_col))
        for v in range(1 << bits_per_col)
    ]
    z = F.lit(0).cast("long")
    for j, c in enumerate(bucket_cols):
        # the lookup table MUST be array<long>: when every spread value
        # fits an int32, F.lit builds array<int>, F.get returns int, and
        # shiftleft preserves the input type — so bit positions ≥ 31 wrap
        # (4 cols × 8 bits gave z = -1 for buckets (255,255,255,255)).
        # ADVICE r9 (high); pinned by the 4-col × 8-bit differential test.
        table = F.array(*[F.lit(s).cast("long") for s in spread])
        z = z.bitwiseOR(F.shiftleft(F.get(table, c.cast("int")), j))
    return z


def _numeric_expr(df: DataFrame, c: str) -> Column:
    """A double-valued ordering proxy for the column: timestamps (tz'd
    or NTZ) go through their epoch long, dates through days-since-epoch
    — both order-preserving, which is all quantile bucketing needs."""
    t = dict(df.dtypes)[c]
    col = F.col(c)
    if t == "timestamp_ntz":
        # NTZ refuses numeric casts; diff vs an NTZ epoch literal is the
        # timezone-free conversion (schemas.load_table convention)
        return F.expr(
            f"timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', `{c}`)"
        ).cast("double")
    if t == "timestamp":
        return col.cast("long").cast("double")
    if t == "date":
        return F.datediff(col, F.lit("1970-01-01").cast("date")).cast("double")
    return col.cast("double")


def _bucket_expr(col: Column, boundaries: list[float]) -> Column:
    """Equal-population bucket index of ``col`` against sampled quantile
    ``boundaries`` (count of boundaries ≤ value), as a BINARY-SEARCH
    CASE tree: log2(n) comparisons per row, whole-stage-codegen'd. The
    first cut used `F.aggregate` over a literal boundary array — a
    higher-order function, which Catalyst can't codegen: the
    interpreted 255-step lambda cost 20s PER EVALUATION on 6M rows, and
    repartitionByRange evaluates the key expression multiple times
    (range-sampling job + exchange), measured 137s vs 6s for the sf1
    write. Nulls sort to bucket 0 (they cluster together, which is what
    a scan wants)."""

    def tree(lo: int, hi: int, base: int) -> Column:
        # bucket index for values known to be < boundaries[hi] (or any,
        # when hi == len); `base` = boundaries consumed to the left
        if lo == hi:
            return F.lit(base)
        mid = (lo + hi) // 2
        return (
            F.when(col < F.lit(float(boundaries[mid])), tree(lo, mid, base))
            .otherwise(tree(mid + 1, hi, base + (mid - lo) + 1))
        )

    return F.when(col.isNull(), F.lit(0)).otherwise(
        tree(0, len(boundaries), 0)
    )


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    bits_per_col: int = 8,
    n_files: int = 32,
    mode: str = "overwrite",
    sample_rel_error: float = 0.001,
) -> None:
    """Persist Z-order-clustered parquet: per-column equal-population
    buckets (one sampled approxQuantile pass per write), bit-interleaved
    Morton key, then the same range-partition + within-partition sort
    the single-key layout uses — ONE shuffle at write time, after which
    a range predicate on ANY of ``zorder_cols`` prunes files and row
    groups via footer stats (``skipping_stats`` audits it; the probe
    commits the numbers).

    Columns must be numeric/date/timestamp-castable-to-double (the
    quantile pass contract). ``bits_per_col`` trades per-column
    resolution against key width — 8 bits = 256 cells per column is
    plenty once files are the pruning unit."""
    n_buckets = 1 << bits_per_col
    qs = [i / n_buckets for i in range(1, n_buckets)]
    # validate dtypes up front: a string column would silently cast to
    # null doubles and land every row in bucket 0, degenerating the
    # layout with no error (ADVICE r9)
    _ok_prefixes = (
        "tinyint", "smallint", "int", "bigint", "float", "double",
        "decimal", "date", "timestamp", "boolean",
    )
    for c, t in dict(df.dtypes).items():
        if c in zorder_cols and not t.startswith(_ok_prefixes):
            raise ValueError(
                f"write_zordered: column {c!r} has type {t}; z-order "
                "columns must be numeric/date/timestamp"
            )
    exprs = {c: _numeric_expr(df, c) for c in zorder_cols}
    as_double = df.select(*[exprs[c].alias(c) for c in zorder_cols])
    bounds = as_double.approxQuantile(zorder_cols, qs, sample_rel_error)
    buckets = [
        _bucket_expr(exprs[c], sorted(set(bs)))
        for c, bs in zip(zorder_cols, bounds)
    ]
    zdf = df.withColumn("__z", zorder_value(buckets, bits_per_col))
    (
        zdf.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def skipping_stats(path: str, column: str, lo, hi) -> dict:
    """Footer-level pruning audit for ``column BETWEEN lo AND hi``:
    counts the files and row groups whose [min, max] intersects the
    predicate — exactly the set a statistics-respecting reader scans.
    Driver-side footer reads only (no data pages touched)."""
    import glob
    import os

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    n_rg = n_rg_hit = n_files_hit = 0
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = md.schema.to_arrow_schema().get_field_index(column)
        f_hit = False
        f_min = f_max = None
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            n_rg += 1
            if st is None or not st.has_min_max:
                # no stats recorded → a correct reader must scan it
                n_rg_hit += 1
                f_hit = True
                continue
            f_min = st.min if f_min is None else min(f_min, st.min)
            f_max = st.max if f_max is None else max(f_max, st.max)
            if not (st.max < lo or st.min > hi):
                n_rg_hit += 1
                f_hit = True
        n_files_hit += bool(f_hit)
        ranges.append((f_min, f_max))
    return {
        "n_files": len(files),
        "n_files_scanned": n_files_hit,
        "n_row_groups": n_rg,
        "n_row_groups_scanned": n_rg_hit,
        "file_ranges": ranges,
    }
