"""Similarity search over an embedding column (extension X3).

Two paths:

- ``cosine_topk_bruteforce``: exact top-k via self-join — the
  correctness baseline (quadratic; fine up to ~10^4 probes).
- ``cosine_topk_lsh``: random-hyperplane LSH bucketing — the scale
  path. Vectors only pair within a bucket, so cost is
  O(n * avg_bucket_size) instead of O(n^2). Deterministic: hyperplanes
  come from a seeded ChaCha-free LCG expanded JVM-side, so the same
  buckets appear on every run and every cluster size.

All vector math is JVM-side (``zip_with`` + ``aggregate`` fold) — no
Python/Arrow round-trip in the hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from waterdata_spark.plans import cachereg


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def with_unit_vector(df: DataFrame, vec_col: str, out: str = "__unit") -> DataFrame:
    """Pre-normalize once so each pair costs one dot product, not a dot
    plus two norms.

    The norm must NOT appear inside the per-element lambda: a lambda-
    captured aggregate is re-evaluated for EVERY element (and hoisting
    it to a column gets re-inlined by CollapseProject), turning
    normalization O(dim^2) per row — measured 6.9s vs 0.9s per pass on
    20k x 64-dim vectors. Passing it as an ``array_repeat`` argument
    pins one evaluation per row; ``zip_with`` then divides
    elementwise, bit-identically to the naive form."""
    v = F.col(vec_col)
    n = _norm(v)
    return df.withColumn(
        out, F.zip_with(v, F.array_repeat(n, F.size(v)), lambda x, nn: x.cast("double") / nn)
    )


def cosine_topk_bruteforce(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    sim_col: str | None = "similarity",
) -> DataFrame:
    """Exact cosine top-k neighbors for every row (self-join baseline).

    Output: id_col, neighbor_id, rank (1..k), and optionally the
    similarity. Rank ties broken by neighbor id, so the result is
    fully deterministic.
    """
    a = with_unit_vector(df.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias("vec_id"), F.col("__unit").alias("__ua")
    )
    b = a.select(F.col("vec_id").alias("neighbor_id"), F.col("__ua").alias("__ub"))
    pairs = a.join(b, F.col("vec_id") != F.col("neighbor_id"))
    sim = _dot(F.col("__ua"), F.col("__ub"))
    w = Window.partitionBy("vec_id").orderBy(F.col("__sim").desc(), F.col("neighbor_id").asc())
    out = (
        pairs.withColumn("__sim", sim)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
    cols = ["vec_id", "neighbor_id", "rank"]
    if sim_col:
        out = out.withColumn(sim_col, F.round(F.col("__sim"), 6))
        cols.append(sim_col)
    return out.select(*cols)


def _lcg_floats(seed: int, n: int) -> list[float]:
    """Deterministic pseudo-random floats in [-1, 1) from a 64-bit LCG
    (Knuth MMIX constants). Pure-Python, reproducible everywhere."""
    state = seed & 0xFFFFFFFFFFFFFFFF
    out = []
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        out.append((state >> 11) / float(1 << 53) * 2.0 - 1.0)
    return out


def cosine_topk_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int | None = None,
    seed: int = 42,
    sim_col: str | None = "similarity",
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH.

    Each of ``n_tables`` hash tables assigns every vector an
    ``n_planes``-bit signature (sign of projection onto seeded random
    hyperplanes). Candidate pairs share a signature in at least one
    table; exact cosine is computed only within buckets, then global
    top-k per probe. Recall grows with n_tables; cost with bucket
    collision rate — both tunable without touching the plan shape.

    At 100 TB: buckets are the shuffle key (small, fixed-width), the
    quadratic blow-up is bounded per-bucket, and AQE's skew-join
    handles hot buckets.
    """
    if dim is None:
        first = df.select(F.size(vec_col).alias("d")).first()
        dim = int(first["d"])

    unit = with_unit_vector(df.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias("vec_id"), F.col("__unit")
    )

    # signature per table: n_planes sign bits packed into a long
    table_sigs = []
    for t in range(n_tables):
        bits = []
        for p in range(n_planes):
            plane = _lcg_floats(seed + t * 1000003 + p * 7919, dim)
            proj = F.aggregate(
                F.zip_with(
                    F.col("__unit"),
                    F.array(*[F.lit(w) for w in plane]),
                    lambda x, w: x * w,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            bits.append(F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
        sig = bits[0]
        for bcol in bits[1:]:
            sig = sig + bcol
        table_sigs.append(F.struct(F.lit(t).alias("table"), sig.cast("long").alias("sig")))

    hashed = unit.withColumn("__tsig", F.explode(F.array(*table_sigs))).select(
        "vec_id", "__unit", F.col("__tsig.table").alias("table"), F.col("__tsig.sig").alias("sig")
    )

    a = hashed.alias("a")
    b = hashed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("__unit").alias("__ub"),
        "table",
        "sig",
    ).alias("b")
    cand = (
        a.join(b, ["table", "sig"])
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id", F.col("__unit").alias("__ua"), "__ub")
        .dropDuplicates(["vec_id", "neighbor_id"])
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("__sim").desc(), F.col("neighbor_id").asc())
    out = (
        cand.withColumn("__sim", _dot(F.col("__ua"), F.col("__ub")))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
    cols = ["vec_id", "neighbor_id", "rank"]
    if sim_col:
        out = out.withColumn(sim_col, F.round(F.col("__sim"), 6))
        cols.append(sim_col)
    return out.select(*cols)


def _lloyd_kmeans(X, k: int, seed: int, n_iter: int = 8):
    """Seeded numpy k-means (k-means++ init, Lloyd's iterations) for the
    bounded driver-side sample. Deterministic for a given (X, k, seed)."""
    rng = np.random.default_rng(seed)
    n = X.shape[0]
    # k-means++ seeding, incremental min-distance update: O(k·n·dim),
    # not O(k²·n·dim) from re-scanning every center per step
    centers = [X[int(rng.integers(n))]]
    d2 = np.full(n, np.inf)
    for _ in range(1, k):
        d2 = np.minimum(d2, np.sum((X - centers[-1]) ** 2, axis=1))
        tot = d2.sum()
        if tot <= 0:
            centers.append(X[int(rng.integers(n))])
            continue
        centers.append(X[int(rng.choice(n, p=d2 / tot))])
    C = np.vstack(centers)
    x2 = (X**2).sum(axis=1, keepdims=True)
    for _ in range(n_iter):
        # squared L2 via ||x||² - 2x·c + ||c||² (no n×k×dim tensor)
        d = x2 - 2.0 * (X @ C.T) + (C**2).sum(axis=1)[None, :]
        lab = d.argmin(axis=1)
        for j in range(k):
            pts = X[lab == j]
            if len(pts):
                C[j] = pts.mean(axis=0)
    return C


def _unit_norms(C):
    norms = np.linalg.norm(C, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return C / norms


def _centroid_matrix(
    unit: DataFrame,
    n_cells: int,
    seed: int,
    method: str = "kmeans",
    n: int = 0,
    dim: int = 0,
):
    """Coarse-quantizer centroids as a unit-normalized numpy matrix
    (n_cells × dim). ``n``/``dim`` are caller-precomputed (one combined
    aggregate in :func:`_build_index`).

    method='kmeans' (production): deterministic hash-sample of
    ~40·n_cells vectors → k-means → normalized centers. No full-table
    sort, no collect of data rows beyond the bounded sample; cost is
    independent of |df| except the sample filter scan. With (n, dim)
    known up front, the expected sample size is bounded BEFORE any
    collect, so the whole fit is a single collect job here (VERDICT
    r3: the old form ran three separate driver count jobs per build).
    Driver-sized samples (≤ ~2M floats — 40·n_cells·dim, bounded by
    geometry, not by |df|) fit with seeded numpy Lloyd's; larger ones
    go to distributed ``pyspark.ml`` KMeans — in local mode the MLlib
    job overhead (~3 s) would otherwise dominate sub-second fits.

    method='seeded': the original pick — first n_cells vectors by
    seeded hash order. Kept as fallback (and for tiny inputs where
    k-means has fewer points than cells).
    """

    if method == "kmeans" and n and dim:
        target = max(n_cells * 40, n_cells * 2)
        mod = max(1, n // target)
        samp = unit.filter(
            F.pmod(F.xxhash64(F.col("vec_id"), F.lit(seed + 1)), F.lit(mod)) == 0
        ).select(F.col("__unit").cast("array<double>").alias("__unit"))
        # driver-fit cap: 16M float64s = 128 MB — trivial for the
        # driver, and it keeps the seeded numpy Lloyd's (sub-second)
        # on every realistic geometry: even √(100M rows)=10k cells ×
        # 40 samples × 64 dims = 25.6M only just exceeds it. Below the
        # old 2M cap, sf10 (1k cells × 64 dims = 2.56M) fell onto the
        # distributed-KMeans path whose per-fit job overhead dominated
        # the whole query (116s cold vs 23s).
        if target * dim <= 16_000_000:
            # expected sample = n/mod ≈ target rows (binomial, tightly
            # concentrated) → safe to collect without a pre-count; the
            # post-collect check is a 4x-margin backstop
            rows = samp.collect()
            if len(rows) >= n_cells and len(rows) * dim <= 64_000_000:
                X = np.vstack([r["__unit"] for r in rows])
                return _unit_norms(_lloyd_kmeans(X, n_cells, seed, n_iter=8))
        else:
            try:
                from pyspark.ml.clustering import KMeans
                from pyspark.ml.functions import array_to_vector

                feats = samp.select(array_to_vector(F.col("__unit")).alias("features"))
                model = KMeans(k=n_cells, seed=seed, maxIter=8).fit(feats)
                return _unit_norms(np.vstack(model.clusterCenters()))
            except Exception:
                pass  # pyspark.ml unavailable → seeded fallback
    cents = (
        unit.withColumn("__h", F.xxhash64(F.col("vec_id"), F.lit(seed)))
        .orderBy("__h")
        .limit(n_cells)
        .collect()
    )
    return _unit_norms(np.vstack([np.asarray(row["__unit"], dtype="float64") for row in cents]))


def _topk_row_indices(s, ids, kk: int):
    """Row-wise indices of each query's ``kk`` best candidates ordered
    by (similarity desc, id asc) — EXACT at ties. A bare argpartition
    cut keeps an arbitrary subset of boundary-tied candidates, which
    made probe-all diverge from brute force exactly at ties (VERDICT
    r3 #6). Rank-encoding the ids gives lexsort a numeric secondary
    key that works for string ids too; the full row sort is O(m log m)
    per query against the O(m·dim) matmul that precedes it."""
    id_rank = np.empty(len(ids), dtype=np.int64)
    id_rank[np.argsort(ids, kind="stable")] = np.arange(len(ids))
    order = np.lexsort((np.broadcast_to(id_rank, s.shape), -s), axis=-1)
    return order[:, :kk]


def _probe_cells_udf(C, n_top: int):
    """Arrow-batched cell assignment: for each unit vector, the ids of
    its ``n_top`` nearest centroids, ordered by similarity desc (ties:
    lower cell id). The centroid matrix rides the UDF closure — one
    broadcast to executors, zero plan-literal bloat (the old expression
    form inlined n_cells × dim literals into the plan)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def probe_cells(units: pd.Series) -> pd.Series:
        if units.empty:
            return pd.Series([], dtype=object)
        U = np.vstack(units.values)
        S = U @ C.T
        kk = min(n_top, S.shape[1])
        idx = np.argpartition(-S, kk - 1, axis=1)[:, :kk]
        out = []
        for i in range(S.shape[0]):
            cells = idx[i]
            order = np.lexsort((cells, -S[i, cells]))
            out.append([int(c) for c in cells[order]])
        return pd.Series(out)

    return probe_cells


def _resolve_cells(n_cells, n: int):
    """n_cells='auto' → √n (classic IVF sizing: cell count and per-cell
    block grow together, keeping the cogroup matmul balanced as the
    table scales). Pure arithmetic on the caller's precomputed count."""
    if n_cells == "auto":
        return max(4, min(4096, int(n ** 0.5)))
    return int(n_cells)


def _build_index(unit: DataFrame, n_cells, seed: int, centroids: str):
    """Shared IVF index build, two actions total: ONE combined
    row-count + dimensionality aggregate feeding the auto cell sizing
    AND the sample-rate/driver-size decisions, then the single bounded
    sample collect inside :func:`_centroid_matrix`. Returns
    (n_cells, centroid_matrix)."""
    n, dim = unit.agg(
        F.count(F.lit(1)), F.coalesce(F.first(F.size("__unit")), F.lit(0))
    ).first()
    n, dim = int(n), int(dim)
    n_cells = _resolve_cells(n_cells, n)
    return n_cells, _centroid_matrix(unit, n_cells, seed, centroids, n=n, dim=dim)


def cosine_topk_ivf(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int | str = 16,
    n_probe: int = 4,
    seed: int = 42,
    sim_col: str | None = "similarity",
    centroids: str = "kmeans",
) -> DataFrame:
    """Approximate cosine top-k via IVF (inverted-file) coarse
    quantization — the right ANN scale path when queries target
    arbitrary neighbors. Measured recall@5 vs brute force on the
    synthetic (near-uniform) embeddings at sf0.01 (tools/ann_recall.py):
    k-means centroids 0.604 at (cells=16, probe=4), 0.820 at probe=8
    (seeded pick: 0.482 / 0.738) — vs <0.1 for random-hyperplane LSH,
    which only buckets high-similarity pairs reliably (use LSH for
    near-dup detection, IVF for top-k search; on real clustered
    embeddings IVF recall is substantially higher than on uniform
    noise).

    - Centroids: sampled k-means via pyspark.ml (``centroids='kmeans'``,
      default) or the seeded deterministic pick (``'seeded'``); see
      :func:`_centroid_matrix`. Assignment is an Arrow-batched numpy
      matmul, so centroids never appear as plan literals.
    - Each vector is indexed under its nearest centroid (one cell).
    - Each query probes its n_probe nearest cells; exact cosine
      reranks within the probed cells.

    Cost: |data| × n_probe/n_cells pairwise dots instead of |data|²;
    the join key is the cell id (an int) so AQE can split hot cells.
    """
    unit = with_unit_vector(df.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias("vec_id"), F.col("__unit")
    )

    n_cells, C = _build_index(unit, n_cells, seed, centroids)
    probe = _probe_cells_udf(C, max(1, n_probe))
    indexed = unit.withColumn("__cells", probe(F.col("__unit").cast("array<double>")))

    data_side = indexed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("__unit").alias("__ub"),
        F.col("__cells").getItem(0).alias("cell"),
    )
    query_side = indexed.select(
        "vec_id",
        F.col("__unit").alias("__ua"),
        F.explode(F.slice(F.col("__cells"), 1, n_probe)).alias("cell"),
    )

    cand = query_side.join(data_side, "cell").filter(F.col("vec_id") != F.col("neighbor_id"))
    w = Window.partitionBy("vec_id").orderBy(F.col("__sim").desc(), F.col("neighbor_id").asc())
    out = (
        cand.withColumn("__sim", _dot(F.col("__ua"), F.col("__ub")))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
    cols = ["vec_id", "neighbor_id", "rank"]
    if sim_col:
        out = out.withColumn(sim_col, F.round(F.col("__sim"), 6))
        cols.append(sim_col)
    return out.select(*cols)


def cosine_topk_ivf_blocked(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int | str = 16,
    n_probe: int = 4,
    seed: int = 42,
    sim_col: str | None = "similarity",
    centroids: str = "kmeans",
    n_assign: int = 1,
) -> DataFrame:
    """IVF top-k with numpy block-matmul rerank — the production path.

    Same index structure as ``cosine_topk_ivf`` (sampled-k-means coarse
    centroids, one cell per data vector, n_probe cells per query), but
    the within-cell rerank is a per-cell cogroup → ``applyInPandas``
    computing Q @ D.T with numpy. One Arrow transfer per cell instead
    of a JVM fold per PAIR — measured ~10× faster at sf0.1 than the
    pure-expression rerank, with identical results (same top-k ranks).

    ``n_assign``: index each DATA vector under its ``n_assign`` nearest
    cells (default 1 — classic IVF). Multi-assignment is the recall
    lever that composes with multi-probe: a true neighbor is missed
    only if NONE of its n_assign cells is among the query's n_probe
    probes. Measured on the adversarially-uniform synthetic embeddings
    (tools/ann_recall.py, sf0.01, cells=16): probe=8/assign=1 → 0.837,
    probe=8/assign=2 → **0.956** recall@5 — the documented ≥0.9
    operating point. Cost: the data side grows
    ×n_assign (candidate volume ∝ n_probe·n_assign/n_cells), and
    duplicate (query, neighbor) pairs across shared cells are collapsed
    by one map-side-combinable max aggregation before ranking.

    Scale: the shuffle key is the cell id; per-cell blocks are bounded
    by n·n_assign/n_cells (pick n_cells so a cell's matrix fits an
    executor — at 100 TB that means ~sqrt-ish scaling of n_cells).
    Centroids come from pyspark.ml k-means on a deterministic
    hash-sample and ride the assignment UDF's closure (one executor
    broadcast), never the plan.
    """
    from pyspark.sql import types as T

    n_assign = max(1, n_assign)
    unit = with_unit_vector(df.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias("vec_id"), F.col("__unit")
    )
    n_cells, C = _build_index(unit, n_cells, seed, centroids)
    probe = _probe_cells_udf(C, max(1, n_probe, n_assign))
    # materialize the index once: both cogroup sides read it, and the
    # assignment (an Arrow round-trip per row batch) is the expensive
    # part — recomputing it per side doubles the work. At real scale
    # this is a persisted index table. persist (NOT localCheckpoint):
    # lineage stays intact, so the registry can release the blocks at
    # the next build / next query with recompute-on-reuse semantics —
    # a checkpoint here pinned executor storage until driver GC and
    # measurably distorted later queries in the same JVM (cachereg.py).
    indexed = cachereg.register(
        "similarity.ivf_indexed",
        unit.withColumn("__cells", probe(F.col("__unit").cast("array<double>"))).persist(),
    )

    # distinct column names on the two cogroup sides — both derive from
    # `indexed`, and Spark's ambiguous-self-join check rejects a cogroup
    # whose sides share same-origin column references
    data_side = indexed.select(
        F.col("vec_id").alias("d_id"),
        F.col("__unit").alias("d_unit"),
        F.explode(F.slice(F.col("__cells"), 1, n_assign)).alias("cell"),
    )
    query_side = indexed.select(
        F.col("vec_id").alias("q_id"),
        F.col("__unit").alias("q_unit"),
        F.explode(F.slice(F.col("__cells"), 1, n_probe)).alias("cell"),
    )

    # preserve the caller's id type (string/int/long ids all valid),
    # matching the other cosine_topk_* variants
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("vec_id", id_type),
            T.StructField("neighbor_id", id_type),
            T.StructField("__sim", T.DoubleType()),
        ]
    )

    def rerank(queries: pd.DataFrame, data: pd.DataFrame) -> pd.DataFrame:
        if queries.empty or data.empty:
            return pd.DataFrame(columns=["vec_id", "neighbor_id", "__sim"])
        q = np.vstack(queries["q_unit"].values)
        d = np.vstack(data["d_unit"].values)
        s = q @ d.T  # block matmul: all pairs in this cell at once
        kk = min(k + 1, s.shape[1])  # +1: a query may meet itself here
        top = _topk_row_indices(s, data["d_id"].values, kk)
        qi = np.repeat(np.arange(len(q)), kk)
        di = top.ravel()
        out = pd.DataFrame(
            {
                "vec_id": queries["q_id"].values[qi],
                "neighbor_id": data["d_id"].values[di],
                "__sim": s[qi, di],
            }
        )
        return out[out["vec_id"] != out["neighbor_id"]]

    cand = (
        query_side.groupBy("cell")
        .cogroup(data_side.groupBy("cell"))
        .applyInPandas(rerank, schema=out_schema)
    )
    if n_assign > 1:
        # a pair surfacing in several shared cells carries the SAME
        # exact dot product — collapse via a map-side-combinable max
        # (classic IVF keeps the single-assignment no-dedup fast path)
        cand = cand.groupBy("vec_id", "neighbor_id").agg(F.max("__sim").alias("__sim"))
    w = Window.partitionBy("vec_id").orderBy(F.col("__sim").desc(), F.col("neighbor_id").asc())
    out = cand.withColumn("rank", F.row_number().over(w).cast("long")).filter(F.col("rank") <= k)
    cols = ["vec_id", "neighbor_id", "rank"]
    if sim_col:
        out = out.withColumn(sim_col, F.round(F.col("__sim"), 6))
        cols.append(sim_col)
    return out.select(*cols)


def cosine_search_bruteforce(
    data: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    k: int = 5,
    sim_col: str | None = "similarity",
) -> DataFrame:
    """Exact cosine top-k of a QUERY table against a DATA corpus —
    the data/query-split form of ``cosine_topk_bruteforce`` (which is
    the self-join special case). Output: query_id, neighbor_id, rank
    (1..k), optional similarity. Quadratic verification baseline."""
    qid = query_id_col or id_col
    d = with_unit_vector(data.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("__unit").alias("__ub")
    )
    q = with_unit_vector(queries.select(qid, vec_col), vec_col).select(
        F.col(qid).alias("query_id"), F.col("__unit").alias("__ua")
    )
    pairs = q.crossJoin(d)
    w = Window.partitionBy("query_id").orderBy(F.col("__sim").desc(), F.col("neighbor_id").asc())
    out = (
        pairs.withColumn("__sim", _dot(F.col("__ua"), F.col("__ub")))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
    cols = ["query_id", "neighbor_id", "rank"]
    if sim_col:
        out = out.withColumn(sim_col, F.round(F.col("__sim"), 6))
        cols.append(sim_col)
    return out.select(*cols)


class IvfIndex:
    """A built IVF index: fitted coarse centroids + the cell-assigned
    data side, reusable across query batches (the FAISS build/search
    split, Spark-shaped). Produced by :func:`build_ivf_index`; consumed
    by :func:`search_ivf_index`.

    ``indexed`` is persisted through the cache-lifetime registry: a
    rebuild under the same site key releases the previous generation,
    and ``@query`` entries drain the registry between oracle queries —
    lineage stays intact either way, so a released index transparently
    recomputes on next use (correct, just cold)."""

    def __init__(
        self,
        n_cells: int,
        centroid_matrix,
        indexed: DataFrame,
        id_type,
        n_assign: int = 1,
        quantized: bool = False,
    ):
        self.n_cells = n_cells
        self.C = centroid_matrix
        # columns: d_id, cell, and d_unit (float) OR d_q+d_s (int8+scale)
        self.indexed = indexed
        self.id_type = id_type
        self.n_assign = n_assign
        self.quantized = quantized


def build_ivf_index(
    data: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int | str = 16,
    seed: int = 42,
    centroids: str = "kmeans",
    n_assign: int = 1,
    quantize: bool = False,
) -> IvfIndex:
    """Build the IVF index ONCE for a (slow-moving) corpus: fit the
    coarse quantizer on the data, assign each vector to its nearest
    ``n_assign`` cells, persist the assigned side. Amortizes the
    expensive part of :func:`cosine_search_ivf` across query batches —
    at 100 TB this is the daily index-build job writing a parquet
    index table that serving reads.

    ``quantize=True`` stores the data side int8 (operators/quantize:
    symmetric per-vector scheme over the UNIT vector) — ~4x smaller
    persisted index and ~4x fewer bytes through the search shuffle,
    the standard asymmetric-search serving layout (queries stay
    full-precision; the per-cell rerank reconstructs batch-wise).
    Cosine error is bounded by ``sqrt(d)·max|u|/127`` (~0.01 at d=64;
    recall measured in tools/quantize_probe.py@72b9015)."""
    d_unit = with_unit_vector(data.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias("vec_id"), F.col("__unit")
    )
    n_cells, C = _build_index(d_unit, n_cells, seed, centroids)
    n_assign = min(max(1, n_assign), n_cells)
    assign = _probe_cells_udf(C, n_assign)
    if quantize:
        from waterdata_spark.operators.quantize import with_quantized_vector

        payload = with_quantized_vector(d_unit, "__unit", "__q", "__s").select(
            F.col("vec_id").alias("d_id"),
            F.col("__q").alias("d_q"),
            F.col("__s").alias("d_s"),
            F.explode(assign(F.col("__unit").cast("array<double>"))).alias("cell"),
        )
    else:
        payload = d_unit.select(
            F.col("vec_id").alias("d_id"),
            F.col("__unit").alias("d_unit"),
            F.explode(assign(F.col("__unit").cast("array<double>"))).alias("cell"),
        )
    indexed = cachereg.register("similarity.ivf_search_index", payload.persist())
    return IvfIndex(
        n_cells, C, indexed, data.schema[id_col].dataType, n_assign, quantized=quantize
    )


def cosine_search_ivf(
    data: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    k: int = 5,
    n_cells: int | str = 16,
    n_probe: int = 4,
    seed: int = 42,
    sim_col: str | None = "similarity",
    centroids: str = "kmeans",
    n_assign: int = 1,
) -> DataFrame:
    """IVF ANN search of a QUERY table against a DATA corpus — the
    production retrieval shape (embed a batch of prompts, search the
    corpus index), distinct from the self-top-k dedup/graph shape.

    The coarse quantizer is fit on the DATA side only (queries must
    not shift the index); data vectors are indexed under their nearest
    ``n_assign`` cells (default 1), each query probes its ``n_probe``
    nearest cells, and the within-cell rerank is the same per-cell
    cogroup block matmul as ``cosine_topk_ivf_blocked`` (which also
    documents the multi-assignment recall/cost trade). With
    ``n_probe >= n_cells`` every cell is probed and the result EQUALS
    the brute-force search (equivalence-tested) — recall tuning only
    ever removes cells.

    One-shot convenience: builds the index and searches once. For
    repeated query batches against the same corpus, call
    :func:`build_ivf_index` once and :func:`search_ivf_index` per
    batch (equivalence-tested identical; measured amortization in
    SCALING.md)."""
    index = build_ivf_index(
        data,
        id_col=id_col,
        vec_col=vec_col,
        n_cells=n_cells,
        seed=seed,
        centroids=centroids,
        n_assign=n_assign,
    )
    return search_ivf_index(
        index,
        queries,
        vec_col=vec_col,
        query_id_col=query_id_col or id_col,
        k=k,
        n_probe=n_probe,
        sim_col=sim_col,
    )


def search_ivf_index(
    index: IvfIndex,
    queries: DataFrame,
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    k: int = 5,
    n_probe: int = 4,
    sim_col: str | None = "similarity",
    sim_round_dp: int | None = 6,
) -> DataFrame:
    """Search one query batch against a prebuilt :class:`IvfIndex`.
    Per-batch cost: one Arrow assignment pass over the QUERIES only
    (the data side is already assigned + persisted), the per-cell
    cogroup rerank, and the rank window.

    ``sim_round_dp``: decimal rounding applied to ``sim_col`` (default
    6 — the engine-wide reproducible-comparison convention). Pass
    ``None`` for the RAW float similarity — callers that apply their
    own rounding precision need the unrounded value, since rounding an
    already-6dp-rounded sim at a different precision can flip boundary
    values (ADVICE r10; ``mining.mine_hard_negatives`` does this)."""
    from pyspark.sql import types as T

    qid = query_id_col
    n_probe = min(max(1, n_probe), index.n_cells)
    n_assign = index.n_assign  # dedup need is a property of the BUILD
    q_unit = with_unit_vector(queries.select(qid, vec_col), vec_col).select(
        F.col(qid).alias("vec_id"), F.col("__unit")
    )
    probe = _probe_cells_udf(index.C, n_probe)
    data_side = index.indexed
    query_side = q_unit.select(
        F.col("vec_id").alias("q_id"),
        F.col("__unit").alias("q_unit"),
        F.explode(probe(F.col("__unit").cast("array<double>"))).alias("cell"),
    )

    id_type = index.id_type
    qid_type = queries.schema[qid].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", qid_type),
            T.StructField("neighbor_id", id_type),
            T.StructField("__sim", T.DoubleType()),
        ]
    )

    quantized = index.quantized

    def rerank(qdf: pd.DataFrame, ddf: pd.DataFrame) -> pd.DataFrame:
        if qdf.empty or ddf.empty:
            return pd.DataFrame(columns=["query_id", "neighbor_id", "__sim"])
        qm = np.vstack(qdf["q_unit"].values)
        if quantized:
            # asymmetric search: int8 rows crossed the shuffle; the
            # float view exists only batch-locally inside this rerank
            dm = np.vstack(ddf["d_q"].values).astype(np.float64)
            dm *= ddf["d_s"].values.astype(np.float64)[:, None]
        else:
            dm = np.vstack(ddf["d_unit"].values)
        s = qm @ dm.T
        kk = min(k, s.shape[1])
        top = _topk_row_indices(s, ddf["d_id"].values, kk)
        qi = np.repeat(np.arange(len(qm)), kk)
        di = top.ravel()
        return pd.DataFrame(
            {
                "query_id": qdf["q_id"].values[qi],
                "neighbor_id": ddf["d_id"].values[di],
                "__sim": s[qi, di],
            }
        )

    cand = (
        query_side.groupBy("cell")
        .cogroup(data_side.groupBy("cell"))
        .applyInPandas(rerank, schema=out_schema)
    )
    if n_assign > 1:
        # multi-assigned data vectors can meet a query in several
        # shared cells; identical sims collapse via map-side max
        cand = cand.groupBy("query_id", "neighbor_id").agg(F.max("__sim").alias("__sim"))
    # with n_assign=1 no pair-dedup is needed: each data vector is
    # indexed under exactly ONE cell and a query's probed cells are
    # distinct, so a (query, neighbor) pair can only surface once —
    # the rank window below is the single post-rerank shuffle
    w = Window.partitionBy("query_id").orderBy(F.col("__sim").desc(), F.col("neighbor_id").asc())
    out = cand.withColumn("rank", F.row_number().over(w).cast("long")).filter(F.col("rank") <= k)
    cols = ["query_id", "neighbor_id", "rank"]
    if sim_col:
        sim = F.col("__sim")
        if sim_round_dp is not None:
            sim = F.round(sim, sim_round_dp)
        out = out.withColumn(sim_col, sim)
        cols.append(sim_col)
    return out.select(*cols)
