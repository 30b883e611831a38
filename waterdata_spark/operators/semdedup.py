"""SemDeDup — semantic deduplication over an embedding column.

Public technique: Abbas et al. 2023, "SemDeDup: Data-efficient learning
at web-scale through semantic deduplication" (arXiv:2303.09540). The
missing member of the dedup family: exact (sha2), MinHash-LSH / SimHash
(lexical near-dup), CDC span dedup (duplicated regions) all key on
SURFACE text; SemDeDup catches near-duplicate MEANING — paraphrases,
template re-renders, boilerplate translations — that shares few
shingles but lands close in embedding space.

Algorithm (paper §2):
1. k-means-cluster the embeddings (cosine geometry — unit vectors);
2. WITHIN each cluster, connect pairs with cosine >= threshold;
3. per connected duplicate group keep ONE example — the paper keeps
   the one with the LOWEST cosine to its cluster centroid (the least
   prototypical member, preserving the cluster's periphery).

100 TB shape: assignment is a narrow JVM scan (k dot products per row,
zero shuffle — centroids ride the plan as literals, or a numpy closure
above ``literal_max_elems``); pair generation is ONE hash shuffle on
the int cluster id with per-cluster cost quadratic in |cluster| — the
paper's knob: k grows with n (LAION-440M used k = 50 000) so
|cluster| ~ n/k stays bounded, and cross-cluster near-dups are missed
BY DESIGN (the accepted recall trade, §2). Component labels ride a
fixed-width (id, id) edge shuffle; election is one map-side-combinable
``min_by`` aggregate. Document text and full vectors never ride the
election shuffle.

Determinism contract (the oracle/differential twin relies on it):
cosines are rounded to ``round_dp`` decimals BEFORE every comparison
(assignment argmax, threshold cut, election order) so the cuts
reproduce across engines; argmax ties break to the LOWEST centroid
index, election ties to the LOWEST id. Ids must be orderable.

Reference parity: the reference engine has no semantic-dedup
counterpart (its dedup surface is exact/key-based —
`down/down_water_prep.py` drop_duplicates forms); this is X2-family
extension surface for the LLM-pipeline contract.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from waterdata_spark.operators.dedup_approx import min_id_components
from waterdata_spark.operators.similarity import (
    _centroid_matrix,
    _dot,
    _unit_norms,
    with_unit_vector,
)

# k-means (seed 7, Lloyd's x8) fit OFFLINE on the sf0.01 synthetic
# embeddings, unit-normalized and rounded to 4dp — a frozen fixture so
# the DuckDB oracle twin and the pure-Python differential can reproduce
# assignment bit-for-bit. Balance on sf0.01: [130, 122, 132, 116].
FROZEN_CENTROIDS_64D_K4: list[list[float]] = [
    [-0.0301, 0.1629, 0.0971, -0.028, 0.2048, 0.1099, -0.2432, -0.0182, -0.065, -0.143,
     -0.0246, 0.045, 0.0927, -0.1349, 0.0651, 0.1356, -0.1954, 0.0762, -0.0283, 0.0056,
     0.102, -0.2169, -0.001, -0.1085, 0.1478, -0.0202, -0.1065, 0.061, 0.0148, 0.1458,
     0.0579, -0.1144, -0.0106, 0.0909, -0.0026, -0.0371, -0.1066, 0.2105, -0.0029, -0.1669,
     -0.0343, -0.2689, 0.2485, 0.134, -0.1502, 0.1667, -0.1485, -0.1394, 0.0515, -0.1379,
     0.0474, 0.0851, -0.1704, 0.077, 0.1492, 0.0359, 0.1407, -0.0097, -0.213, 0.0201,
     0.1693, -0.1419, 0.1808, 0.0873],
    [0.0597, -0.002, -0.0891, 0.1096, -0.0468, 0.0474, 0.0751, 0.1138, 0.0017, 0.0191,
     0.1563, 0.012, 0.0318, 0.119, 0.0338, 0.0701, 0.0346, 0.2207, -0.1592, -0.1337,
     -0.0675, 0.1995, 0.0898, -0.0361, -0.196, -0.0018, -0.0398, 0.2016, 0.0204, -0.2223,
     0.0655, -0.2042, 0.0783, -0.0187, -0.0755, 0.1973, -0.0396, -0.1627, 0.0196, 0.0587,
     -0.0884, -0.0768, -0.2091, -0.2836, 0.004, -0.1515, -0.0965, 0.2945, -0.037, -0.1541,
     -0.0001, -0.128, -0.1369, 0.068, 0.0848, 0.0358, -0.308, -0.0969, -0.0081, -0.2012,
     -0.0191, -0.0002, -0.0494, -0.1521],
    [0.1575, -0.0904, 0.0077, -0.0561, -0.1671, 0.0599, -0.1772, -0.1297, 0.0249, -0.0586,
     -0.0459, 0.0191, -0.2357, 0.0089, -0.2114, -0.0514, 0.1393, -0.028, 0.0312, -0.0424,
     -0.194, 0.1921, -0.0185, -0.0499, 0.112, 0.0547, 0.2477, -0.0509, 0.05, -0.0247,
     0.0064, 0.3247, -0.1502, -0.1923, 0.0578, -0.0617, -0.0834, -0.1128, -0.1018, 0.1069,
     0.0653, -0.009, 0.0712, 0.064, -0.0047, 0.1978, 0.111, 0.2692, -0.0999, 0.1399,
     0.0007, 0.0441, 0.242, -0.1609, -0.0137, 0.0768, 0.2023, 0.0543, 0.0291, 0.1077,
     -0.223, 0.07, 0.0619, -0.0621],
    [-0.1456, -0.1689, 0.0574, -0.1204, 0.1915, -0.0748, 0.0045, 0.2113, -0.0048, 0.1793,
     0.0359, -0.0142, 0.0534, 0.0516, 0.1039, -0.0503, 0.0971, -0.1677, 0.1543, 0.1986,
     0.0812, -0.1234, 0.008, 0.0462, -0.104, 0.2176, -0.1253, -0.0155, -0.1095, 0.1068,
     -0.0267, -0.1059, 0.2433, -0.0143, 0.123, -0.0794, 0.1342, 0.0264, 0.0662, -0.0125,
     0.0285, 0.1443, -0.1137, 0.0751, -0.0637, -0.1448, 0.1346, -0.3116, 0.0107, -0.0341,
     0.1314, -0.0314, 0.231, -0.0668, -0.1411, -0.2218, 0.0583, 0.0079, 0.1116, -0.0913,
     0.058, 0.1783, -0.226, -0.1314],
]


def fit_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    seed: int = 7,
) -> np.ndarray:
    """Production centroid fit: the IVF coarse-quantizer fitter
    (deterministic hash-sampled ~40k vectors → seeded numpy Lloyd's,
    cost independent of |df| beyond the sample scan). Returns a
    unit-normalized (k × dim) float64 matrix."""
    n, dim = df.agg(
        F.count(F.lit(1)).alias("n"), F.max(F.size(vec_col)).alias("d")
    ).first()
    unit = with_unit_vector(
        df.select(F.col(id_col).alias("vec_id"), vec_col), vec_col
    )
    return _centroid_matrix(unit, k, seed, method="kmeans", n=n, dim=dim)


def _sims_array_literal(C: np.ndarray, round_dp: int) -> F.Column:
    """Cosine-to-each-centroid as a JVM array column over ``__unit`` —
    one literal-array dot per centroid, whole-stage-codegen friendly."""
    return F.array(
        *[
            F.round(
                _dot(F.col("__unit"), F.array(*[F.lit(float(x)) for x in c])),
                round_dp,
            )
            for c in C
        ]
    )


def _with_assignment(
    unit: DataFrame,
    C: np.ndarray,
    round_dp: int,
    literal_max_elems: int,
    cluster_col: str,
    cos_col: str,
) -> DataFrame:
    """Adds (cluster_col int, cos_col double) to a frame carrying
    ``__unit``. Literal-JVM path for small k·dim; Arrow-batched numpy
    closure above it (a 50k × 768 centroid matrix does not belong in
    the plan as literals). Both paths: round to ``round_dp`` first,
    argmax ties break to the lowest centroid index."""
    if C.size <= literal_max_elems:
        sims = _sims_array_literal(C, round_dp)
        return (
            unit.withColumn("__sims", sims)
            .withColumn(
                cluster_col,
                (F.array_position("__sims", F.array_max("__sims")) - 1).cast("int"),
            )
            .withColumn(cos_col, F.array_max("__sims"))
            .drop("__sims")
        )

    CT = C.T.copy()
    # Cap any single GEMM/rounding temporary at ~256 MB (32M float64):
    # at LAION-scale k the full-batch similarity matrix would be
    # batch×k×8 bytes PER WORKER (4 GB at k=50k, batch=10k) × 32
    # workers — chunking rows keeps peak memory flat in k.
    chunk_rows = max(1, (1 << 25) // max(CT.shape[1], 1))

    @F.pandas_udf(f"struct<{cluster_col}:int, {cos_col}:double>")
    def assign(units: pd.Series) -> pd.DataFrame:
        X = np.vstack(units.to_numpy())
        # HALF_UP rounding to match F.round on the literal path, the
        # kmeans_python twin, and the DuckDB oracle — np.round is
        # half-to-even and would flip an exact .5 tie (ADVICE r8).
        # In-place trunc(x·p + ±0.5) form, bit-identical to the
        # where(floor/floor) spelling incl. signed zeros but with ONE
        # float temporary instead of six: the dense double-branch
        # where() made the kernel allocation-bound — cost exploded
        # ~12× at large batch×k and went wildly unstable under 32-way
        # parallelism (tools/semdedup_k_probe.py@72b9015, r9).
        p = float(10**round_dp)
        labs = np.empty(len(X), dtype="int32")
        coss = np.empty(len(X), dtype="float64")
        for s in range(0, len(X), chunk_rows):
            R = X[s : s + chunk_rows] @ CT
            half = np.where(R >= 0, 0.5, -0.5)
            R *= p
            R += half
            np.trunc(R, out=R)
            R /= p
            lab = R.argmax(axis=1)  # numpy argmax: FIRST max — lowest index
            labs[s : s + len(lab)] = lab
            coss[s : s + len(lab)] = R[np.arange(len(lab)), lab]
        return pd.DataFrame({cluster_col: labs, cos_col: coss})

    tmp = unit.withColumn("__asg", assign(F.col("__unit").cast("array<double>")))
    return tmp.select("*", f"__asg.{cluster_col}", f"__asg.{cos_col}").drop("__asg")


def assign_clusters(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: Sequence[Sequence[float]] | np.ndarray,
    round_dp: int = 6,
    cluster_col: str = "cluster",
    cos_col: str = "cos_to_centroid",
    literal_max_elems: int = 32_768,
) -> DataFrame:
    """Nearest-centroid assignment by cosine: df + (cluster_col,
    cos_col). Centroids need not be unit — normalized here. Zero
    shuffle; JVM-only below ``literal_max_elems`` total centroid
    elements."""
    C = _unit_norms(np.asarray(centroids, dtype="float64"))
    unit = with_unit_vector(df, vec_col)
    return _with_assignment(
        unit, C, round_dp, literal_max_elems, cluster_col, cos_col
    ).drop("__unit")


def semdedup_labels(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    centroids: Sequence[Sequence[float]] | np.ndarray,
    round_dp: int = 6,
    literal_max_elems: int = 32_768,
) -> DataFrame:
    """Full audit frame: one row per input id with
    (id_col, cluster, cos_to_centroid, component, survivor).

    component = min id over the within-cluster cosine>=threshold
    connected group; survivor = True on the group's kept row (lowest
    rounded cos-to-centroid, then lowest id — paper §2 election).
    """
    C = _unit_norms(np.asarray(centroids, dtype="float64"))
    unit = with_unit_vector(df.select(id_col, vec_col), vec_col)
    asg = _with_assignment(
        unit, C, round_dp, literal_max_elems, "cluster", "cos_to_centroid"
    )

    sel = asg.select(
        F.col(id_col), F.col("cluster"), F.col("cos_to_centroid"), F.col("__unit")
    ).localCheckpoint(eager=False)

    a = sel.select(
        F.col(id_col).alias("id_a"),
        F.col("cluster").alias("__c"),
        F.col("__unit").alias("__ua"),
    )
    b = sel.select(
        F.col(id_col).alias("id_b"),
        F.col("cluster").alias("__c"),
        F.col("__unit").alias("__ub"),
    )
    edges = (
        a.join(b, "__c")  # equi-join on the int cluster id — hash, never cartesian
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("__sim", F.round(_dot(F.col("__ua"), F.col("__ub")), round_dp))
        .filter(F.col("__sim") >= threshold)
        .select("id_a", "id_b")
    )

    nodes = sel.select(F.col(id_col).alias("node"))
    labels = min_id_components(nodes, edges)  # (node, label)

    lab = labels.join(
        sel.select(
            F.col(id_col).alias("node"), F.col("cluster"), F.col("cos_to_centroid")
        ),
        "node",
    )
    # Paper election: keep the group's LEAST prototypical member.
    # min_by over struct(cos, id) — map-side combinable, one shuffle on
    # the component label (fixed-width), ids only.
    winners = lab.groupBy("label").agg(
        F.min_by("node", F.struct("cos_to_centroid", "node")).alias("__keep")
    )
    return (
        lab.join(winners, "label")
        .select(
            F.col("node").alias(id_col),
            "cluster",
            "cos_to_centroid",
            F.col("label").alias("component"),
            (F.col("node") == F.col("__keep")).alias("survivor"),
        )
    )


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    centroids: int | Sequence[Sequence[float]] | np.ndarray = 8,
    seed: int = 7,
    round_dp: int = 6,
    literal_max_elems: int = 32_768,
    fit: str = "sample",
    fit_kwargs: dict | None = None,
) -> DataFrame:
    """Semantic dedup: returns the surviving rows, all columns intact.

    ``centroids``: an int k fits production centroids (deterministic
    for a given seed); an explicit vector sequence freezes assignment
    (the reproducible / oracle form). ``fit`` picks the trainer for
    the int form: ``"sample"`` = driver-local Lloyd on a hash sample
    (cost independent of corpus size — right when 40k vectors
    represent the corpus); ``"distributed"`` = full-corpus exact
    Lloyd (`operators/clustering.kmeans`, r8) for stratified/skewed
    corpora where the sample misses rare modes. ``fit_kwargs``
    forwards trainer knobs (``n_iter``, ``literal_max_elems``, ...) to
    the distributed fit; the caller's ``round_dp`` is ALWAYS forwarded
    so the fit and the labeling round identically (ADVICE r8 — a fit
    at 6dp under labeling at another dp broke the determinism
    contract's symmetry).
    """
    if isinstance(centroids, (int, np.integer)):
        if fit == "distributed":
            from waterdata_spark.operators.clustering import kmeans

            kw = {"n_iter": 8, "round_dp": round_dp, **(fit_kwargs or {})}
            model, _ = kmeans(
                df, id_col, vec_col, k=int(centroids), seed=seed, **kw
            )
            centroids = model.centroids
        elif fit == "sample":
            centroids = fit_centroids(df, id_col, vec_col, int(centroids), seed=seed)
        else:
            raise ValueError(f"unknown fit mode {fit!r}")
    elif fit_kwargs:
        raise ValueError("fit_kwargs only applies when centroids is an int k")
    labels = semdedup_labels(
        df,
        id_col,
        vec_col,
        threshold,
        centroids,
        round_dp=round_dp,
        literal_max_elems=literal_max_elems,
    )
    keep = labels.filter(F.col("survivor")).select(F.col(id_col))
    return df.join(keep, id_col, "left_semi")
