"""Measure ANN recall@k against the exact brute-force baseline.

Usage: python tools/ann_recall.py [sf_dir] [centroids_method ...]

For each requested centroid method ('kmeans', 'seeded') prints
recall@5 of cosine_topk_ivf_blocked at the default geometry
(n_cells=16, n_probe=4), a probe=8 variant, and the documented
high-recall operating point (probe=8, n_assign=2 — data-side
multi-assignment), measured on the embeddings table:
|approx ∩ exact| / |exact|.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from waterdata_spark.operators.similarity import (  # noqa: E402
    cosine_topk_bruteforce,
    cosine_topk_ivf_blocked,
)
from waterdata_spark.schemas import load_table  # noqa: E402
from waterdata_spark.session import get_spark  # noqa: E402


def recall_at_k(exact, approx) -> float:
    hits = exact.join(approx, ["vec_id", "neighbor_id"], "left_semi").count()
    total = exact.count()
    return hits / total


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    methods = sys.argv[2:] or ["kmeans", "seeded"]
    spark = get_spark()
    emb = load_table(spark, sf_dir, "embeddings")
    exact = cosine_topk_bruteforce(emb, k=5, sim_col=None).filter(F.col("rank") <= 5)
    exact = exact.localCheckpoint()
    for method in methods:
        for n_probe, n_assign in ((4, 1), (8, 1), (8, 2)):
            approx = cosine_topk_ivf_blocked(
                emb,
                k=5,
                n_cells=16,
                n_probe=n_probe,
                sim_col=None,
                centroids=method,
                n_assign=n_assign,
            )
            r = recall_at_k(exact, approx)
            print(
                f"recall@5 centroids={method} cells=16 probe={n_probe} assign={n_assign}: {r:.3f}"
            )


if __name__ == "__main__":
    main()
