"""Int8 embedding quantization (extension X3 scale path).

At 100 TB an embedding corpus's dominant costs are storage and the
bytes a search shuffle moves. Symmetric per-vector int8 quantization
(`q = round(v / s)`, `s = max|v| / 127` — the standard scheme faiss'
``SQ8`` and every serving stack use) cuts both by ~4x [side-by-side
parquet measurement in tools/quantize_probe.py@72b9015] at a bounded cosine
error: for unit vectors the per-element error is ≤ s/2, so
``|cos_q - cos| ≤ sqrt(d) * max|u| / 127`` — about 0.01-0.02 at d=64.

Everything here is JVM-side expressions (zip_with / array_repeat /
transform — no Python in the plan; the scale rides ``array_repeat`` so
no lambda captures an outer aggregate, see with_unit_vector's O(d²)
note). The ANN integration is ASYMMETRIC search, the standard serving
shape: the big DATA side is stored int8 (4x smaller index, 4x fewer
shuffle bytes), queries stay full-precision, and the per-cell rerank
reconstructs float32 views batch-wise in numpy
(similarity.build_ivf_index(quantize=True)).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAX_I8 = 127


def with_quantized_vector(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "qvec",
    s_col: str = "qscale",
) -> DataFrame:
    """Add symmetric int8 quantization columns: ``q_col`` is
    array<tinyint> with ``round(v_i / s)``, ``s_col`` the per-vector
    scale ``max|v| / 127``. A zero vector quantizes to all-zeros with
    scale 0 (dequantizes back to zeros). Pure JVM expressions; the
    scale is broadcast per element via ``array_repeat`` so no lambda
    captures an aggregate (the O(d²) capture trap)."""
    v = F.col(vec_col)
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = (max_abs / F.lit(float(MAX_I8))).cast("double")
    q = F.zip_with(
        v,
        F.array_repeat(scale, F.size(v)),
        lambda x, s: F.when(s > 0, F.round(x.cast("double") / s))
        .otherwise(F.lit(0.0))
        .cast("tinyint"),
    )
    return df.withColumn(q_col, q).withColumn(s_col, scale)


def dequantize(q: Column | str, scale: Column | str) -> Column:
    """array<double> reconstruction ``q_i * scale`` (JVM-side)."""
    qc = F.col(q) if isinstance(q, str) else q
    sc = F.col(scale) if isinstance(scale, str) else scale
    return F.zip_with(
        qc, F.array_repeat(sc.cast("double"), F.size(qc)), lambda x, s: x.cast("double") * s
    )


def quantization_error(
    df: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Audit frame: the quantization columns (``qvec``/``qscale``) plus
    per-vector max absolute reconstruction error and its ratio to the
    theoretical half-step bound ``scale / 2`` (must be ≤ 1.0 up to
    float rounding — property-tested). One narrow pass, no shuffle."""
    qdf = with_quantized_vector(df, vec_col, "qvec", "qscale")
    err = F.zip_with(
        F.col(vec_col),
        dequantize("qvec", "qscale"),
        lambda a, b: F.abs(a.cast("double") - b),
    )
    max_err = F.array_max(err)
    return qdf.select(
        "*",
        max_err.alias("max_abs_err"),
        F.when(F.col("qscale") > 0, max_err / (F.col("qscale") / 2))
        .otherwise(F.lit(0.0))
        .alias("err_vs_bound"),
    )
