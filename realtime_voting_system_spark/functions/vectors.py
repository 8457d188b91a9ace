"""Vector math over ``array<float>`` embedding columns — built-in HOFs only.

``zip_with`` + ``aggregate`` run in the JVM; accumulation is left-to-right in
array-index order, which makes dot products bit-deterministic and matches
DuckDB's ``list_dot_product`` evaluation order (verified in tests).

Embeddings are cast float→double BEFORE any arithmetic (exact widening in
both engines) so products/sums are computed identically.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dnum_sql(v) -> str:
    """SQL text of ONE double literal. ``repr(float)`` is the shortest
    exact round-trip decimal and Spark's ``...D`` suffix parse is
    correctly rounded, so the parsed value is bit-identical to
    ``F.lit``. Non-finite values have no ``...D`` spelling (``infD`` /
    ``nanD`` are ParseExceptions) — they fall back to the CAST form the
    old ``F.lit`` path would have produced."""
    x = float(v)
    if math.isfinite(x):
        return f"{x!r}D"
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    return "CAST('-Infinity' AS DOUBLE)" if x < 0 else "CAST('Infinity' AS DOUBLE)"


def dlit_sql(vals) -> str:
    """SQL text of a literal array<double> (per-element ``dnum_sql``) —
    bit-identical to per-element ``F.lit``."""
    return "array(" + ",".join(dnum_sql(v) for v in vals) + ")"


def dlit_array(vals) -> Column:
    """Literal array<double> in ONE py4j call — plan-construction time,
    not execution, is what this buys (IVF plans embed dozens of such
    centroid arrays)."""
    return F.expr(dlit_sql(vals))


def dot_sql(a: str, b: str) -> str:
    """SQL text of the sequential-fold dot product — parses to the SAME
    analyzed tree as ``dot`` (ArrayAggregate over zip_with, 0.0 double
    seed, left-to-right accumulation), so results are bit-identical,
    while costing ONE py4j round trip instead of the dozens each
    Python-lambda HOF construction pays. The ANN constructors build
    dozens of these per plan; string assembly moved their driver-side
    construction from seconds to milliseconds (measured r11)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        "(acc, x) -> acc + x)"
    )


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (index order ⇒ deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """cos(a,b) = dot/(|a|*|b|) — each step a single correctly-rounded IEEE
    op in fixed order; bit-stable across engines given identical inputs.
    The divisor is guarded (``cos_from``)."""
    return cos_from(dot(a, b), norm(a), norm(b))


def cos_from(d: Column, na: Column, nb: Column) -> Column:
    """``d / greatest(na * nb, 1e-300)``, the zero guard of every cosine
    (IVF family included; DuckDB twin: plans.pipeline_ops._COS_SQL). On
    non-zero vectors it is the identity, the same single multiply, while
    an all-zero vector scores 0.0 against any vector, itself included,
    instead of raising DIVIDE_BY_ZERO under ANSI. The product is guarded,
    not each norm: 1e-300 * 1e-300 underflows to 0.0."""
    return d / F.greatest(na * nb, F.lit(1e-300))


def cos_sql(d: str, na: str, nb: str) -> str:
    """SQL text of ``cos_from``."""
    return f"{d} / greatest({na} * {nb}, {1e-300!r}D)"


def make_seq_fold():
    """Arrow-side twin of ``dot``: row-wise dot of two (rows × dim) float64
    matrices accumulated SEQUENTIALLY over dims (vectorized over rows).
    Each multiply/add is one correctly-rounded IEEE op in index order —
    bit-identical per row to the zip_with/aggregate HOF fold and DuckDB's
    list_dot_product, unlike BLAS matmul (pairwise summation). Returned as
    a nested closure so worker closures referencing it stay
    cloudpickle-self-contained (no package import on executors)."""

    def fold(X, Y):
        import numpy as np

        acc = np.zeros(X.shape[0])
        for d in range(X.shape[1]):
            acc = acc + X[:, d] * Y[:, d]
        return acc

    return fold


def seq_cosine_pandas(
    pairs,
    a_id: str = "id_a",
    b_id: str = "id_b",
    a_vec: str = "va",
    b_vec: str = "vb",
    out: str = "cos_sim",
):
    """cos over (a_id, b_id, a_vec, b_vec) rows via the sequential fold —
    the same correctly-rounded op sequence as ``cosine`` (bit-equal, ~10×
    faster than interpreted HOF eval on candidate sets)."""
    fold = make_seq_fold()

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            A = np.stack(pdf[a_vec].to_numpy()).astype(np.float64)
            B = np.stack(pdf[b_vec].to_numpy()).astype(np.float64)
            cos = fold(A, B) / (np.sqrt(fold(A, A)) * np.sqrt(fold(B, B)))
            yield pd.DataFrame(
                {a_id: pdf[a_id], b_id: pdf[b_id], out: cos}
            )

    return pairs.mapInPandas(gen, f"{a_id} long, {b_id} long, {out} double")
