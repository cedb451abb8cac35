"""Distance / score Column expressions.

Score model follows the reference: LOWER score = MORE similar, always
(rs/config/src/enums.rs:21-26 DistanceType; rs/utils/src/distance/
dot_product.rs:18-27 explains the dot-product negation). L2 is
sqrt(sum((a-b)^2)) (rs/utils/src/distance/l2.rs:70-99).

All expressions are pure Column math (zip_with + aggregate), so they run
JVM-side inside whole-stage codegen — no Python in the hot path. Math is
done in DOUBLE regardless of the input element type so results are
stable across array<float> storage. score_np is the numpy twin for
small matrices scored on the driver, equal to score_expr bit for bit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column | str) -> Column:
    c = F.col(v) if isinstance(v, str) else v
    return c.cast("array<double>")


def _fsum(arr: Column) -> Column:
    # left-fold sum in array order (deterministic)
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def l2_squared(a: Column | str, b: Column | str) -> Column:
    a, b = _as_double(a), _as_double(b)
    return _fsum(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)))


def l2_distance(a: Column | str, b: Column | str) -> Column:
    """Euclidean distance — the reference's default score."""
    return F.sqrt(l2_squared(a, b))


def dot_product(a: Column | str, b: Column | str) -> Column:
    a, b = _as_double(a), _as_double(b)
    return _fsum(F.zip_with(a, b, lambda x, y: x * y))


def neg_dot_distance(a: Column | str, b: Column | str) -> Column:
    """Negated dot product so lower = closer (dot_product.rs:18-27)."""
    return -dot_product(a, b)


def _norm(a: Column) -> Column:
    return F.sqrt(_fsum(F.transform(a, lambda x: x * x)))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    a, b = _as_double(a), _as_double(b)
    return dot_product(a, b) / (_norm(a) * _norm(b))


def cosine_distance(a: Column | str, b: Column | str) -> Column:
    return F.lit(1.0) - cosine_similarity(a, b)


def cosine_similarity_batch(a: Column | str, b: Column | str) -> Column:
    """Arrow-batched numpy cosine for HIGH-VOLUME pair verification
    (millions of candidate pairs): row-wise vectorized Σab/√(Σa²Σb²).
    The Column-expression twin (cosine_similarity) is exact and oracle-
    matched but evaluates higher-order functions interpreted per row —
    use this one when the pair count, not the row width, dominates."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def _cos(va, vb):
        A = np.array(va.tolist(), dtype=np.float64)
        B = np.array(vb.tolist(), dtype=np.float64)
        num = (A * B).sum(axis=1)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            return pd.Series(num / den)

    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return _cos(ca.cast("array<double>"), cb.cast("array<double>"))


_DISTANCES = {
    "l2": l2_distance,
    "l2_squared": l2_squared,
    "dot": neg_dot_distance,
    "cosine": cosine_distance,
}


def score_expr(metric: str, a: Column | str, b: Column | str) -> Column:
    """Named distance registry — the Spark analog of the reference's
    compile-time `DistanceCalculator` plug-in trait (rs/utils/src/lib.rs:17-36).
    """
    try:
        return _DISTANCES[metric](a, b)
    except KeyError:
        raise ValueError(f"unknown distance metric {metric!r}; choose from {sorted(_DISTANCES)}")


def _fold(t: np.ndarray) -> np.ndarray:
    # _fsum per row: a sequential left fold from 0.0 (cumsum never
    # regroups, unlike np.sum's pairwise sum)
    return np.cumsum(np.hstack([np.zeros((len(t), 1)), t]), axis=1)[:, -1]


def score_np(metric: str, matrix, q) -> np.ndarray:
    """score_expr(metric, row, q) for every row of `matrix`, on the
    driver and bit for bit: the same double operations in the same
    order. A zero norm under cosine raises, as Spark's ANSI division
    does (DIVIDE_BY_ZERO), rather than giving NaN."""
    if metric not in _DISTANCES:
        raise ValueError(f"unknown distance metric {metric!r}; choose from {sorted(_DISTANCES)}")
    a = np.asarray(matrix, dtype=np.float64)
    b = np.asarray(q, dtype=np.float64)[None, :]
    if metric in ("l2", "l2_squared"):
        d = _fold((a - b) * (a - b))
        return np.sqrt(d) if metric == "l2" else d
    dot = _fold(a * b)
    if metric == "dot":
        return -dot
    den = np.sqrt(_fold(a * a)) * np.sqrt(_fold(b * b))
    if (den == 0).any():
        raise ValueError("cosine distance of a zero-norm vector (division by zero)")
    return 1.0 - dot / den
