import math

import pytest
from pyspark.sql import functions as F

from muopdb_spark.functions.distance import (
    cosine_similarity,
    dot_product,
    l2_distance,
    l2_squared,
    neg_dot_distance,
    score_expr,
)


@pytest.fixture(scope="module")
def pairs(spark):
    rows = [
        (1, [0.0, 0.0, 0.0], [3.0, 4.0, 0.0]),
        (2, [1.0, 2.0, 3.0], [1.0, 2.0, 3.0]),
        (3, [1.0, 0.0, 0.0], [0.0, 1.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "id long, a array<float>, b array<float>")


def _one(df, col, rid):
    return df.filter(F.col("id") == rid).select(col.alias("v")).first()["v"]


def test_l2(pairs):
    assert _one(pairs, l2_distance("a", "b"), 1) == pytest.approx(5.0)
    assert _one(pairs, l2_distance("a", "b"), 2) == pytest.approx(0.0)
    assert _one(pairs, l2_squared("a", "b"), 1) == pytest.approx(25.0)


def test_dot_negation(pairs):
    # lower = closer: identical vectors give the most negative score
    assert _one(pairs, dot_product("a", "b"), 2) == pytest.approx(14.0)
    assert _one(pairs, neg_dot_distance("a", "b"), 2) == pytest.approx(-14.0)
    assert _one(pairs, neg_dot_distance("a", "b"), 3) == pytest.approx(0.0)


def test_cosine(pairs):
    assert _one(pairs, cosine_similarity("a", "b"), 2) == pytest.approx(1.0)
    assert _one(pairs, cosine_similarity("a", "b"), 3) == pytest.approx(0.0)


def test_registry(pairs):
    assert _one(pairs, score_expr("l2", "a", "b"), 1) == pytest.approx(5.0)
    with pytest.raises(ValueError):
        score_expr("hamming", "a", "b")


def test_nan_sorts_last(spark):
    # ordering contract utils.rs:95-113: NaN last in ascending order
    df = spark.createDataFrame(
        [(1, float("nan")), (2, 0.5), (3, 2.0)], "id long, score double"
    )
    got = [r["id"] for r in df.orderBy(F.col("score").asc_nulls_last(), "id").collect()]
    assert got == [2, 3, 1]


@pytest.mark.parametrize("metric", ["l2", "l2_squared", "dot", "cosine"])
def test_score_np_equals_score_expr_bit_for_bit(spark, metric):
    import numpy as np

    from muopdb_spark.functions.distance import score_np

    rng = np.random.default_rng(7)
    stored = (rng.standard_normal((200, 16)) * 3).astype(np.float32)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(stored)], "id long, a array<float>")
    for q in rng.standard_normal((3, 16)) * 2:
        qv = F.lit([float(x) for x in q]).cast("array<double>")
        rows = df.select("id", score_expr(metric, "a", qv).alias("d")).orderBy("id").collect()
        spark_d = np.array([r["d"] for r in rows])
        np_d = score_np(metric, stored.astype(np.float64), q)
        assert spark_d.dtype == np_d.dtype == np.float64
        assert (spark_d == np_d).all(), np.flatnonzero(spark_d != np_d)


def test_score_np_refuses_zero_norm_cosine(spark):
    import numpy as np

    from muopdb_spark.functions.distance import score_np

    df = spark.createDataFrame([([0.0, 0.0],)], "a array<float>")
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        df.select(score_expr("cosine", "a", F.lit([1.0, 2.0]))).collect()
    with pytest.raises(ValueError, match="zero-norm"):
        score_np("cosine", np.zeros((1, 2)), [1.0, 2.0])
    with pytest.raises(ValueError, match="zero-norm"):
        score_np("cosine", np.ones((3, 2)), [0.0, 0.0])
    with pytest.raises(ValueError, match="unknown distance metric"):
        score_np("hamming", np.ones((1, 2)), [1.0, 1.0])
