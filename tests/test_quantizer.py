"""The quantizer registry (index/quantizer.py): the centroid-independence
invariant the batch paths' min/first dedup relies on, the dedup sites'
refusal of entries that break it, and the single lookup's refusal of
unknown names."""

import copy

import numpy as np
import pytest
from pyspark.sql import functions as F

from muopdb_spark.index.quantizer import QUANTIZERS, SQ_GLOBAL

DIM = 4

ENTRIES = {**QUANTIZERS, "sq-single-user": SQ_GLOBAL}


@pytest.fixture(scope="module")
def postings(spark):
    rng = np.random.default_rng(3)
    rows = [
        (user, user * 100 + i, [float(x) for x in rng.normal(user * 10.0, 1.0, DIM)])
        for user in (0, 1) for i in range(30)
    ]
    return spark.createDataFrame(
        rows, "user_id long, id long, vector array<double>"
    ).cache()


@pytest.mark.parametrize("name", list(ENTRIES))
def test_codes_independent_of_centroid(postings, name):
    """A multi-assigned vector is posted under several centroids; the
    min/first dedup of the shared ranking tail (multi_ivf.rank, behind
    every ivf / multi_ivf search and Collection.ann_search) keeps one
    copy, which is exact only when the copies carry identical codes.
    Encode the same vectors under two centroid ids and compare every
    code column."""
    q = ENTRIES[name]
    assert q.codes_centroid_independent
    book = q.train(postings, num_subvectors=2, num_centers=4)

    def encoded(cid):
        df = postings.withColumn("centroid_id", F.lit(cid))
        return sorted(
            q.encode(df, book).drop("centroid_id").collect(),
            key=lambda r: r["id"],
        )

    a, b = encoded(0), encoded(1)
    assert len(a) == postings.count() and a == b


def test_dedup_sites_refuse_centroid_dependent_codes(spark, tmp_path, monkeypatch):
    from muopdb_spark.catalog import Collection, CollectionConfig
    from muopdb_spark.index.ivf import IvfIndex, ivf_search, ivf_search_batch
    from muopdb_spark.index.multi_ivf import (
        MultiIvfIndex,
        multi_ivf_search_batch,
        multi_ivf_search_users,
    )

    residual = copy.copy(QUANTIZERS["pq"])
    residual.codes_centroid_independent = False
    monkeypatch.setitem(QUANTIZERS, "pq", residual)
    with pytest.raises(ValueError, match="centroid"):
        ivf_search(IvfIndex(None, None, quantizer="pq"), [0.0] * DIM, 5)
    with pytest.raises(ValueError, match="centroid"):
        ivf_search_batch(IvfIndex(None, None, quantizer="pq"), None, 5)
    with pytest.raises(ValueError, match="centroid"):
        multi_ivf_search_users(MultiIvfIndex(None, None, quantizer="pq"), [0], [0.0] * DIM, 5)
    with pytest.raises(ValueError, match="centroid"):
        multi_ivf_search_batch(MultiIvfIndex(None, None, quantizer="pq"), None, 5)
    col = Collection(spark, str(tmp_path), CollectionConfig(
        name="c", num_features=DIM, quantizer="pq"))
    with pytest.raises(ValueError, match="centroid"):
        col.ann_search([0], [0.0] * DIM, 5)


def test_unknown_quantizer_refused_by_the_lookup():
    from muopdb_spark.catalog import CollectionConfig
    from muopdb_spark.index.ivf import build_ivf
    from muopdb_spark.index.multi_ivf import build_multi_ivf

    with pytest.raises(ValueError, match="unknown quantizer 'wat'"):
        CollectionConfig(name="x", num_features=DIM, quantizer="wat").validate()
    with pytest.raises(ValueError, match="unknown quantizer 'wat'"):
        build_ivf(None, quantizer="wat")
    with pytest.raises(ValueError, match="unknown quantizer 'wat'"):
        build_multi_ivf(None, quantizer="wat")
    # per-user codebooks need a user column: not a single-user ivf reading
    with pytest.raises(ValueError, match="multi-user"):
        build_ivf(None, quantizer="pq_user")
