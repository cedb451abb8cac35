"""IVF index build + two-phase ANN search: recall on seeded clustered
vectors (the reference's recall-dataset recipe — py/create_test_hdf5.py:
clusters at i*100, sigma 5, seed 42 — ground truth by construction) and
exactness when probing everything."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from muopdb_spark.index.ivf import build_ivf, ivf_search, probe_centroids
from muopdb_spark.operators.knn import knn


N_CLUSTERS, PER_CLUSTER, DIM = 6, 80, 8


@pytest.fixture(scope="module")
def clustered(spark):
    rng = np.random.default_rng(42)
    rows = []
    for c in range(N_CLUSTERS):
        center = np.full(DIM, c * 100.0)
        pts = center + rng.normal(0, 5.0, size=(PER_CLUSTER, DIM))
        for j, p in enumerate(pts):
            rows.append((c * PER_CLUSTER + j, c, [float(x) for x in p]))
    df = spark.createDataFrame(rows, "vec_id long, true_cluster int, embedding array<float>")
    return df.cache()


@pytest.fixture(scope="module")
def index(clustered):
    return build_ivf(clustered, num_centroids=N_CLUSTERS, seed=7)


def test_centroids_discovered(index):
    # k-means on well-separated clusters must find one centroid per blob
    centers = sorted(round(r["centroid"][0] / 100) for r in index.centroids.collect())
    assert centers == list(range(N_CLUSTERS))


def test_postings_cover_all_points(index, clustered):
    assert index.postings.select("id").distinct().count() == clustered.count()


def test_probe_ratio_prune(index):
    # query at cluster-2 center: nearest centroid dominates; ratio prune
    # should cut the probe list to 1
    q = [200.0] * DIM
    probed = probe_centroids(index, q, num_probes=3, centroid_distance_ratio=0.1)
    assert len(probed) == 1
    probed_all = probe_centroids(index, q, num_probes=3, centroid_distance_ratio=None)
    assert len(probed_all) == 3


def test_recall_at_10_is_1(index, clustered):
    # same-cluster neighbors are ground truth by construction
    rng = np.random.default_rng(1)
    for c in (0, 3, 5):
        q = (np.full(DIM, c * 100.0) + rng.normal(0, 5.0, DIM)).tolist()
        exact = [r["vec_id"] for r in knn(clustered, q, 10, id_col="vec_id").collect()]
        approx = [r["id"] for r in ivf_search(index, q, 10, num_probes=2).collect()]
        recall = len(set(exact) & set(approx)) / 10
        assert recall == 1.0, f"cluster {c}: recall {recall}"


def test_full_probe_equals_exact(index, clustered):
    # probing every centroid with no ratio prune makes the two-phase plan
    # EXACT — same contract as brute force, any centroid layout
    q = [37.0] * DIM
    exact = knn(clustered, q, 15, id_col="vec_id").collect()
    approx = ivf_search(
        index, q, 15, num_probes=N_CLUSTERS, centroid_distance_ratio=None
    ).collect()
    assert [r["id"] for r in approx] == [r["vec_id"] for r in exact]
    for a, e in zip(approx, exact):
        assert a["score"] == pytest.approx(e["score"], rel=1e-12)


def test_pq_in_scan_and_exact_rerank(clustered):
    """quantizer='pq': the posting scan scores ADC on codes; with rerank
    the final top-k is EXACT (full probe + generous candidate pool), so
    it must equal brute force — the v11 contract query's recipe."""
    idx = build_ivf(clustered, num_centroids=N_CLUSTERS, seed=7,
                    quantizer="pq", pq_subvectors=4, pq_centers=16)
    assert "pq_code" in idx.postings.columns and idx.codebook is not None
    q = [205.0] * DIM
    exact = knn(clustered, q, 10, id_col="vec_id").collect()
    df = ivf_search(idx, q, 10, num_probes=N_CLUSTERS,
                    centroid_distance_ratio=None, rerank=100)
    # the index ranks as one constant user, yet its candidates never
    # meet in one task: the dedup hashes them on id
    plan = df._jdf.queryExecution().executedPlan().toString().split("InMemoryRelation")[0]
    assert "SinglePartition" not in plan, plan
    assert re.search(r"Exchange hashpartitioning\([^)]*\bid#", plan), plan
    got = df.collect()
    assert [r["id"] for r in got] == [r["vec_id"] for r in exact]
    for a, e in zip(got, exact):
        assert a["score"] == pytest.approx(e["score"], rel=1e-12)
    # without rerank: ADC scores are approximate — within a tight
    # cluster the coded distances can't micro-rank neighbors, but every
    # returned point must come from the true (cluster-2) blob
    adc = ivf_search(idx, q, 10, num_probes=N_CLUSTERS,
                     centroid_distance_ratio=None).collect()
    cluster2 = set(range(2 * PER_CLUSTER, 3 * PER_CLUSTER))
    assert {r["id"] for r in adc} <= cluster2


def test_rabitq_in_scan_and_exact_rerank(clustered, tmp_path):
    """quantizer='rabitq': the posting scan scores the binary estimator
    on the stored bit codes; with rerank the final top-k is EXACT (full
    probe + generous pool), so it must equal brute force. Also exercises
    the durable save/load roundtrip with a RaBitQ codebook."""
    from muopdb_spark.index.ivf import ivf_load, ivf_save

    idx = build_ivf(clustered, num_centroids=N_CLUSTERS, seed=7, quantizer="rabitq")
    assert {"rq_code", "rq_norm", "rq_ip"} <= set(idx.postings.columns)
    q = [205.0] * DIM
    exact = knn(clustered, q, 10, id_col="vec_id").collect()
    got = ivf_search(idx, q, 10, num_probes=N_CLUSTERS,
                     centroid_distance_ratio=None, rerank=100).collect()
    assert [r["id"] for r in got] == [r["vec_id"] for r in exact]
    for a, e in zip(got, exact):
        assert a["score"] == pytest.approx(e["score"], rel=1e-12)

    path = str(tmp_path / "rq_idx")
    ivf_save(idx, path)
    loaded = ivf_load(clustered.sparkSession, path)
    assert loaded.quantizer == "rabitq"
    again = ivf_search(loaded, q, 10, num_probes=N_CLUSTERS,
                       centroid_distance_ratio=None, rerank=100).collect()
    assert [(r["id"], r["score"]) for r in again] == [
        (r["id"], r["score"]) for r in got
    ]


def test_save_load_round_trip(index, clustered, tmp_path):
    """Durable index artifact: save -> load in a fresh handle -> same
    results, no rebuild (reader.rs reopen contract)."""
    from muopdb_spark.index.ivf import ivf_load, ivf_save

    path = str(tmp_path / "ivf_idx")
    ivf_save(index, path)
    loaded = ivf_load(clustered.sparkSession, path)
    q = [37.0] * DIM
    a = ivf_search(index, q, 10, num_probes=N_CLUSTERS,
                   centroid_distance_ratio=None).collect()
    b = ivf_search(loaded, q, 10, num_probes=N_CLUSTERS,
                   centroid_distance_ratio=None).collect()
    assert [(r["id"], r["score"]) for r in a] == [(r["id"], r["score"]) for r in b]


def test_recursive_split_bounds_posting_size(clustered):
    idx = build_ivf(
        clustered, num_centroids=2, seed=7, max_posting_size=150, split_rounds=6,
    )
    sizes = [r["count"] for r in idx.postings.groupBy("centroid_id").count().collect()]
    assert max(sizes) <= 150
    # every point still present exactly once across postings (max 1 assign)
    assert idx.postings.count() == clustered.count()


@pytest.mark.slow
def test_recursive_split_training_is_bounded(clustered, monkeypatch):
    """V7 scale contract (r16): re-clustering an oversized posting list
    must fit from a bounded pre-sample, never materialize the whole
    list on the driver (ivf/builder.rs:500-535 re-clusters from the
    bounded kmeans training sample too). A whale posting list at 100 TB
    is exactly the list being split — collecting it is the OOM.
    Pins: (a) every split-path _fit_kmeans call receives
    <= training_sample rows, (b) the cap tripwire is armed, (c) the
    split still converges under the sample."""
    import muopdb_spark.index.ivf as ivf_mod

    cap = 60  # far below the oversized list (~480 rows in one blob)
    calls = []
    orig = ivf_mod._fit_kmeans

    def spy(df, vec_col, k, seed, max_iter, cap=None):
        rows = df.count()
        calls.append((rows, cap))
        return orig(df, vec_col, k, seed, max_iter, cap=cap)

    monkeypatch.setattr(ivf_mod, "_fit_kmeans", spy)
    # num_centroids=1 forces ONE centroid over all 6 blobs -> a single
    # ~480-row posting list, 8x the training cap
    idx = ivf_mod.build_ivf(
        clustered, num_centroids=1, seed=7, training_sample=cap,
        max_posting_size=150, split_rounds=8,
    )
    split_calls = [(r, c) for r, c in calls[1:]]  # calls[0] = initial fit
    assert split_calls, "split path never ran"
    assert all(c == cap for _, c in split_calls)  # tripwire armed
    assert all(r <= cap for r, _ in split_calls)  # bounded collect
    # convergence: the split still drives every posting under the max
    sizes = [r["count"] for r in
             idx.postings.groupBy("centroid_id").count().collect()]
    assert max(sizes) <= 150
    assert idx.postings.count() == clustered.count()
    # determinism: the seeded sample makes rebuilds reproducible
    again = ivf_mod.build_ivf(
        clustered, num_centroids=1, seed=7, training_sample=cap,
        max_posting_size=150, split_rounds=8,
    )
    assert sorted(
        (r["centroid_id"], r["id"])
        for r in idx.postings.select("centroid_id", "id").collect()
    ) == sorted(
        (r["centroid_id"], r["id"])
        for r in again.postings.select("centroid_id", "id").collect()
    )


def test_multi_assignment_closure(clustered):
    idx = build_ivf(
        clustered, num_centroids=N_CLUSTERS, seed=7,
        distance_threshold=30.0, max_clusters_per_vector=3,
    )
    # with a huge threshold, points multi-assign -> more posting entries
    assert idx.postings.count() > clustered.count()
    # search still dedups: top-k ids unique
    out = ivf_search(idx, [0.0] * DIM, 10, num_probes=3).collect()
    ids = [r["id"] for r in out]
    assert len(ids) == len(set(ids)) == 10


@pytest.mark.slow
def test_batch_search_one_plan_matches_per_query(index, clustered, spark):
    """ivf_search_batch: N queries in one plan must equal N single-query
    ivf_search results — both for the exact full-probe config and the
    pruned production config."""
    import numpy as np

    from muopdb_spark.index.ivf import ivf_search_batch

    rng = np.random.default_rng(3)
    qs = [
        (c, (np.full(DIM, c * 100.0) + rng.normal(0, 5.0, DIM)).tolist())
        for c in range(N_CLUSTERS)
    ]
    queries = spark.createDataFrame(
        qs, "query_id long, query_vector array<double>"
    )
    for cfg in (
        dict(num_probes=N_CLUSTERS, centroid_distance_ratio=None),
        dict(num_probes=2, centroid_distance_ratio=0.5),
    ):
        batch = ivf_search_batch(index, queries, 10, **cfg).collect()
        got = {}
        for r in batch:
            got.setdefault(r["query_id"], []).append((r["id"], r["score"]))
        for qid, qv in qs:
            single = [
                (r["id"], r["score"])
                for r in ivf_search(index, qv, 10, **cfg).collect()
            ]
            assert got[qid] == single, f"query {qid} cfg {cfg}"


# two cases run in the default tier, so it sees the shared ranking
# tail's quantized branch with and without the exact re-score
@pytest.mark.parametrize("quantizer,rerank", [
    pytest.param(quant, rerank, marks=() if (quant, rerank) in (
        ("pq", 50), ("sq", None)) else pytest.mark.slow)
    for quant in ("pq", "opq", "rabitq", "sq") for rerank in (None, 50)
])
def test_batch_search_quantized_matches_per_query(clustered, spark, quantizer, rerank):
    """Quantized batch path (each registry entry's batch score Column
    wired into ivf_search_batch), for every quantizer a single-user ivf
    index accepts: N queries in one plan must equal N single-query
    ivf_search results for the SAME index, with and without exact
    re-rank — the batch estimator and per-query estimator score the
    same codes, so the results must be identical."""
    import numpy as np

    from muopdb_spark.index.ivf import ivf_search_batch

    idx = build_ivf(clustered, num_centroids=N_CLUSTERS, seed=7,
                    quantizer=quantizer, pq_subvectors=4, pq_centers=16)
    rng = np.random.default_rng(11)
    qs = [
        (c, (np.full(DIM, c * 100.0) + rng.normal(0, 5.0, DIM)).tolist())
        for c in (0, 2, 5)
    ]
    queries = spark.createDataFrame(
        qs, "query_id long, query_vector array<double>"
    )
    cfg = dict(num_probes=N_CLUSTERS, centroid_distance_ratio=None,
               rerank=rerank, score_decimals=6)
    batch = ivf_search_batch(idx, queries, 10, **cfg).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append((r["id"], r["score"]))
    for qid, qv in qs:
        single = [
            (r["id"], r["score"])
            for r in ivf_search(idx, qv, 10, **cfg).collect()
        ]
        assert got[qid] == single, f"query {qid} {quantizer} rerank={rerank}"


def test_batch_search_rejects_non_l2_quantized(clustered, spark):
    # quantized scoring is l2-only (both estimators are l2 estimators);
    # a non-l2 quantized index must still be rejected loudly
    import pytest as _pytest

    from muopdb_spark.index.ivf import ivf_search_batch

    idx = build_ivf(clustered, num_centroids=N_CLUSTERS, seed=7,
                    quantizer="pq", pq_subvectors=4, pq_centers=16)
    idx.metric = "dot"
    queries = spark.createDataFrame(
        [(0, [0.0] * DIM)], "query_id long, query_vector array<double>"
    )
    with _pytest.raises(ValueError):
        ivf_search_batch(idx, queries, 5)
