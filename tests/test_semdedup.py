"""SemDeDup (operators/semdedup.py): removal semantics against a
numpy brute-force referee on synthetic near-duplicates, plus
assignment/determinism properties on the fixture embeddings."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from muopdb_spark.operators.semdedup import (
    cluster_assignments,
    semdedup,
    train_centroids,
)


def _norm(v):
    v = np.asarray(v, dtype=np.float64)
    return v / np.linalg.norm(v)


@pytest.fixture(scope="module")
def synth(spark):
    """Two tight clusters with planted near-dups + one singleton."""
    rng = np.random.default_rng(7)
    base_a = _norm(rng.normal(size=16))
    base_b = _norm(rng.normal(size=16))
    def pyfloats(v):
        return [float(x) for x in v]

    rows = []
    # ids 0..2: copies of A with tiny noise (pairwise cos ~ 1)
    for i in range(3):
        rows.append((i, pyfloats(_norm(base_a + 0.01 * rng.normal(size=16)))))
    # ids 10..11: copies of B
    for i in range(2):
        rows.append((10 + i, pyfloats(_norm(base_b + 0.01 * rng.normal(size=16)))))
    # id 20: far from both
    rows.append((20, pyfloats(_norm(rng.normal(size=16)))))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_removal_matches_bruteforce(spark, synth):
    t = 0.95
    out = {r.vec_id: r for r in semdedup(synth, k=3, threshold=t).collect()}
    X = {r.vec_id: np.array(r.embedding) for r in synth.collect()}
    clusters = {v: out[v].cluster_id for v in X}
    for vid in X:
        expected_witnesses = [
            o
            for o in X
            if o < vid
            and clusters[o] == clusters[vid]
            and float(X[o] @ X[vid]) >= t
        ]
        row = out[vid]
        if expected_witnesses:
            assert row.removed and row.witness_id == min(expected_witnesses)
        else:
            assert not row.removed and row.witness_id is None
    # the planted dup groups must actually collapse: one survivor each
    kept = [v for v in X if not out[v].removed]
    assert 0 in kept and 10 in kept and 20 in kept
    assert all(out[v].removed for v in (1, 2, 11))


def test_deterministic(spark, synth):
    a = sorted(map(tuple, semdedup(synth, k=3).collect()))
    b = sorted(map(tuple, semdedup(synth, k=3).collect()))
    assert a == b


def test_assignment_is_argmax_cosine(spark, synth):
    cent = train_centroids(synth, k=3)
    C = {r.cluster_id: np.array(r.centroid) for r in cent.collect()}
    asg = {r.id: r for r in cluster_assignments(synth, cent).collect()}
    for r in synth.collect():
        v = np.array(r.embedding)
        cos = {
            cid: float(v @ c / (np.linalg.norm(v) * np.linalg.norm(c)))
            for cid, c in C.items()
        }
        best = max(sorted(cos), key=lambda cid: (cos[cid], -cid))
        row = asg[r.vec_id]
        assert row.cluster_id == best
        assert abs(row.cent_cos - cos[best]) < 1e-9


def test_fixture_has_no_false_dups(spark, sf_dir):
    # the fixture corpus has max pairwise cosine ~0.48: nothing may be
    # removed at 0.9, and every vector must still get a verdict row
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = semdedup(emb, k=8, threshold=0.9)
    rows = out.collect()
    assert len(rows) == emb.count()
    assert not any(r.removed for r in rows)
    assert {r.cluster_id for r in rows} == set(range(8))


def test_precomputed_centroids_reused(spark, synth):
    cent = train_centroids(synth, k=3)
    a = sorted(map(tuple, semdedup(synth, centroids=cent).collect()))
    b = sorted(map(tuple, semdedup(synth, centroids=cent).collect()))
    assert a == b


@pytest.mark.slow
def test_two_level_full_probe_is_bit_identical(spark, synth, sf_dir):
    """The two-level assignment with meta_probes=None (every cell
    probed) must reproduce the flat assignment EXACTLY — candidate set
    is all k centroids, same argmax, same (cos DESC, cluster_id ASC)
    tie-break — on both the synthetic and fixture embeddings."""
    from muopdb_spark.operators.semdedup import (
        cluster_assignments_two_level,
    )

    for emb, k in ((synth, 3), (spark.read.parquet(
            f"{sf_dir}/embeddings.parquet"), 8)):
        cent = train_centroids(emb, k=k)
        flat = sorted(
            (r["id"], r["cluster_id"], round(r["cent_cos"], 12))
            for r in cluster_assignments(emb, cent).collect()
        )
        two = sorted(
            (r["id"], r["cluster_id"], round(r["cent_cos"], 12))
            for r in cluster_assignments_two_level(
                emb, cent, meta_k=2, meta_probes=None
            ).collect()
        )
        assert two == flat
    # and through the full verdict pipeline
    cent = train_centroids(synth, k=3)
    a = sorted(map(tuple, semdedup(synth, centroids=cent).collect()))
    b = sorted(map(tuple, semdedup(
        synth, centroids=cent, meta_k=2, meta_probes=None).collect()))
    assert a == b


def test_two_level_bounded_probe_on_separated_clusters(spark, synth):
    """With well-separated clusters, probing ONE meta cell per vector
    still lands every vector in its true cluster — the bounded-probe
    approximation only bites when a vector's centroid hides in an
    unprobed cell, which separation precludes."""
    from muopdb_spark.operators.semdedup import (
        cluster_assignments_two_level,
    )

    cent = train_centroids(synth, k=3)
    flat = {(r["id"], r["cluster_id"])
            for r in cluster_assignments(synth, cent).collect()}
    one = {(r["id"], r["cluster_id"])
           for r in cluster_assignments_two_level(
               synth, cent, meta_k=3, meta_probes=1).collect()}
    assert one == flat
    # every vector is assigned exactly once even under bounded probes
    assert len(one) == synth.count()


def test_two_level_meta_fit_training_is_bounded(spark, synth, monkeypatch):
    """Two-level scale contract (r16): the meta-fit must train on a
    bounded seeded sample of the centroid table, never collect all k
    centroids to the driver (at k ~ 10^5 x d=768 the full table is
    ~600 MB — the same OOM class as the V7 split collect, bounded the
    same way). Pins: (a) lloyd sees <= training_sample centroid rows,
    (b) full-probe assignment stays bit-identical to flat regardless of
    which centroids trained the meta tier, (c) the sample is seeded —
    rebuilds reproduce."""
    import importlib

    # the package __init__ re-exports the semdedup FUNCTION under the
    # submodule's name, so `import ... as sd` would bind the function
    sd = importlib.import_module("muopdb_spark.operators.semdedup")

    cent = train_centroids(synth, k=3)
    seen = []
    orig = sd.lloyd

    def spy(X, k, **kw):
        seen.append(X.shape[0])
        return orig(X, k, **kw)

    monkeypatch.setattr(sd, "lloyd", spy)
    flat = sorted(
        (r["id"], r["cluster_id"], round(r["cent_cos"], 12))
        for r in cluster_assignments(synth, cent).collect()
    )
    two = sorted(
        (r["id"], r["cluster_id"], round(r["cent_cos"], 12))
        for r in sd.cluster_assignments_two_level(
            synth, cent, meta_k=2, meta_probes=None, training_sample=2
        ).collect()
    )
    assert seen == [2]          # bounded collect: 2 of 3 centroids
    assert two == flat          # full probe exact under a partial meta-fit
    again = sorted(
        (r["id"], r["cluster_id"], round(r["cent_cos"], 12))
        for r in sd.cluster_assignments_two_level(
            synth, cent, meta_k=2, meta_probes=None, training_sample=2
        ).collect()
    )
    assert again == two         # seeded sample: reproducible
