"""Driver-contract gate for the SQ8 estimate + exact-re-rank query:
the final top-10 must EQUAL brute force at the correctness-gate scale
factor (sf0.01) AND the bench scale factor (sf0.1) — i.e. the
estimated top-300 candidate pool contains the true top-10 at both
scales.  Plus unit pins for the quantizer itself."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from muopdb_spark.index.sq import (
    SqCodebook,
    sq_encode,
    sq_est_score,
    train_sq,
)


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as m

    return m


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"])
def test_sq8_rerank_is_exact_on_fixture(spark, entry, sf):
    got = [(r["vec_id"], r["score"]) for r in entry.q_sq8_rerank(spark, sf).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf}/embeddings.parquet')"
    )
    exp = [
        (int(a), float(b))
        for a, b in con.execute(entry.oracle_sql()["v24_sq8_rerank"]).fetchall()
    ]
    assert got == exp


def test_codes_in_range_and_estimate_tight(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = train_sq(emb)
    enc = sq_encode(emb, cb)
    rows = enc.select("vec_id", "embedding", "sq_code").collect()
    assert all(0 <= c <= 255 for r in rows for c in r.sq_code)
    # decoded estimate within the quantization error bound of the true
    # distance: |est - true| <= ||per-dim half-step|| for every vector
    q = [float(x) for x in rows[0].embedding]
    est = {
        r.vec_id: r.est
        for r in enc.withColumn("est", sq_est_score(q, cb))
        .select("vec_id", "est").collect()
    }
    bound = float(np.linalg.norm(np.array(cb.scales)))  # 1 step per dim
    for r in rows:
        true = float(np.linalg.norm(np.array(r.embedding, dtype=np.float64) - np.array(q)))
        assert abs(est[r.vec_id] - true) <= bound + 1e-9


def test_codebook_roundtrip():
    cb = SqCodebook(mins=[0.0, -1.5], scales=[0.01, 0.02])
    back = SqCodebook.from_json(cb.to_json())
    assert back == cb


def test_constant_dim_does_not_divide_by_zero(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 5.0]), (2, [1.0, 7.0])], "vec_id long, embedding array<double>"
    )
    cb = train_sq(df)
    enc = sq_encode(df, cb).collect()
    # dim 0 is constant: every code 0, decode returns min exactly
    assert all(r.sq_code[0] == 0 for r in enc)
    est = (
        sq_encode(df, cb)
        .withColumn("est", sq_est_score([1.0, 5.0], cb))
        .orderBy("vec_id")
        .collect()
    )
    assert abs(est[0].est) < 1e-6  # exact self-distance on clean codes


def test_encode_off_range_vector_survives_ansi(spark):
    """r16 review find: a dimension constant at TRAIN time gets its
    scale floored at 1e-12; encoding a NEW vector that deviates there
    puts (x - min)/scale far past 2^31, and the old clamp-after-cast
    form aborted the whole job with CAST_OVERFLOW under ANSI mode
    (Spark 4 default). The clamp now happens in double space before
    the int cast — both the shared-codebook and per-user-column
    encoders must saturate to 255 (or 0 below range) instead."""
    from muopdb_spark.index.sq import sq_encode_cols

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        cb = SqCodebook(mins=[0.0, 0.0], scales=[1e-12, 1.0])
        df = spark.createDataFrame(
            [(1, [0.5, 100.0]), (2, [-0.5, 300.0])],
            "vec_id long, embedding array<double>",
        )
        enc = {r.vec_id: r.sq_code for r in sq_encode(df, cb).collect()}
        assert enc[1] == [255, 100]   # saturates high, normal dim intact
        assert enc[2] == [0, 255]     # saturates low / high
        cols = df.select(
            "vec_id",
            sq_encode_cols(
                F.col("embedding"),
                F.lit(cb.mins).cast("array<double>"),
                F.lit(cb.scales).cast("array<double>"),
                2,
            ).alias("sq_code"),
        ).collect()
        assert {r.vec_id: r.sq_code for r in cols} == enc
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_pack_unpack_roundtrip_property(spark):
    # property: any array of uint8 codes survives binary pack->unpack;
    # packed size is EXACTLY 1 byte per code (the 4x storage claim)
    from muopdb_spark.index.sq import sq_pack_expr, sq_unpack_expr

    import random

    rnd = random.Random(1234)
    dims = [1, 2, 7, 64]
    rows = []
    rid = 0
    for d in dims:
        for _ in range(8):
            rows.append((rid, d, [rnd.randrange(256) for _ in range(d)]))
            rid += 1
    # edge codes: all-zero, all-255
    rows.append((rid, 4, [0, 0, 0, 0]))
    rows.append((rid + 1, 4, [255, 255, 255, 255]))
    df = spark.createDataFrame(rows, "id long, dim int, codes array<int>")
    packed = df.select("id", "dim", "codes", sq_pack_expr(F.col("codes")).alias("b"))
    got = packed.select(
        "id", "codes", F.length("b").alias("nbytes"), "dim",
        *[],
    ).collect()
    for r in got:
        assert r.nbytes == len(r.codes)
    for d in dims + [4]:
        back = (
            packed.filter(F.col("dim") == d)
            .select("id", "codes", sq_unpack_expr(F.col("b"), d).alias("codes2"))
            .collect()
        )
        for r in back:
            assert list(r.codes2) == list(r.codes)


def test_sq_save_load_roundtrip(spark, tmp_path):
    # the durable artifact round-trips: same codes, same codebook, and
    # the on-disk codes column is binary (packed), not array<int>
    from muopdb_spark.index.sq import sq_encode, sq_load, sq_save, train_sq

    df = spark.createDataFrame(
        [(i, [float(i) * 0.5, float(i % 3) - 1.0, 42.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    cb = train_sq(df)
    enc = sq_encode(df, cb)
    path = str(tmp_path / "sq_idx")
    sq_save(enc, cb, path)
    loaded, cb2 = sq_load(spark, path)
    assert cb2 == cb
    raw = spark.read.parquet(path + "/codes")
    assert dict(raw.dtypes)["sq_packed"] == "binary"
    want = {r.vec_id: list(r.sq_code) for r in enc.collect()}
    got = {r.vec_id: list(r.sq_code) for r in loaded.collect()}
    assert got == want


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"])
def test_ivf_sq_rerank_is_exact_on_fixture(spark, entry, sf):
    # v26: in-scan SQ scoring inside the IVF posting scan, full probes
    # + rerank => exact at both the correctness-gate and bench SFs
    got = [
        (r["vec_id"], r["score"])
        for r in entry.q_ivf_sq_rerank(spark, sf).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf}/embeddings.parquet')"
    )
    exp = [
        (int(a), float(b))
        for a, b in con.execute(entry.oracle_sql()["v26_ivf_sq_rerank"]).fetchall()
    ]
    assert got == exp


@pytest.mark.slow
def test_ivf_sq_save_load_packed(spark, tmp_path):
    # the persisted SQ-IVF postings store packed binary codes; reload
    # restores array<int> codes and identical search results
    from muopdb_spark.index.ivf import build_ivf, ivf_load, ivf_save, ivf_search

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = build_ivf(emb, num_centroids=4, seed=9, max_iter=5, quantizer="sq")
    path = str(tmp_path / "sq_ivf")
    ivf_save(idx, path)
    raw = spark.read.parquet(path + "/postings")
    assert "sq_packed" in raw.columns and "sq_code" not in raw.columns
    assert dict(raw.dtypes)["sq_packed"] == "binary"
    back = ivf_load(spark, path)
    qv = [float(x) for x in emb.first()["embedding"]]
    a = ivf_search(idx, qv, 5, num_probes=4, centroid_distance_ratio=None,
                   rerank=50, score_decimals=6).collect()
    b = ivf_search(back, qv, 5, num_probes=4, centroid_distance_ratio=None,
                   rerank=50, score_decimals=6).collect()
    assert [(r.id, r.score) for r in a] == [(r.id, r.score) for r in b]


@pytest.mark.slow
def test_ivf_sq_batch_matches_single(spark):
    from muopdb_spark.index.ivf import build_ivf, ivf_search, ivf_search_batch

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = build_ivf(emb, num_centroids=4, seed=9, max_iter=5, quantizer="sq")
    qs = emb.limit(3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vector"),
    )
    batch = ivf_search_batch(
        idx, qs, 5, num_probes=4, centroid_distance_ratio=None,
        rerank=50, score_decimals=6,
    ).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r.query_id, []).append((r.id, r.score))
    for row in qs.collect():
        single = [
            (r.id, r.score)
            for r in ivf_search(
                idx, [float(x) for x in row.query_vector], 5, num_probes=4,
                centroid_distance_ratio=None, rerank=50, score_decimals=6,
            ).collect()
        ]
        assert sorted(by_q[row.query_id]) == sorted(single)
