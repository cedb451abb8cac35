"""IVF / SPANN-style ANN index: batch build + two-phase search.

Reference architecture (SURVEY.md §2.3): SPANN = HNSW graph over k-means
centroids + IVF posting lists per centroid
(rs/index/src/spann/index.rs:15-21). The Spark-first re-expression:

  BUILD (the flush job, rs/index/src/collection/core.rs:867-976):
    - k-means over a sample (V6, rs/utils/src/kmeans_builder/
      kmeans_builder.rs:116) via pyspark.ml.clustering.KMeans
    - recursive split of oversized clusters (V7, ivf/builder.rs:500-535)
      as a driver loop re-clustering only the offending groups
    - posting-list assignment with SPANN multi-assignment closure (V8,
      ivf/builder.rs:292-366): a vector joins every centroid within
      (1+threshold) of its nearest, capped at max_clusters_per_vector
    - postings repartitioned/sorted by centroid_id — the data-locality
      "reindex" analog (hnsw/builder.rs:171-220) so a probe touches few
      partitions

  SEARCH (V1/V4/V5/V19, spann/index.rs:211-266):
    - phase 1: exact distances query x centroids (the centroid table is
      small by construction, so the HNSW graph walk of the reference is
      replaced by brute force over centroids — V2's mathematical
      contract, not its pointer-chasing implementation), on the driver
      for one query (multi_ivf.probe), one window for a batch
      (multi_ivf.probe_window)
    - centroid_distance_ratio prune (V19, spann/index.rs:233-246)
    - phase 2: scan only the probed centroids' postings (partition
      pruning) and score them, exactly or on the quantizer's codes;
      multi_ivf.rank, the one ranking tail of every ANN search, dedups,
      cuts and re-scores the quantized candidates and takes the top-k
      with the ordering contract (score asc NaN last, id tiebreak —
      utils.rs:95-113). The index ranks as one constant user_id 0,
      projected away.

  At 100 TB: postings are hash-partitioned by centroid_id, so phase 2
  reads |probed|/|centroids| of the data; the centroid table stays tiny
  and broadcast; no stage shuffles the corpus after build.

Multi-assignment means a point can appear in several probed postings —
rank dedups by id before top-k (the reference's visited-set, V21).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from muopdb_spark.functions.distance import score_expr
from muopdb_spark.index.multi_ivf import (
    centroid_arrays,
    probe,
    probe_window,
    rank,
    rank_request,
)
from muopdb_spark.index.quantizer import lookup


@dataclass
class IvfIndex:
    """centroids: (centroid_id int, centroid array<double>)
    postings:  (centroid_id int, id long, vector array<double>
                [, the quantizer's code columns])
    quantizer: "none" or a single-user reading of a registry entry in
               index/quantizer.py (pq | opq | rabitq | sq)
    codebook:  that entry's codebook when the index scores quantized
               distances in the posting scan (the reference's
               per-collection quantizer, rs/index/src/collection/
               mod.rs:145-149; scan-side scoring at
               ivf/block_based/index.rs:202-209).
    """

    centroids: DataFrame
    postings: DataFrame
    metric: str = "l2"
    codebook: object | None = None
    quantizer: str = "none"


def _fit_kmeans(df: DataFrame, vec_col: str, k: int, seed: int, max_iter: int,
                cap: int | None = None):
    """Seeded numpy Lloyd's over the (bounded, pre-sampled) training
    DataFrame — the caller caps rows at training_sample, mirroring the
    reference's in-process fit over a 20k sample (kmeans_builder.rs).
    Only training is driver-local; corpus assignment stays distributed.

    ``cap``: regression tripwire (same contract as multi_ivf's grouped
    fit assert) — when the caller promises an exact pre-sample bound,
    a collect larger than it must fail loudly, never OOM the driver."""
    import numpy as np

    from muopdb_spark.index.kmeans import lloyd

    rows = df.select(F.col(vec_col).cast("array<double>").alias("v")).collect()
    if cap is not None and len(rows) > cap:
        raise AssertionError(
            f"_fit_kmeans: {len(rows)} training rows > cap={cap}; "
            "pre-sample missing"
        )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    return lloyd(X, k, seed=seed, max_iter=max_iter).tolist()


def _centroid_df(spark: SparkSession, centers: list[list[float]]) -> DataFrame:
    rows = [(i, c) for i, c in enumerate(centers)]
    return spark.createDataFrame(rows, "centroid_id int, centroid array<double>")


def assign_postings(
    df: DataFrame,
    centroids: DataFrame,
    *,
    vec_col: str,
    id_col: str,
    metric: str = "l2",
    distance_threshold: float = 0.1,
    max_clusters_per_vector: int = 1,
) -> DataFrame:
    """V8: nearest-centroid assignment with SPANN closure — keep every
    centroid within (1+threshold) of the nearest, rank-capped.

    One broadcast join (centroids are small) + one window; the corpus
    shuffles once, on centroid_id, which is exactly the partitioning the
    index wants anyway.
    """
    scored = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vector"))
        .crossJoin(F.broadcast(centroids))
        .withColumn("d", score_expr(metric, F.col("vector"), F.col("centroid")))
    )
    w = Window.partitionBy("id").orderBy(F.col("d").asc(), F.col("centroid_id").asc())
    best = F.min("d").over(Window.partitionBy("id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .withColumn("d_min", best)
        .filter(
            (F.col("rnk") == 1)
            | (
                (F.col("rnk") <= max_clusters_per_vector)
                & (F.col("d") <= F.col("d_min") * (1 + distance_threshold))
            )
        )
        .select("centroid_id", "id", "vector")
    )


def build_ivf(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_centroids: int = 10,
    metric: str = "l2",
    training_sample: int = 20_000,
    max_posting_size: int | None = None,
    distance_threshold: float = 0.1,
    max_clusters_per_vector: int = 1,
    seed: int = 42,
    max_iter: int = 20,
    split_rounds: int = 4,
    quantizer: str = "none",
    pq_subvectors: int = 4,
    pq_centers: int = 16,
    pq_training_sample: int = 10_000,
) -> IvfIndex:
    """Build the IVF index. Defaults mirror the reference collection
    config (rs/config/src/collection.rs:65-115,176-210: 10 initial
    centroids, 20k training sample, <=1 cluster/vector, reindex on).

    A quantizer (enums.rs:4-9 QuantizerType; any single-user entry of
    index/quantizer.py) trains a codebook and stores per-posting codes,
    so searches score quantized distances inside the posting scan
    (ivf/block_based/index.rs:202-209) — PQ reads m bytes/vector
    instead of 4*d, RaBitQ ~D bits/vector (capability-exceeding: the
    reference ships RaBitQ but never wires it into an index path)."""
    q = lookup(quantizer, multi_user=False)
    spark = df.sparkSession
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vector"))
    n = base.count()
    frac = min(1.0, training_sample / max(n, 1))
    train = base.sample(fraction=frac, seed=seed) if frac < 1.0 else base

    centers = _fit_kmeans(train, "vector", min(num_centroids, max(n, 1)), seed, max_iter)
    centroids = _centroid_df(spark, centers)

    # V7: recursive split of oversized posting lists — re-cluster only
    # the offending centroid's points (driver loop, bounded rounds)
    if max_posting_size is not None:
        for _ in range(split_rounds):
            postings = assign_postings(
                base, centroids, vec_col="vector", id_col="id", metric=metric,
                max_clusters_per_vector=1,
            )
            sizes = postings.groupBy("centroid_id").count().filter(F.col("count") > max_posting_size)
            oversized = [r["centroid_id"] for r in sizes.collect()]
            if not oversized:
                break
            kept = [c for c in centroids.collect() if c["centroid_id"] not in set(oversized)]
            new_centers = [list(c["centroid"]) for c in kept]
            for cid in oversized:
                # bound the driver materialization (r16): an oversized
                # posting list can exceed training_sample by orders of
                # magnitude (that's WHY it's being split) — re-cluster
                # from a deterministic seeded sample, exactly as the
                # initial fit and multi_ivf's distributed pre-sample do
                # (reference contract: ivf/builder.rs re-clusters from
                # the bounded kmeans training sample too). Seeded
                # xxhash64 order + limit is a distributed
                # TakeOrderedAndProject — only <= training_sample rows
                # ever reach the driver.
                pts = (
                    postings.filter(F.col("centroid_id") == cid)
                    .select("id", "vector")
                    .orderBy(
                        F.xxhash64(F.col("id"), F.lit(seed + cid)).asc(),
                        F.col("id").asc(),
                    )
                    .limit(training_sample)
                )
                new_centers.extend(_fit_kmeans(
                    pts, "vector", 2, seed + cid, max_iter,
                    cap=training_sample,
                ))
            centroids = _centroid_df(spark, new_centers)

    postings = assign_postings(
        base, centroids, vec_col="vector", id_col="id", metric=metric,
        distance_threshold=distance_threshold,
        max_clusters_per_vector=max_clusters_per_vector,
    ).repartition(F.col("centroid_id")).sortWithinPartitions("centroid_id", "id")

    codebook = None
    if q is not None:
        codebook = q.train(
            base, vec_col="vector", num_subvectors=pq_subvectors,
            num_centers=pq_centers, training_sample=pq_training_sample, seed=seed,
        )
        postings = q.encode(postings, codebook, vec_col="vector")
    return IvfIndex(
        centroids=centroids, postings=postings.persist(), metric=metric,
        codebook=codebook, quantizer=quantizer,
    )


def ivf_save(index: IvfIndex, path: str) -> None:
    """Persist the index as on-disk tables + meta — the durable artifact
    the reference writes per segment (multi_spann/writer.rs,
    spann/writer.rs; reopened on demand by collection/reader.rs).
    Postings are written partitioned by centroid_id so a probed search
    reads only the probed centroids' files (partition pruning)."""
    import json
    import os

    q = lookup(index.quantizer, multi_user=False)
    index.centroids.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    postings = q.pack(index.postings) if q is not None else index.postings
    (
        postings.write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(os.path.join(path, "postings"))
    )
    meta = {"metric": index.metric, "quantizer": index.quantizer}
    if q is not None:
        q.save(index.codebook, path, meta)
    tmp = os.path.join(path, "meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(path, "meta.json"))  # meta last = commit mark


def ivf_load(spark: SparkSession, path: str) -> IvfIndex:
    """Reopen a persisted index without rebuilding (reader.rs analog).
    DataFrames read lazily from parquet; callers may .persist() for
    repeated queries."""
    import json
    import os

    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    quant = meta.get("quantizer", "none")
    q = lookup(quant, multi_user=False)
    codebook = None
    postings = spark.read.parquet(os.path.join(path, "postings"))
    if q is not None:
        codebook = q.load(spark, path, meta)
        postings = q.unpack(postings, codebook)
    return IvfIndex(
        centroids=spark.read.parquet(os.path.join(path, "centroids")),
        postings=postings,
        metric=meta["metric"],
        codebook=codebook,
        quantizer=quant,
    )


def probe_centroids(
    index: IvfIndex,
    query_vector: Sequence[float],
    *,
    num_probes: int,
    centroid_distance_ratio: float | None = 0.1,
) -> list[int]:
    """Phase 1 (V4 + V19): the (small) centroid table, collected and
    probed on the driver by multi_ivf.probe as one user's — exact
    top-num_probes centroids, then the ratio prune with its documented
    abs(d_min) deviation. The result is a plain id list used for
    partition pruning."""
    rows = index.centroids.select(
        F.lit(0).alias("user_id"), "centroid_id", "centroid").collect()
    arrays = centroid_arrays(rows, [0], len(query_vector))
    return probe(arrays, index.metric, query_vector, num_probes,
                 centroid_distance_ratio).get(0, [])


def probe_centroids_batch(
    index: IvfIndex,
    queries: DataFrame,
    *,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
    num_probes: int,
    centroid_distance_ratio: float | None = 0.1,
) -> DataFrame:
    """Set-based phase 1 for N queries in ONE plan: returns probed
    (query_id, qv, centroid_id) rows. The centroid table is broadcast,
    the query table streams through it and multi_ivf.probe_window ranks
    it per query — no per-query driver round trip (the batch analog of
    probe_centroids, same rule)."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).cast("array<double>").alias("qv"),
    )
    scored = (
        q.crossJoin(F.broadcast(index.centroids))
        .withColumn("d", score_expr(index.metric, F.col("qv"), F.col("centroid")))
    )
    return probe_window(scored, ["query_id"], num_probes, centroid_distance_ratio).select(
        "query_id", "qv", "centroid_id")


def ivf_search_batch(
    index: IvfIndex,
    queries: DataFrame,
    k: int,
    *,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
    num_probes: int | None = None,
    centroid_distance_ratio: float | None = 0.1,
    pre_filter_ids: DataFrame | None = None,
    tombstones: DataFrame | None = None,
    score_decimals: int | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """Two-phase ANN for a WHOLE DataFrame of queries in one plan:
    (query_id, id, score) top-k per query.

    The reference serves one vector per Search call
    (muopdb.proto:124-131); a training-data pipeline joins millions of
    queries against the corpus, so the batch path must be one job, not a
    driver loop. Phase 1 broadcasts the centroid table across the query
    stream; phase 2 joins the probed (query_id, centroid_id) pairs with
    the postings on centroid_id — the join key matches the postings'
    hash partitioning, so postings shuffle zero times and only probed
    centroids are read. Dedup (V21), the candidate cut and the (score,
    id) top-k (utils.rs:95-113) are multi_ivf.rank's, keyed per query,
    with the index ranked as one constant user.

    pre_filter_ids is the PER-QUERY F8 `plan_with_ids` contract
    (planner.rs:45-61 — the reference's hybrid Search RPC carries one
    filter per request): a (query_id, id) DataFrame semi-joined into the
    candidate scan on BOTH keys before scoring/top-k, so each query sees
    only its own allowed ids. The match sets never touch the driver.

    Quantized indexes score the stored codes inside the scan via the
    batch estimators (pq_adc_score_batch / rabitq_est_score_batch — the
    codebook broadcasts in the UDF closure, queries stream through as
    (qv, code) pairs), mirroring the reference's quantizer-always-on
    serving (rs/index/src/collection/mod.rs:145-149). With `rerank=N`
    the quantized top-N pool per query is re-scored exactly; full probes
    + no ratio prune is then exact GIVEN the quantized top-N contains
    the true top-k (candidate containment — recall-pytest-gated, since
    quantization error can violate it for small N). Without rerank the
    approximate scores are final.

    With full probes and no ratio prune the unquantized result is exact —
    that variant is DuckDB-oracle-checked; pruned-variant recall is
    pytest-gated."""
    q = lookup(index.quantizer, multi_user=False, metric=index.metric, dedup=True)
    if num_probes is None:
        num_probes = k
    probes = probe_centroids_batch(
        index, queries, query_id_col=query_id_col, query_vec_col=query_vec_col,
        num_probes=num_probes, centroid_distance_ratio=centroid_distance_ratio,
    )
    # the index is one constant user of the shared ranking tail
    cand = probes.join(index.postings, "centroid_id").withColumn("user_id", F.lit(0))
    if pre_filter_ids is not None:
        cand = cand.join(
            pre_filter_ids.select(
                F.col(query_id_col).alias("query_id"), "id"
            ).distinct(),
            on=["query_id", "id"], how="left_semi",
        )
    if tombstones is not None:
        cand = cand.join(tombstones.select("id").distinct(), on="id", how="left_anti")
    approx = None
    if q is not None:
        cand, approx = q.score_batch(index.codebook, cand, queries)
    return rank(cand, score_expr(index.metric, F.col("vector"), F.col("qv")), k,
                approx=approx, keys=["query_id"], rerank=rerank,
                score_decimals=score_decimals).drop("user_id")


def ivf_search(
    index: IvfIndex,
    query_vector: Sequence[float],
    k: int,
    *,
    num_probes: int | None = None,
    centroid_distance_ratio: float | None = 0.1,
    pre_filter=None,
    pre_filter_ids: DataFrame | None = None,
    tombstones: DataFrame | None = None,
    score_decimals: int | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """Two-phase ANN search returning (id, score) top-k.

    num_probes defaults to k (search_params.rs:21-23: num_explored_
    centroids defaults to top_k). Phase 2 is multi_ivf.rank_request over
    the index as one constant user: multi-assigned points are deduped by
    id before the final top-k — the visited-set analog (V21).

    pre_filter_ids is the F8 `plan_with_ids` contract (planner.rs:45-61,
    applied inside the posting scan at ivf/block_based/index.rs:214-227):
    a DataFrame with an `id` column that the candidates are leftsemi-
    joined against BEFORE scoring/top-k. The match set never touches the
    driver — at 100 TB the filter can select millions of ids and this
    stays a distributed semi join (broadcast if small, shuffled if not),
    where a collect+isin literal would OOM the driver.

    When the index carries a quantizer, the posting scan scores
    quantized distances on the stored codes (the in-loop quantized
    scoring of ivf/block_based/index.rs:202-209): PQ scores ADC
    table-lookup distances, RaBitQ scores the SIGMOD'24 binary
    estimator. With `rerank=N`, the quantized top-N candidates are
    re-scored with exact distances and the final top-k is exact — the
    standard IVF-quantize + re-rank plan (N bounds the exact work to a
    constant per query regardless of corpus size).
    """
    q = lookup(index.quantizer, multi_user=False, metric=index.metric, dedup=True)
    if num_probes is None:
        num_probes = k
    probed = probe_centroids(
        index, query_vector, num_probes=num_probes,
        centroid_distance_ratio=centroid_distance_ratio,
    )
    scan = index.postings.filter(F.col("centroid_id").isin(probed))
    if pre_filter is not None:
        scan = scan.filter(pre_filter)
    if pre_filter_ids is not None:
        scan = scan.join(pre_filter_ids.select("id").distinct(), on="id", how="left_semi")
    if tombstones is not None:
        scan = scan.join(tombstones.select("id").distinct(), on="id", how="left_anti")
    return rank_request(scan.withColumn("user_id", F.lit(0)), q, index.codebook,
                        index.metric, query_vector, [0], k, rerank=rerank,
                        score_decimals=score_decimals).select("id", "score")
