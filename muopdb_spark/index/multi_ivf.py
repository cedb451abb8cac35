"""Multi-user IVF: one INDEPENDENT index per user — the reference's
defining feature (MultiSpannBuilder, rs/index/src/multi_spann/
builder.rs:21-69: per-user DashMap<u128, SpannBuilder>; per-user blob
offsets in user_index_info.rs).

Spark-first: per-user k-means runs as ONE grouped applyInPandas pass —
each user's vectors land in one Arrow batch group and a seeded numpy
Lloyd's solver fits that user's centroids (SURVEY §7.2 hard part #2:
"per-user KMeans must be grouped, not one job per user" — a million tiny
users is one shuffle, not a million driver-launched jobs). Per-user
posting assignment is an equi-join on user_id + a per-(user, point)
window — no cross-user data movement.

Skew: the training pass pre-samples each user DISTRIBUTEDLY (seeded
row_number over xxhash64(id) <= training_sample, computed before the
grouped fit) so no task ever materializes more than `training_sample`
vectors for one user — a whale user with 10M vectors costs the same
task memory as one with 20k. The window's hash-partitioning on user_id
is reused by the groupBy (no extra shuffle; only the training
projection (user_id, id, vector) flows through it). The fit asserts
the bound, so a regression fails loudly instead of OOMing. AQE
skew-join handles the assignment join.

Search prunes to the queried user's centroids/postings first (the
partition-pruning analog of per-user index-blob opens,
multi_spann/index.rs:100-137).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from muopdb_spark.functions.distance import score_expr
from muopdb_spark.index.quantizer import lookup


@dataclass
class MultiIvfIndex:
    """centroids: (user_id long, centroid_id int, centroid array<double>)
    postings:  (user_id long, centroid_id int, id long, vector array<double>
                [, carry cols][, the quantizer's code columns])
    quantizer: "none" or a registry entry of index/quantizer.py
               (pq | opq | rabitq | sq | pq_user | opq_user)
    codebook:  that entry's codebook — one object for pq/opq/rabitq, a
               (user_id, ...) table for the per-user sq/pq_user/opq_user"""

    centroids: DataFrame
    postings: DataFrame
    metric: str = "l2"
    codebook: object | None = None
    quantizer: str = "none"


from muopdb_spark.index.kmeans import lloyd as _shared_lloyd


def build_multi_ivf(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    vec_col: str = "vector",
    id_col: str = "doc_id",
    num_centroids: int = 10,
    metric: str = "l2",
    training_sample: int = 20_000,
    seed: int = 42,
    max_iter: int = 15,
    distance_threshold: float = 0.1,
    max_clusters_per_vector: int = 1,
    carry_cols: Sequence[str] = (),
    quantizer: str = "none",
    pq_subvectors: int = 4,
    pq_centers: int = 16,
    pq_training_sample: int = 10_000,
) -> MultiIvfIndex:
    """carry_cols ride along into the postings rows unchanged (e.g.
    seq_no, so tombstone masking can stay seq_no-aware at search time
    without a join back to the docs table).

    quantizer="pq"|"opq"|"rabitq" trains ONE codebook across all users
    (the reference's quantizer is per-collection, not per-user —
    rs/index/src/collection/mod.rs:145-149 binds a single quantizer type
    to the whole collection); "sq"|"pq_user"|"opq_user" train one book
    per user (index/quantizer.py). Either way postings store codes so
    searches score quantized distances inside the scan."""
    q = lookup(quantizer, multi_user=True)
    base = df.select(
        F.col(user_col).alias("user_id"),
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vector"),
        *[F.col(c) for c in carry_cols],
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        # The distributed pre-sample below bounds the group BY
        # CONSTRUCTION; this assert is the regression tripwire — a whale
        # user (10M x 768-dim ~ 60 GB in one Arrow batch at 100x scale)
        # must fail loudly here, never OOM an executor.
        if len(pdf) > training_sample:
            raise AssertionError(
                f"fit group for user {pdf['user_id'].iat[0]} has {len(pdf)} rows"
                f" > training_sample={training_sample}; pre-sample missing"
            )
        user = int(pdf["user_id"].iat[0])
        X = np.array(pdf["vector"].tolist(), dtype=np.float64)
        centers = _shared_lloyd(X, num_centroids, seed=seed + user, max_iter=max_iter)
        return pd.DataFrame({
            "user_id": user,
            "centroid_id": np.arange(len(centers), dtype=np.int32),
            "centroid": list(centers),
        })

    # Per-user training pre-sample, computed DISTRIBUTEDLY before the
    # grouped fit (multi_spann/builder.rs:21-69 builds each user's index
    # from bounded memory; the old shape materialized the user's entire
    # vector set in one Arrow batch *before* down-sampling — an OOM at
    # whale-user scale). Seeded xxhash64 order makes the sample
    # deterministic, and the window's partitionBy("user_id") exchange is
    # exactly the distribution the groupBy needs, so Catalyst inserts no
    # second shuffle — only the training projection pays the sort.
    sample_w = Window.partitionBy("user_id").orderBy(
        F.xxhash64(F.col("id"), F.lit(seed)).asc(), F.col("id").asc()
    )
    train = (
        base.select("user_id", "id", "vector")
        .withColumn("_rn", F.row_number().over(sample_w))
        .filter(F.col("_rn") <= training_sample)
        .drop("_rn", "id")
    )
    centroids = (
        train.groupBy("user_id")
        .applyInPandas(fit, schema="user_id long, centroid_id int, centroid array<double>")
        .persist()
    )

    # per-user assignment: equi-join on user_id (centroid side is small
    # per user), SPANN multi-assignment closure per (user, point)
    scored = (
        base.join(centroids, "user_id")
        .withColumn("d", score_expr(metric, F.col("vector"), F.col("centroid")))
    )
    w = Window.partitionBy("user_id", "id").orderBy(F.col("d").asc(), F.col("centroid_id").asc())
    best = F.min("d").over(Window.partitionBy("user_id", "id"))
    postings = (
        scored.withColumn("rnk", F.row_number().over(w))
        .withColumn("d_min", best)
        .filter(
            (F.col("rnk") == 1)
            | (
                (F.col("rnk") <= max_clusters_per_vector)
                & (F.col("d") <= F.col("d_min") * (1 + distance_threshold))
            )
        )
        .select("user_id", "centroid_id", "id", "vector", *carry_cols)
        .repartition(F.col("user_id"), F.col("centroid_id"))
        .sortWithinPartitions("user_id", "centroid_id", "id")
    )
    codebook = None
    if q is not None:
        codebook = q.train(
            base, vec_col="vector", user_col="user_id",
            num_subvectors=pq_subvectors, num_centers=pq_centers,
            training_sample=pq_training_sample, seed=seed,
        )
        if q.per_user:
            codebook = codebook.persist()
        postings = q.encode(postings, codebook, vec_col="vector", user_col="user_id")
    return MultiIvfIndex(
        centroids=centroids, postings=postings.persist(), metric=metric,
        codebook=codebook, quantizer=quantizer,
    )


def multi_ivf_save(index: MultiIvfIndex, path: str) -> None:
    """Persist per-user index tables (multi_spann/writer.rs analog).
    Postings are partitioned by user_id — the on-disk analog of the
    reference's per-user index blobs (user_index_info.rs offsets): a
    single-user search opens only that user's files. (At extreme user
    cardinality switch the partitioning to bucketed user hash.)"""
    import json
    import os

    q = lookup(index.quantizer, multi_user=True)
    index.centroids.write.mode("overwrite").partitionBy("user_id").parquet(
        os.path.join(path, "centroids"))
    index.postings.write.mode("overwrite").partitionBy("user_id", "centroid_id").parquet(
        os.path.join(path, "postings"))
    meta = {"metric": index.metric, "quantizer": index.quantizer}
    if q is not None:
        q.save(index.codebook, path, meta)
    tmp = os.path.join(path, "meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(path, "meta.json"))


def multi_ivf_load(spark, path: str) -> MultiIvfIndex:
    """Reopen persisted per-user index tables without rebuilding."""
    import json
    import os

    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    quant = meta.get("quantizer", "none")
    q = lookup(quant, multi_user=True)
    codebook = q.load(spark, path, meta) if q is not None else None
    return MultiIvfIndex(
        centroids=spark.read.parquet(os.path.join(path, "centroids")),
        postings=spark.read.parquet(os.path.join(path, "postings")),
        metric=meta["metric"], codebook=codebook, quantizer=quant,
    )


def _probed_pairs(
    index: MultiIvfIndex,
    user_ids: Sequence[int],
    q,
    num_probes: int,
    centroid_distance_ratio: float | None,
) -> DataFrame:
    """Phase 1 for ALL requested users AT ONCE: one window over the
    centroid table yields the probed (user_id, centroid_id) pairs as a
    DataFrame — no per-user driver collect, no per-user Spark job. For a
    1,000-user request this is still exactly one job over a small table
    (the set-based shape of snapshot.rs:39-64, where the reference loops
    in-process; a driver loop here would be 1,000 jobs).

    Ratio prune (V19, spann/index.rs:233-246) uses abs(d_min) — a
    DELIBERATE deviation from the reference's `min * ratio`: for the
    negated-dot metric d_min is negative, making the reference's
    threshold negative so every non-nearest centroid is dropped; abs()
    keeps the intended "within ratio of nearest" semantics for both
    metrics (recall-safe superset of the reference's probe set)."""
    scored = (
        index.centroids.filter(F.col("user_id").isin([int(u) for u in user_ids]))
        .withColumn("d", score_expr(index.metric, F.col("centroid"), q))
    )
    w = Window.partitionBy("user_id").orderBy(F.col("d").asc(), F.col("centroid_id").asc())
    probed = scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= num_probes)
    if centroid_distance_ratio is not None:
        d_min = F.min("d").over(Window.partitionBy("user_id"))
        probed = probed.withColumn("d_min", d_min).filter(
            F.col("d") - F.col("d_min") <= F.abs(F.col("d_min")) * centroid_distance_ratio
        )
    return probed.select("user_id", "centroid_id")


def multi_ivf_search_users(
    index: MultiIvfIndex,
    user_ids: Sequence[int],
    query_vector: Sequence[float],
    k: int,
    *,
    num_probes: int | None = None,
    centroid_distance_ratio: float | None = 0.1,
    pre_filter=None,
    pre_filter_ids: DataFrame | None = None,
    per_user: bool = False,
    score_decimals: int | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """Search N users' independent indexes in ONE plan (snapshot.rs:39-64
    searches any number of users per request): windowed probe for all
    users → one postings semi-join on (user_id, centroid_id) → score →
    per-user dedup → top-k.

    per_user=False: global top-k across users (the reference's cross-user
    merge, snapshot.rs:60-61). per_user=True: top-k PER user (rnk <= k).

    pre_filter_ids: F8 plan_with_ids as a leftsemi join on id — the match
    set never collects to the driver.

    Quantized indexes score the stored codes inside the scan (the
    reference's quantizer-always-on serving, mod.rs:145-149) — same
    estimators as the batch path, so batch == per-request holds for
    every quantizer; `rerank=N` re-scores the quantized top-N exactly
    (exact given candidate containment, recall-pytest-gated)."""
    q = lookup(index.quantizer, multi_user=True, metric=index.metric)
    if num_probes is None:
        num_probes = k
    qv = F.lit([float(x) for x in query_vector]).cast("array<double>")
    pairs = _probed_pairs(index, user_ids, qv, num_probes, centroid_distance_ratio)
    # one semi join prunes the postings scan to the probed pairs — with
    # postings partitioned by (user_id, centroid_id) this is the
    # partition-pruning analog of per-user index-blob opens
    scan = index.postings.join(
        F.broadcast(pairs), on=["user_id", "centroid_id"], how="left_semi"
    )
    if pre_filter is not None:
        scan = scan.filter(pre_filter)
    if pre_filter_ids is not None:
        scan = scan.join(pre_filter_ids.select("id").distinct(), on="id", how="left_semi")
    exact = score_expr(index.metric, F.col("vector"), qv)
    if q is not None:
        scan, approx = q.score(index.codebook, query_vector, scan, user_ids)
        carry = ["vector"] if rerank is not None else []
        cand = scan.select("user_id", "id", *carry, approx.alias("adc"))
        # V21 dedup per (user, id), then the candidate cut
        wdup = Window.partitionBy("user_id", "id").orderBy(F.col("adc").asc())
        cand = cand.withColumn("rn", F.row_number().over(wdup)).filter(F.col("rn") == 1)
        cut = rerank if rerank is not None else k
        if per_user:
            wcut = Window.partitionBy("user_id").orderBy(
                F.col("adc").asc_nulls_last(), F.col("id").asc()
            )
            pool = cand.withColumn("rk", F.row_number().over(wcut)).filter(
                F.col("rk") <= cut
            )
        else:
            pool = cand.orderBy(
                F.col("adc").asc_nulls_last(), F.col("id").asc()
            ).limit(cut)
        score = exact if rerank is not None else F.col("adc")
        if score_decimals is not None:
            score = F.round(score, score_decimals)
        deduped = pool.select("user_id", "id", score.alias("score"))
    else:
        score = F.round(exact, score_decimals) if score_decimals is not None else exact
        deduped = (
            scan.select("user_id", "id", score.alias("score"))
            .groupBy("user_id", "id").agg(F.min("score").alias("score"))  # V21 dedup
        )
    if per_user:
        w = Window.partitionBy("user_id").orderBy(
            F.col("score").asc_nulls_last(), F.col("id").asc()
        )
        return (
            deduped.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("user_id", "id", "score")
            .orderBy("user_id", F.col("score").asc_nulls_last(), "id")
        )
    return (
        deduped.orderBy(F.col("score").asc_nulls_last(), F.col("id").asc())
        .limit(k)
        .select("user_id", "id", "score")
    )


def multi_ivf_search(
    index: MultiIvfIndex,
    user_id: int,
    query_vector: Sequence[float],
    k: int,
    **kw,
) -> DataFrame:
    """Search ONE user's index — the N=1 case of the set-based path."""
    return multi_ivf_search_users(index, [user_id], query_vector, k, **kw).select("id", "score")


def multi_ivf_search_batch(
    index: MultiIvfIndex,
    requests: DataFrame,
    k: int,
    *,
    request_id_col: str = "request_id",
    user_col: str = "user_id",
    vec_col: str = "query_vector",
    num_probes: int | None = None,
    centroid_distance_ratio: float | None = 0.1,
    pre_filter_ids: DataFrame | None = None,
    per_user: bool = False,
    score_decimals: int | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """A whole BATCH of Search requests in one plan. `requests` has one
    row per (request_id, user_id, query_vector) — exactly the reference
    request shape (muopdb.proto:124-131: one vector + N user_ids per
    call), vectorized across requests the way a pipeline replays a query
    log or serves a request queue.

    Phase 1 equi-joins requests to the per-user centroid tables on
    user_id (small per user) and windows per (request, user) — the
    batched `_probed_pairs`. Phase 2 joins the probed (request, user,
    centroid) rows to the postings ON THE POSTINGS' PARTITIONING KEY
    (user_id, centroid_id) — postings never shuffle, only the slim probe
    table moves. Per-request dedup and top-k (global across the
    request's users, per_user=True for per-user cuts) in one window.

    pre_filter_ids: PER-REQUEST F8 plan_with_ids (planner.rs:45-61; the
    Search RPC carries one filter per request) — a (request_id, id)
    DataFrame semi-joined into the candidate scan on both keys.

    Quantized indexes score stored codes inside the scan via the batch
    estimators (codebook in the UDF closure, requests stream through as
    (qv, code) pairs — the reference's quantizer-always-on serving,
    rs/index/src/collection/mod.rs:145-149); `rerank=N` re-scores the
    per-request quantized top-N exactly.

    Returns (request_id, user_id, id, score). Full probes + no ratio
    prune => exact per request (DuckDB-oracle-able) for unquantized
    indexes; quantized-with-rerank is exact GIVEN the quantized top-
    rerank pool contains the true top-k (the standard candidate-
    containment condition — quantization error can violate it for small
    rerank, so containment is recall-pytest-gated, not assumed)."""
    q = lookup(index.quantizer, multi_user=True, metric=index.metric, dedup=True)
    if num_probes is None:
        num_probes = k
    req = requests.select(
        F.col(request_id_col).alias("request_id"),
        F.col(user_col).alias("user_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    scored = (
        req.join(index.centroids, "user_id")
        .withColumn("d", score_expr(index.metric, F.col("centroid"), F.col("qv")))
    )
    w = Window.partitionBy("request_id", "user_id").orderBy(
        F.col("d").asc(), F.col("centroid_id").asc()
    )
    probes = scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= num_probes)
    if centroid_distance_ratio is not None:
        d_min = F.min("d").over(Window.partitionBy("request_id", "user_id"))
        probes = probes.withColumn("d_min", d_min).filter(
            F.col("d") - F.col("d_min") <= F.abs(F.col("d_min")) * centroid_distance_ratio
        )
    cand = probes.select("request_id", "user_id", "centroid_id", "qv").join(
        index.postings, ["user_id", "centroid_id"]
    )
    if pre_filter_ids is not None:
        cand = cand.join(
            pre_filter_ids.select(
                F.col(request_id_col).alias("request_id"), "id"
            ).distinct(),
            on=["request_id", "id"], how="left_semi",
        )
    exact = score_expr(index.metric, F.col("vector"), F.col("qv"))
    keys = ["request_id", "user_id"] if per_user else ["request_id"]
    if q is not None:
        cand, approx = q.score_batch(index.codebook, cand, req)
        carry = ["qv", "vector"] if rerank is not None else []
        scored = cand.select(
            "request_id", "user_id", "id", *carry, approx.alias("adc")
        )
        # r17 (guide §2.4, r16 VERDICT #5): one repartition on the
        # output keys serves the dedup aggregate and both later
        # windows — the old row_number-over-(request, user, id) dedup
        # forced its own exchange the per-request windows could not
        # reuse. Duplicate candidate rows are multi-assignment copies
        # with identical adc/qv/vector (centroid-independent codes,
        # checked by the lookup above), so min/first keep the same row
        # content. Same change as ivf.ivf_search_batch.
        wcut = Window.partitionBy(*keys).orderBy(
            F.col("adc").asc_nulls_last(), F.col("id").asc()
        )
        pool = (
            scored.repartition(*keys)
            .groupBy("request_id", "user_id", "id")
            .agg(
                F.min("adc").alias("adc"),
                *[F.first(c).alias(c) for c in carry],
            )
            .withColumn("rk", F.row_number().over(wcut))
            .filter(F.col("rk") <= (rerank if rerank is not None else k))
        )
        score = exact if rerank is not None else F.col("adc")
        if score_decimals is not None:
            score = F.round(score, score_decimals)
        wk = Window.partitionBy(*keys).orderBy(
            F.col("score").asc_nulls_last(), F.col("id").asc()
        )
        return (
            pool.select("request_id", "user_id", "id", score.alias("score"))
            .withColumn("rn2", F.row_number().over(wk))
            .filter(F.col("rn2") <= k)
            .select("request_id", "user_id", "id", "score")
        )
    score = F.round(exact, score_decimals) if score_decimals is not None else exact
    # (examined r17, left alone: this aggregate already rides phase
    # 1's hashpartitioning(request_id, user_id) through the broadcast
    # postings join — plan-verified zero extra exchange; forcing a
    # repartition on the output keys would shuffle the raw candidate
    # rows instead of the deduped ones for no exchange win)
    deduped = (
        cand.select("request_id", "user_id", "id", score.alias("score"))
        .groupBy("request_id", "user_id", "id").agg(F.min("score").alias("score"))
    )
    wk = Window.partitionBy(*keys).orderBy(
        F.col("score").asc_nulls_last(), F.col("id").asc()
    )
    return (
        deduped.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= k)
        .select("request_id", "user_id", "id", "score")
    )
