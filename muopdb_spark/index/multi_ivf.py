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

Search has one probe per shape and one ranking tail. A single request
(any number of users) collects the requested users' centroids, probes
them on the driver (`probe`), reads only the probed (user_id,
centroid_id) postings partitions through literal filters
(`probed_filter` — the partition-pruning analog of per-user index-blob
opens, multi_spann/index.rs:100-137) and scores them against the
literal query vector (`rank_request`); Collection.ann_search runs the
same steps over its segments, or, when the postings it keeps on the
driver cover an unquantized request, ranks them in numpy by `rank`'s
rules (Collection._ann_resident). A batch of requests probes with one
window (`probe_window`) and scores each row against its own `qv`.
Every shape then ends in `rank`, keyed by nothing for one request and
by the request (or query) id for a batch; ivf.py's single-tenant
searches run through it as one constant user.
"""

from __future__ import annotations

import functools
import operator
from dataclasses import dataclass
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from muopdb_spark.functions.distance import score_expr, score_np
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


def centroid_arrays(rows, users: Sequence[int], dim: int) -> dict[int, tuple]:
    """user_id -> (centroid ids, float64 centroid matrix) from collected
    (user_id, centroid_id, centroid) rows. A requested user absent from
    the rows maps to empty arrays."""
    found: dict[int, list] = {}
    for r in rows:
        found.setdefault(r["user_id"], []).append((r["centroid_id"], r["centroid"]))
    out = {}
    for u in users:
        got = found.get(u, [])
        out[u] = (
            np.array([c for c, _ in got], dtype=np.int64),
            np.array([v for _, v in got], dtype=np.float64).reshape(len(got), dim),
        )
    return out


def probe(arrays: dict, metric: str, query_vector, num_probes: int,
          ratio: float | None) -> dict[int, list[int]]:
    """Phase 1 of a single request, on the driver: user_id -> probed
    centroid ids from `centroid_arrays`. Per user the num_probes
    nearest by (distance, centroid_id), scored by score_np (bit for bit
    score_expr), then the V19 ratio prune (spann/index.rs:233-246).
    Users with nothing probed are left out.

    The prune keeps d - d_min <= abs(d_min) * ratio — a DELIBERATE
    deviation from the reference's `min * ratio`: for the negated-dot
    metric d_min is negative, making the reference's threshold negative
    so every non-nearest centroid is dropped; abs() keeps the intended
    "within ratio of nearest" semantics for both metrics (recall-safe
    superset of the reference's probe set). probe_window is the same
    rule for batches."""
    out: dict[int, list[int]] = {}
    for u, (ids, matrix) in arrays.items():
        d = score_np(metric, matrix, query_vector)
        order = np.lexsort((ids, d))[:max(num_probes, 0)]
        ids, d = ids[order], d[order]
        if ratio is not None and len(d):
            ids = ids[d - d[0] <= abs(d[0]) * ratio]
        if len(ids):
            out[u] = ids.tolist()
    return out


def probed_filter(probed: dict[int, list[int]]):
    """The probed (user_id, centroid_id) pairs as one literal predicate.
    Postings are partitioned by (user_id, centroid_id), so it prunes
    partitions statically, with no join to plan — the analog of the
    reference's per-user index-blob opens (multi_spann/index.rs:100-137)."""
    conds = [(F.col("user_id") == u) & F.col("centroid_id").isin(cids)
             for u, cids in probed.items()]
    return functools.reduce(operator.or_, conds) if conds else F.lit(False)


def probe_window(scored: DataFrame, keys: Sequence[str], num_probes: int,
                 ratio: float | None) -> DataFrame:
    """Phase 1 for a batch, as one window: the rows of `scored` (with
    `d` and `centroid_id`) that are among the num_probes nearest per
    `keys` by (d, centroid_id) and pass the ratio prune — `probe`'s
    rule, set-based, so N requests are one job rather than N collects."""
    w = Window.partitionBy(*keys).orderBy(F.col("d").asc(), F.col("centroid_id").asc())
    out = scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= num_probes)
    if ratio is not None:
        d_min = F.min("d").over(Window.partitionBy(*keys))
        out = out.withColumn("d_min", d_min).filter(
            F.col("d") - F.col("d_min") <= F.abs(F.col("d_min")) * ratio
        )
    return out


def rank(
    cand: DataFrame,
    exact: Column,
    k: int,
    *,
    approx: Column | None = None,
    keys: Sequence[str] = (),
    rerank: int | None = None,
    per_user: bool = False,
    score_decimals: int | None = None,
) -> DataFrame:
    """Phase 2's one ranking tail, for every search shape: `keys` is []
    for a single request, ["request_id"] or ["query_id"] for a batch.
    `cand` is the probed, pre-filtered candidate rows (`keys`, user_id,
    id, vector, [qv]) and the caller has scored them: `exact` is the
    exact distance Column, `approx` the quantizer's estimate of it (None
    when unquantized).

    Multi-assignment copies are deduped per (keys, user, id) (V21): the
    min exact score, or, quantized, the min estimate with the first
    vector (copies carry identical codes, so any copy is the one —
    lookup(..., dedup=True) refuses codes for which that fails). A
    quantized request then keeps each user's top `rerank` (or k)
    candidates by (estimate, id), a recall-safe superset of a global
    cut, and re-scores them exactly when `rerank` is set (exact given
    candidate containment, recall-pytest-gated). The final top-k by
    (score asc NaN last, id) (utils.rs:95-113) is per `keys`, across
    the users (the reference's cross-user merge, snapshot.rs:60-61), or
    per (keys, user) with per_user=True. A single request's output is
    ordered: by (score, id), or per_user by (user, score, id).

    A quantized batch repartitions on its final cut's keys before the
    dedup: that one exchange serves the aggregate and both windows,
    where the aggregate alone would shuffle on (keys, user, id) and the
    windows again. A single request adds none: its aggregate reduces
    partially before hashing on (user, id), and the per-user cut keeps
    a partial top-`rerank` per task before its exchange, so no one task
    receives every candidate. The unquantized aggregate adds none
    either: it rides the batch probe window's partitioning."""
    pair = [*keys, "user_id", "id"]
    cut = [*keys, "user_id"] if per_user else list(keys)
    order = [F.col("score").asc_nulls_last(), F.col("id").asc()]
    if approx is not None:
        # the columns `exact` reads: the vector, and a batch's query
        carry = (["vector", "qv"] if keys else ["vector"]) if rerank is not None else []
        cand = cand.select(*pair, *carry, approx.alias("adc"))
        if keys:
            cand = cand.repartition(*cut)
        wcut = Window.partitionBy(*keys, "user_id").orderBy(
            F.col("adc").asc_nulls_last(), F.col("id").asc())
        cand = (
            cand.groupBy(*pair)
            .agg(F.min("adc").alias("adc"), *[F.first(c).alias(c) for c in carry])
            .withColumn("crnk", F.row_number().over(wcut))
            .filter(F.col("crnk") <= (rerank if rerank is not None else k))
        )
        score = exact if rerank is not None else F.col("adc")
    else:
        score = exact
    if score_decimals is not None:
        score = F.round(score, score_decimals)
    deduped = cand.select(*pair, score.alias("score"))
    if approx is None:
        deduped = deduped.groupBy(*pair).agg(F.min("score").alias("score"))
    if not cut:
        return deduped.orderBy(*order).limit(k).select(*pair, "score")
    out = (
        deduped.withColumn("rnk", F.row_number().over(Window.partitionBy(*cut).orderBy(*order)))
        .filter(F.col("rnk") <= k)
        .select(*pair, "score")
    )
    return out if keys else out.orderBy("user_id", *order)


def rank_request(scan: DataFrame, q, codebook, metric: str,
                 query_vector: Sequence[float], users: Sequence[int], k: int, *,
                 pre_filter_ids: DataFrame | None = None, **tail) -> DataFrame:
    """Phase 2 of one request over its probed postings `scan`, the core
    multi_ivf_search_users, Collection.ann_search and ivf_search share:
    the pre_filter_ids semi-join (F8 plan_with_ids, planner.rs:45-61) on
    (user_id, id) when it has a user_id column and on id otherwise, the
    quantizer's score against the literal query vector (the stored
    codes scored inside the scan, mod.rs:145-149), then `rank`."""
    if pre_filter_ids is not None:
        on = ["user_id", "id"] if "user_id" in pre_filter_ids.columns else ["id"]
        scan = scan.join(pre_filter_ids.select(*on).distinct(), on=on, how="left_semi")
    approx = None
    if q is not None:
        scan, approx = q.score(codebook, query_vector, scan, users)
    qv = F.lit([float(x) for x in query_vector]).cast("array<double>")
    return rank(scan, score_expr(metric, F.col("vector"), qv), k, approx=approx, **tail)


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
    """Search N users' independent indexes for one request
    (snapshot.rs:39-64 searches any number of users per request), in
    the reference's two phases (spann/index.rs:211-266): one collect of
    the requested users' centroids, `probe` on the driver, then one plan
    — postings filtered by the probed pairs as literal partition filters
    (`probed_filter`), pre-filtered, and ranked by `rank`.

    per_user=False: global top-k across users. per_user=True: top-k PER
    user. pre_filter_ids: F8 plan_with_ids as a leftsemi join, on
    (user_id, id) when it has a user_id column (each user keeps only its
    listed ids) and on id otherwise (the ids are kept for every user);
    the match set never collects to the driver. Quantized indexes score
    the stored codes inside the scan; `rerank=N` re-scores each user's
    quantized top-N exactly. Collection.ann_search runs the same probe
    and the same `rank_request` over its segments."""
    q = lookup(index.quantizer, multi_user=True, metric=index.metric, dedup=True)
    if num_probes is None:
        num_probes = k
    users = [int(u) for u in user_ids]
    rows = (
        index.centroids.filter(F.col("user_id").isin(users))
        .select("user_id", "centroid_id", "centroid").collect()
    )
    probed = probe(centroid_arrays(rows, users, len(query_vector)), index.metric,
                   query_vector, num_probes, centroid_distance_ratio)
    scan = index.postings.filter(probed_filter(probed))
    if pre_filter is not None:
        scan = scan.filter(pre_filter)
    return rank_request(scan, q, index.codebook, index.metric, query_vector, users, k,
                        pre_filter_ids=pre_filter_ids, rerank=rerank, per_user=per_user,
                        score_decimals=score_decimals)


def multi_ivf_search(
    index: MultiIvfIndex,
    user_id: int,
    query_vector: Sequence[float],
    k: int,
    **kw,
) -> DataFrame:
    """Search ONE user's index — multi_ivf_search_users for one user."""
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
    user_id (small per user) and ranks them per (request, user) with
    `probe_window` — `probe`'s rule, batched. Phase 2 joins the probed (request, user,
    centroid) rows to the postings ON THE POSTINGS' PARTITIONING KEY
    (user_id, centroid_id) — postings never shuffle, only the slim probe
    table moves. Per-request dedup and top-k (global across the
    request's users, per_user=True for per-user cuts) are `rank`'s,
    keyed by request_id.

    pre_filter_ids: PER-REQUEST F8 plan_with_ids (planner.rs:45-61; the
    Search RPC carries one filter per request) — a (request_id, id)
    DataFrame semi-joined into the candidate scan on both keys.

    Quantized indexes score stored codes inside the scan via the batch
    estimators (codebook in the UDF closure, requests stream through as
    (qv, code) pairs — the reference's quantizer-always-on serving,
    rs/index/src/collection/mod.rs:145-149); `rerank=N` keeps each
    (request, user)'s quantized top-N, as `rank` does, and re-scores it
    exactly.

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
    probes = probe_window(scored, ["request_id", "user_id"], num_probes,
                          centroid_distance_ratio)
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
    approx = None
    if q is not None:
        cand, approx = q.score_batch(index.codebook, cand, req)
    return rank(cand, score_expr(index.metric, F.col("vector"), F.col("qv")), k,
                approx=approx, keys=["request_id"], rerank=rerank, per_user=per_user,
                score_decimals=score_decimals)
