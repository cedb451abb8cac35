"""One registry for the quantizers an IVF index can carry.

The reference binds ONE quantizer type per collection through one trait
(QuantizerType, rs/index/src/collection/mod.rs:145-149, enums.rs:4-9).
Here each quantizer is one registry entry, keyed by the name stored in
index meta.json and CollectionConfig.quantizer. `ivf`, `multi_ivf` and
the catalog make one `lookup` and call the entry; none of them branch
on the name. An entry owns:

  - train / encode of the postings;
  - save / load of its codebook, both inside an index directory
    (meta.json or a parquet dir) and as the collection-root artifact;
  - the single-query score Column plus any scan-side step it needs
    (per-user tables join or collect only the requested users' books);
  - the batch score Column (one query vector per row in `qv`).

Two codebook scopes:
  global    one codebook object for the whole index: pq, opq, rabitq,
            and sq on a single-tenant ivf index (SqCodebook, codes
            persisted packed, 1 byte/dim);
  per-user  a (user_id, ...) codebook table: pq_user, opq_user, and sq
            on multi-user indexes (the per-tenant min/max table).
`sq` therefore has two readings; `lookup(..., multi_user=False)` picks
the global one.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from muopdb_spark.index import opq, pq, rabitq, sq


class Quantizer:
    """A registry entry: train/encode (below), pack/unpack of the
    postings' on-disk form, save/load inside an index directory,
    read_artifact/write_artifact at the collection root, and the
    single-query `score` / batch `score_batch` Columns (see _Global)."""

    name: str
    per_user = False
    # Codes depend only on the vector, never on the centroid it was
    # posted under. The batch paths' min/first multi-assignment dedup
    # keeps ONE copy of a duplicated (query, id) candidate, which is
    # exact only under this invariant (pinned by tests/test_quantizer).
    # An IVF-residual quantizer would declare False, and every such
    # dedup site refuses it (lookup(..., dedup=True)).
    codes_centroid_independent = True
    # CollectionConfig refuses dot/cosine: the estimator IS an L2
    # distance and no exact score replaces it without rerank.
    l2_metric_only = False

    @property
    def single_user(self) -> "Quantizer | None":
        """The reading a single-tenant ivf index uses (None: needs a
        multi-user index)."""
        return self

    def train(self, df: DataFrame, *, vec_col: str = "vector",
              user_col: str = "user_id", num_subvectors: int = 4,
              num_centers: int = 16, training_sample: int = 10_000,
              seed: int = 42):
        """The PQ-family fit; entries with fewer knobs override."""
        kw = dict(user_col=user_col) if self.per_user else {}
        return self._train(
            df, vec_col=vec_col, num_subvectors=num_subvectors,
            num_centers=num_centers, training_sample=training_sample,
            seed=seed, **kw,
        )

    def encode(self, postings: DataFrame, codebook, *,
               vec_col: str = "vector", user_col: str = "user_id") -> DataFrame:
        kw = dict(user_col=user_col) if self.per_user else {}
        return self._encode(postings, codebook, vec_col=vec_col, **kw)

    def pack(self, postings: DataFrame) -> DataFrame:
        """Postings -> their on-disk form (identity unless overridden)."""
        return postings

    def unpack(self, postings: DataFrame, codebook) -> DataFrame:
        return postings


class _Global(Quantizer):
    """One codebook object; the index keeps it inline in meta.json and
    the collection root as <name>_codebook.json."""

    codebook_cls: type

    def to_meta(self, codebook):
        return json.loads(codebook.to_json())

    def from_meta(self, value):
        return self.codebook_cls.from_json(json.dumps(value))

    def save(self, codebook, path: str, meta: dict) -> None:
        meta["codebook"] = self.to_meta(codebook)

    def load(self, spark: SparkSession, path: str, meta: dict):
        return self.from_meta(meta["codebook"])

    def _artifact(self, root: str) -> str:
        return os.path.join(root, f"{self.name}_codebook.json")

    def read_artifact(self, spark: SparkSession, root: str):
        if not os.path.exists(self._artifact(root)):
            return None
        with open(self._artifact(root)) as f:
            return self.codebook_cls.from_json(f.read())

    def write_artifact(self, spark: SparkSession, root: str, codebook):
        from muopdb_spark.catalog.collection import _atomic_write

        _atomic_write(self._artifact(root), codebook.to_json())
        return codebook

    def score(self, codebook, query_vector, scan: DataFrame,
              user_ids) -> tuple[DataFrame, Column]:
        """(scan, estimated distance Column) for one query vector."""
        return scan, self._score(query_vector, codebook)

    def score_batch(self, codebook, cand: DataFrame,
                    requests: DataFrame) -> tuple[DataFrame, Column]:
        """(cand, estimated distance Column) against each row's `qv`;
        per-user entries read the batch's users from `requests`."""
        return cand, self._score_batch(codebook)


class Pq(_Global):
    name = "pq"
    codebook_cls = pq.PqCodebook
    _train = staticmethod(pq.train_pq)
    _encode = staticmethod(pq.pq_encode)
    _score = staticmethod(pq.pq_adc_score)
    _score_batch = staticmethod(pq.pq_adc_score_batch)

    def to_meta(self, codebook):
        return codebook.as_lists()  # meta.json stores the bare book lists

    def from_meta(self, value):
        return pq.PqCodebook([np.asarray(b, dtype=np.float64) for b in value])


class Opq(_Global):
    """PQ after a learned orthonormal rotation (index/opq.py): same code
    bytes on the postings, better recall per byte."""

    name = "opq"
    codebook_cls = opq.OpqCodebook
    _train = staticmethod(opq.train_opq)
    _encode = staticmethod(opq.opq_encode)
    _score = staticmethod(opq.opq_adc_score)
    _score_batch = staticmethod(opq.opq_adc_score_batch)


class RabitQ(_Global):
    """1 bit/dimension sign codes + two scalars, scored by the SIGMOD'24
    binary estimator (index/rabitq.py)."""

    name = "rabitq"
    codebook_cls = rabitq.RabitQCodebook
    _encode = staticmethod(rabitq.rabitq_encode)
    _score = staticmethod(rabitq.rabitq_est_score)
    _score_batch = staticmethod(rabitq.rabitq_est_score_batch)

    def train(self, df, *, vec_col="vector", seed=42, **_):
        return rabitq.train_rabitq(df, vec_col=vec_col, seed=seed)


class SqGlobal(_Global):
    """`sq` on a single-tenant ivf index: one SqCodebook; postings
    persist PACKED (1 byte/dim — the 4x storage form) as `sq_packed`."""

    name = "sq"
    codebook_cls = sq.SqCodebook
    _encode = staticmethod(sq.sq_encode)
    _score = staticmethod(sq.sq_est_score)
    _score_batch = staticmethod(sq.sq_est_score_batch)

    def train(self, df, *, vec_col="vector", **_):
        return sq.train_sq(df, vec_col=vec_col)

    def pack(self, postings):
        return postings.withColumn(
            "sq_packed", sq.sq_pack_expr(F.col("sq_code"))
        ).drop("sq_code")

    def unpack(self, postings, codebook):
        return postings.withColumn(
            "sq_code", sq.sq_unpack_expr(F.col("sq_packed"), codebook.dim)
        ).drop("sq_packed")


class _PerUser(Quantizer):
    """A (user_id, ...) codebook table: each tenant quantizes against
    its own book, the mitigation for the measured minority-user recall
    skew of a shared codebook (tools/pq_recall_skew.py). The index keeps
    the table as a parquet dir named `table`; the collection root keeps
    the authoritative, swap-managed copy under the same name."""

    per_user = True
    l2_metric_only = True
    table: str

    @property
    def single_user(self):
        return None

    def save(self, codebook, path, meta):
        codebook.write.mode("overwrite").parquet(os.path.join(path, self.table))

    def load(self, spark, path, meta):
        return spark.read.parquet(os.path.join(path, self.table))

    def read_artifact(self, spark, root):
        from muopdb_spark.catalog.collection import _read_swapped_parquet

        path = os.path.join(root, self.table)
        if os.path.isdir(path) or os.path.isdir(path + ".old"):
            return _read_swapped_parquet(spark, path)
        return None

    def write_artifact(self, spark, root, codebook):
        from muopdb_spark.catalog.collection import (
            _read_swapped_parquet,
            _swap_parquet_dir,
        )

        path = os.path.join(root, self.table)
        _swap_parquet_dir(codebook, path)
        return _read_swapped_parquet(spark, path)

    def score(self, codebook, query_vector, scan, user_ids):
        # one small collect bounded by the REQUEST's user list (the
        # reference's per-user query loop, driver-side)
        return scan, self._adc(query_vector, self._collect(codebook, user_ids))

    def score_batch(self, codebook, cand, requests):
        # bounded by the batch's DISTINCT users
        users = [r["user_id"] for r in requests.select("user_id").distinct().collect()]
        return cand, self._adc_batch(self._collect(codebook, users))


class PqUser(_PerUser):
    name = "pq_user"
    table = "pq_codebook"
    _train = staticmethod(pq.train_pq_per_user)
    _encode = staticmethod(pq.pq_encode_per_user)
    _collect = staticmethod(pq.collect_pq_books)
    _adc = staticmethod(pq.pq_adc_score_per_user)
    _adc_batch = staticmethod(pq.pq_adc_score_batch_per_user)


class OpqUser(_PerUser):
    """One (rotation, codebook) pair per tenant: the pq_user center
    budget plus a rotation fitted to that tenant's covariance."""

    name = "opq_user"
    table = "opq_codebook"
    _train = staticmethod(opq.train_opq_per_user)
    _encode = staticmethod(opq.opq_encode_per_user)
    _collect = staticmethod(opq.collect_opq_books)
    _adc = staticmethod(opq.opq_adc_score_per_user)
    _adc_batch = staticmethod(opq.opq_adc_score_batch_per_user)


class Sq(_PerUser):
    """`sq` on multi-user indexes: a (user_id, mins, scales) table; each
    row encodes and estimates in ITS OWN user's range via a broadcast
    join of the table (2*dim doubles per user)."""

    name = "sq"
    table = "sq_codebook"

    @property
    def single_user(self):
        return SQ_GLOBAL

    def train(self, df, *, vec_col="vector", user_col="user_id", **_):
        return sq.train_sq_per_user(df, user_col=user_col, vec_col=vec_col)

    def encode(self, postings, codebook, *, vec_col="vector", user_col="user_id"):
        return (
            postings.join(F.broadcast(codebook), user_col)
            .withColumn("sq_code", sq.sq_encode_cols(
                F.col(vec_col), F.col("mins"), F.col("scales"), F.size("mins")))
            .drop("mins", "scales")
        )

    def score(self, codebook, query_vector, scan, user_ids):
        scan = scan.join(F.broadcast(codebook), "user_id")
        return scan, sq.sq_est_score_cols(query_vector, F.col("mins"), F.col("scales"))

    def score_batch(self, codebook, cand, requests):
        return self.score(codebook, F.col("qv"), cand, None)


SQ_GLOBAL = SqGlobal()
QUANTIZERS: dict[str, Quantizer] = {
    q.name: q for q in (Pq(), Opq(), RabitQ(), Sq(), PqUser(), OpqUser())
}
NAMES = ("none", *QUANTIZERS)


def lookup(name: str, *, multi_user: bool, metric: str | None = None,
           dedup: bool = False) -> Quantizer | None:
    """The registry entry for `name` (None for the unquantized "none").

    multi_user=False selects the single-tenant reading (ivf); per-user
    entries have none. `metric`, when given, must be l2 (every estimator
    is an L2 estimator). `dedup=True` marks a min/first dedup site,
    which refuses codes that depend on the centroid."""
    if name == "none":
        return None
    q = QUANTIZERS.get(name)
    if q is None:
        raise ValueError(f"unknown quantizer {name!r} ({'|'.join(NAMES)})")
    if not multi_user:
        q = q.single_user
        if q is None:
            raise ValueError(f"quantizer {name!r} needs a multi-user index")
    if metric is not None and metric != "l2":
        raise ValueError("quantized scoring supports the l2 metric only")
    if dedup and not q.codes_centroid_independent:
        raise ValueError(
            f"quantizer {name!r} declares centroid-dependent codes; the "
            "min/first multi-assignment dedup would keep an arbitrary copy"
        )
    return q
