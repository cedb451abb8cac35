"""Collection catalog + LSM-style segment lifecycle.

The reference Collection (rs/index/src/collection/core.rs:164) is a
config + versioned set of immutable segments + WAL + mutable in-memory
segment. Spark-first re-expression (SURVEY.md §1.1, §2.1, §2.9):

  layout on disk (any Hadoop-compatible FS):
    <root>/<name>/collection_config.json      (S1 DDL artifact; analog of
                                               collection_config.json,
                                               rs/index/src/collection/reader.rs:254)
    <root>/<name>/wal/                        staged inserts (parquet,
                                               seq_no column) — the WAL
    <root>/<name>/tombstones/                 delete marks (S4; analog of
                                               invalidated_ids.rs:9-44)
    <root>/<name>/segments/<seg>/docs/        flushed immutable docs
    <root>/<name>/versions/version_N.json     TOC (rs/index/src/collection/
                                               mod.rs:20-53): active segment
                                               names + flushed seq_no

  semantics:
    - insert/remove append with a monotonic seq_no (W3; wal/entry.rs:6-24)
    - flush (S5; core.rs:867-976) freezes WAL rows > flushed_seq_no into
      a new immutable segment and commits a new TOC version atomically
      (write temp + rename — the version-file swap of core.rs:1014-1162)
    - searches read ONLY flushed segments (W5 read-your-writes boundary:
      core.rs:812-813 "not immediately searchable") and anti-join
      tombstones when any exist (V20); each segment's tables are opened
      once per Collection handle
    - merge_segments / vacuum (S10, §4.2 compaction; optimizers/merge.rs:38,
      vacuum.rs:38) rewrite segments and swap the TOC; old versions remain
      readable (MVCC snapshots, core.rs:978-1011) until garbage-collected
    - auto_optimize applies the reference's default policies: vacuum when
      deleted/total > 0.1 (immutable_segment.rs:75-82), merge when
      segment count > max_segments (collection.rs:168-170)
"""

from __future__ import annotations

import functools
import json
import operator
import os
import tempfile
import uuid
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from muopdb_spark.index.multi_ivf import (
    build_multi_ivf, centroid_arrays, multi_ivf_load, multi_ivf_save, probe,
    probed_filter, rank,
)
from muopdb_spark.index.quantizer import QUANTIZERS, lookup


@dataclass
class CollectionConfig:
    """Analog of CollectionConfig (rs/config/src/collection.rs:8)."""

    name: str
    num_features: int
    metric: str = "l2"                       # DistanceType (enums.rs:21-26)
    attribute_schema: dict = field(default_factory=dict)  # field -> text|keyword|int|float|bool
    num_centroids: int = 10                  # collection.rs:65-69
    max_posting_size: int | None = None
    max_clusters_per_vector: int = 1
    distance_threshold: float = 0.1
    quantizer: str = "none"  # a quantizer.NAMES entry (enums.rs:4-9 + SQ8/OPQ)
    pq_subvectors: int = 4                   # collection.rs:43-63 subvector geometry
    pq_centers: int = 16
    vacuum_deleted_ratio: float = 0.1        # immutable_segment.rs:75-82
    max_segments: int = 10                   # collection.rs:168-170
    # Parquet bloom filter on doc_id in flushed segments (0 disables).
    # The delete/lookup path probes segments by doc_id equality; row-
    # group min/max stats rarely prune on a hash-distributed id, so the
    # bloom filter is what lets a point probe skip row groups — the
    # columnar analog of the reference's per-segment id set
    # (multi_spann/builder.rs:16-26). ndv sizes the filter per the
    # parquet-mr writer contract (expected distinct doc_ids per file).
    bloom_filter_ndv: int = 100_000

    def validate(self) -> None:
        """Reject config combinations whose search results would be
        silently wrong. A quantizer that declares l2_metric_only (the
        per-user ones) decodes to an L2-range estimate, so under 'dot'
        or 'cosine' the candidate ranking is a DIFFERENT metric: rerank
        recovers ordering only if containment happens to hold, and
        without rerank the returned score IS the wrong metric. Refuse at
        create/build time instead. Names outside quantizer.NAMES fail
        the registry lookup."""
        q = lookup(self.quantizer, multi_user=True)
        if q is not None and q.l2_metric_only and self.metric not in (
            "l2", "l2_squared"
        ):
            ok = " or ".join(
                repr(n) for n, e in QUANTIZERS.items() if not e.l2_metric_only)
            raise ValueError(
                f"quantizer={self.quantizer!r} supports only l2/l2_squared "
                "metrics (its candidate estimator is an L2 distance); got "
                f"metric={self.metric!r} — use quantizer={ok} "
                "for dot/cosine collections"
            )

    def to_json(self) -> str:
        return json.dumps(asdict(self), indent=2, sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "CollectionConfig":
        return cls(**json.loads(s))


def _attr_kind(spec) -> str:
    """Kind of an attribute_schema value. A spec is either a plain kind
    ("text") or (kind, language) — and the latter arrives as a TUPLE
    from in-process config but as a LIST after the config's JSON
    round-trip (Collection.open), so any `isinstance(spec, tuple)` or
    `spec in ("text", ...)` test silently drops language-tagged fields
    on reopened collections (r16 review finding: term_search raised a
    raw KeyError after restart, and build_index never built the terms
    index for such fields)."""
    return spec if isinstance(spec, str) else spec[0]


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


_APPEND_LOCKS: dict[str, "threading.Lock"] = {}
_APPEND_LOCKS_GUARD = None  # created lazily (threading imported in-function)


def _append_lock_for(root: str) -> "threading.Lock":
    """Process-wide lock per collection directory (normalized path).
    The FileOutputCommitter `_temporary/0` staging race this guards is a
    property of the DIRECTORY, not of a Collection instance."""
    import threading

    global _APPEND_LOCKS_GUARD
    if _APPEND_LOCKS_GUARD is None:
        _APPEND_LOCKS_GUARD = threading.Lock()
    key = os.path.realpath(root)
    with _APPEND_LOCKS_GUARD:
        return _APPEND_LOCKS.setdefault(key, threading.Lock())


def _union(parts: list[DataFrame]) -> DataFrame:
    return functools.reduce(DataFrame.unionByName, parts)


def _atomic_write(path: str, content: str) -> None:
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d)
    with os.fdopen(fd, "w") as f:
        f.write(content)
    os.replace(tmp, path)  # atomic on POSIX — the TOC version swap


def _swap_parquet_dir(df, path: str):
    """Crash-safe replacement of the parquet DIRECTORY at `path` (the
    directory analog of _atomic_write): write the new table to a
    uniquely-named sibling, then two-rename swap (current -> .old,
    new -> current) and drop .old. The only non-atomic window is
    between the two renames, and _read_swapped_parquet recovers it from
    .old; a crash during the write leaves only a stale .swap-* sibling,
    which the next swap or read cleans up."""
    import shutil
    import uuid

    tmp = f"{path}.swap-{uuid.uuid4().hex}"
    df.write.mode("overwrite").parquet(tmp)
    old = path + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def _read_swapped_parquet(spark: SparkSession, path: str):
    """Read a _swap_parquet_dir-managed directory, recovering from a
    crash inside the swap window (current missing, .old present ->
    restore .old) and sweeping stale .swap-* staging siblings. The
    sweep is AGE-GATED (r16): an unconditional sweep raced a
    concurrent _swap_parquet_dir in the same process — the reader
    deleted the writer's in-flight staging dir and failed its swap.
    Only leftovers old enough to be crash debris are removed; data is
    never at risk either way (staging is invisible until renamed)."""
    import glob
    import shutil
    import time

    old = path + ".old"
    if not os.path.isdir(path) and os.path.isdir(old):
        os.rename(old, path)
    for stale in glob.glob(path + ".swap-*"):
        try:
            if time.time() - os.path.getmtime(stale) > 3600:
                shutil.rmtree(stale, ignore_errors=True)
        except OSError:
            continue  # concurrently finished/removed: nothing to sweep
    return spark.read.parquet(path)


class Collection:
    """One collection = one directory tree + a SparkSession."""

    def __init__(self, spark: SparkSession, root: str, config: CollectionConfig):
        self.spark = spark
        self.root = os.path.join(root, config.name)
        self.config = config
        # Serializes in-process WAL/tombstone appends: Spark's Hadoop
        # FileOutputCommitter stages every job under <dir>/_temporary/0,
        # so two concurrent appends to the SAME directory can race —
        # one job's commit-cleanup deletes the other's in-flight task
        # files and rows are silently lost. seq_no uniqueness is still
        # claim-file-arbitrated (works cross-process); only the physical
        # append is serialized, matching the reference's in-process
        # group commit (core.rs AtomicU64 + single WAL appender). On a
        # real cluster, cross-process writers would instead use a
        # manifest-committing table format or per-batch output dirs.
        # The lock is keyed on the collection ROOT in a module-level
        # registry: the _temporary/0 race is per-directory, and one
        # process commonly holds several Collection objects on the same
        # directory (Collection.create then Collection.open), which
        # per-instance locks would not serialize.
        self._append_lock = _append_lock_for(self.root)
        # (segment, kind) -> opened table, kind in docs | ivf | terms,
        # or the centroids kind: user_id -> the ivf index's centroid
        # arrays, filled per user on first request (_centroid_arrays).
        # Segment directories never change once the TOC lists them
        # (flush, vacuum and merge always write a new uuid-named
        # segment), so each is opened once per handle, like the
        # reference's reopen-as-ImmutableSegment at flush (core.rs:
        # 928-950): later requests reuse its file listing and schema.
        self._opened: dict[tuple[str, str], object] = {}

    # ------------------------------------------------------------ DDL

    @classmethod
    def create(cls, spark: SparkSession, root: str, config: CollectionConfig) -> "Collection":
        """S1 CreateCollection: persist config + empty TOC version_0."""
        config.validate()
        col = cls(spark, root, config)
        if os.path.exists(col._config_path()):
            raise ValueError(f"collection {config.name!r} already exists")
        _atomic_write(col._config_path(), config.to_json())
        col._write_toc({"version": 0, "segments": [], "flushed_seq_no": -1})
        return col

    @classmethod
    def open(cls, spark: SparkSession, root: str, name: str) -> "Collection":
        cfg_path = os.path.join(root, name, "collection_config.json")
        with open(cfg_path) as f:
            config = CollectionConfig.from_json(f.read())
        return cls(spark, root, config)

    def _config_path(self) -> str:
        return os.path.join(self.root, "collection_config.json")

    # ------------------------------------------------------------ TOC

    def _versions_dir(self) -> str:
        return os.path.join(self.root, "versions")

    def current_version(self) -> int:
        vs = [
            int(p.split("_")[1].split(".")[0])
            for p in os.listdir(self._versions_dir())
            if p.startswith("version_")
        ]
        return max(vs)

    def toc(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        with open(os.path.join(self._versions_dir(), f"version_{v}.json")) as f:
            return json.load(f)

    def _write_toc(self, toc: dict) -> None:
        _atomic_write(
            os.path.join(self._versions_dir(), f"version_{toc['version']}.json"),
            json.dumps(toc, indent=2, sort_keys=True),
        )

    def _commit_toc(
        self,
        segments: list[str],
        flushed_seq_no: int,
        tomb_applied: dict[str, int] | None = None,
        indexes: dict[str, list[str]] | None = None,
    ) -> int:
        """tomb_applied maps segment -> highest tombstone seq_no already
        physically applied (rows dropped) when the segment was written:
        -1 for fresh flushes, the rewrite-time tombstone high-water mark
        for vacuum/merge outputs. Tombstones at or below every segment's
        watermark are fully applied and can be dropped (the reference
        clears invalidated ids the same way when optimizers rewrite a
        segment).

        indexes maps segment -> list of durable index artifacts under
        segments/<seg>/index/ ("ivf", "terms") — the TOC is the single
        source of truth for what a reader may open (TableOfContent
        analog, rs/index/src/collection/mod.rs:20-53). Entries for
        unchanged segments carry forward; dropped segments drop theirs."""
        v = self.current_version() + 1
        prev = self.toc()
        prev_applied = prev.get("tomb_applied", {})
        prev_idx = prev.get("indexes", {})
        applied = {s: (tomb_applied or {}).get(s, prev_applied.get(s, -1)) for s in segments}
        idx = {s: (indexes or {}).get(s, prev_idx.get(s, [])) for s in segments}
        self._write_toc({
            "version": v, "segments": sorted(segments),
            "flushed_seq_no": flushed_seq_no, "tomb_applied": applied,
            "indexes": idx,
        })
        return v

    # ---------------------------------------------------------- writes

    def _wal_dir(self) -> str:
        return os.path.join(self.root, "wal")

    def _tombstone_dir(self) -> str:
        return os.path.join(self.root, "tombstones")

    def _seq_path(self) -> str:
        return os.path.join(self.root, "seq_counter.json")

    def _seq_claims_dir(self) -> str:
        new = os.path.join(self.root, "seq_claims")
        # pre-r16 layout accidentally nested the collection name twice
        # (<root>/<name>/<name>/seq_claims) — besides contradicting the
        # documented tree, a collection literally named "wal"/"segments"
        # would nest its claims inside the WAL/segment parquet dirs and
        # break their reads. Stay sticky to an existing legacy dir so
        # every writer keeps arbitrating in ONE directory.
        legacy = os.path.join(self.root, self.config.name, "seq_claims")
        if os.path.isdir(legacy):
            return legacy
        return new

    def _next_seq_no(self) -> int:
        """Allocate the next monotonic seq_no, SAFE FOR CONCURRENT
        WRITERS: the persisted counter file is only a hint; the actual
        allocation is an exclusive-create claim file (O_EXCL is atomic
        on POSIX and on HDFS-style create-if-absent), so two racing
        writers can never mint the same seq_no — the filesystem
        arbitrates, the way the reference's in-process AtomicU64 does
        (core.rs group commit). Falls back to a one-time WAL scan when
        the counter is absent (pre-counter collections). Claim files at
        or below the flushed watermark are pruned at flush."""
        if os.path.exists(self._seq_path()):
            with open(self._seq_path()) as f:
                n = json.load(f)["next"]
        else:
            n = self._max_seq_no() + 1
        claims = self._seq_claims_dir()
        os.makedirs(claims, exist_ok=True)
        while True:
            try:
                fd = os.open(
                    os.path.join(claims, f"{n:020d}"),
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                )
                os.close(fd)
                break
            except FileExistsError:
                n += 1
        # hint update may race; harmless — claims arbitrate, the hint
        # only shortens the probe walk
        _atomic_write(self._seq_path(), json.dumps({"next": n + 1}))
        return n

    def _prune_seq_claims(self, upto: int) -> None:
        claims = self._seq_claims_dir()
        if not os.path.isdir(claims):
            return
        for name in os.listdir(claims):
            try:
                if int(name) <= upto:
                    os.unlink(os.path.join(claims, name))
            except (ValueError, FileNotFoundError):
                continue

    def _max_seq_no(self) -> int:
        hi = -1
        for d in (self._wal_dir(), self._tombstone_dir()):
            if os.path.isdir(d) and any(p.endswith(".parquet") for p in os.listdir(d)):
                m = self.spark.read.parquet(d).agg(F.max("seq_no")).first()[0]
                hi = max(hi, m if m is not None else -1)
        return hi

    def insert(self, df: DataFrame) -> int:
        """S2 Insert: stamp one seq_no per batch (group commit — the whole
        batch is one WAL append, core.rs:537-745) and append to the WAL.
        Returns the assigned seq_no.

        Vector-length validation runs INSIDE the write job (a
        raise_error branch on the vector column) rather than as a
        separate pre-pass: one scan of the input instead of two, and no
        validate-then-write window for a nondeterministic input to slip
        a wrong-length (or null) vector through. A failed job commits
        nothing (FileOutputCommitter stages under _temporary)."""
        seq = self._next_seq_no()
        msg = f"vector length != num_features={self.config.num_features}"
        checked = df.withColumn(
            "vector",
            F.when(
                F.size("vector") == self.config.num_features, F.col("vector")
            ).otherwise(F.raise_error(F.lit(msg))),
        )
        try:
            with self._append_lock:
                (
                    checked.withColumn("seq_no", F.lit(seq).cast("long"))
                    .write.mode("append").parquet(self._wal_dir())
                )
        except Exception as e:  # surface the named contract error
            if msg in str(e):
                raise ValueError(msg) from e
            raise
        return seq

    def remove(self, user_ids: list[int], doc_ids: list[int]) -> int:
        """S4 Remove: tombstone append, not physical delete."""
        seq = self._next_seq_no()
        rows = [(u, d, seq) for u in user_ids for d in doc_ids]
        tdf = self.spark.createDataFrame(rows, "user_id long, doc_id long, seq_no long")
        with self._append_lock:
            tdf.write.mode("append").parquet(self._tombstone_dir())
        return seq

    def _recover_tombstones(self) -> None:
        """Finish or discard a crashed _prune_tombstones swap (r16).
        The prune rewrites the tombstone dir as write-tmp -> rmtree ->
        rename; a crash between the last two left NO tombstone dir, and
        tombstones() silently read that as EMPTY — every not-yet-applied
        deletion resurrected. Recovery keys off which artifact is
        authoritative: main dir present -> the prune never committed,
        the tmp is a leftover and is discarded; main dir ABSENT and a
        COMPLETE tmp (_SUCCESS) present -> the prune had fully staged
        the survivors, finish the rename. An incomplete tmp without a
        main dir cannot happen (tmp is written before the rmtree)."""
        d = self._tombstone_dir()
        tmp = d + ".rewrite"
        if not os.path.isdir(tmp):
            return
        if os.path.isdir(d):
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
        elif os.path.exists(os.path.join(tmp, "_SUCCESS")):
            os.replace(tmp, d)

    def _has_tombstones(self) -> bool:
        """Whether any tombstone file exists (after crash recovery).
        Checked at plan-build time, the moment tombstones() lists the
        directory, so a read plans no mask when there is nothing to
        mask."""
        self._recover_tombstones()
        d = self._tombstone_dir()
        return os.path.isdir(d) and any(p.endswith(".parquet") for p in os.listdir(d))

    def tombstones(self) -> DataFrame:
        if self._has_tombstones():
            return self.spark.read.parquet(self._tombstone_dir())
        return self.spark.createDataFrame([], "user_id long, doc_id long, seq_no long")

    def _tomb_latest(self, tomb: DataFrame) -> DataFrame:
        """Newest tombstone per (user, doc) — the only one that matters
        for masking, since tombstone seq_nos are totally ordered — with
        the keys renamed apart from the masked table's."""
        return tomb.groupBy("user_id", "doc_id").agg(
            F.max("seq_no").alias("tomb_seq")
        ).select(F.col("user_id").alias("_tu"), F.col("doc_id").alias("_td"), "tomb_seq")

    def _apply_tombstones(
        self, df: DataFrame, tomb: DataFrame | None = None, id_col: str = "doc_id"
    ) -> DataFrame:
        """V20 masking, seq_no-aware: a tombstone hides only rows of `df`
        (keyed by user_id, `id_col`) written AT OR BEFORE it
        (seq_no <= tomb.seq_no), so a doc re-inserted after a remove is
        searchable again — matching the reference, which invalidates
        only ids present at remove time (core.rs remove_impl guards on
        sequence_number). Planned as an anti hash join on the equi keys
        with the seq_no comparison as the join residual — no nested
        loop. Without tombstone files `df` comes back unchanged: an
        empty mask would still cost a shuffle and a join.

        `tomb` lets rewrite paths (merge/vacuum) pass ONE tombstone
        snapshot shared with their applied-watermark computation: a
        fresh read here could see tombstones newer than the watermark
        caller's read — harmless — but the REVERSE (watermark read
        newer than the masking read) would mark a tombstone applied
        without applying it, and the subsequent prune would delete an
        unapplied deletion (r16 review finding on merge_segments)."""
        if tomb is None:
            if not self._has_tombstones():
                return df
            tomb = self.tombstones()
        t = self._tomb_latest(tomb)
        cond = (
            (df["user_id"] == t["_tu"]) & (df[id_col] == t["_td"])
            & (df["seq_no"] <= t["tomb_seq"])
        )
        return df.join(t, cond, "left_anti")

    # ----------------------------------------------------------- flush

    def _segment_dir(self, name: str) -> str:
        return os.path.join(self.root, "segments", name)

    def flush(self) -> str | None:
        """S5 Flush: WAL rows above the flushed watermark become a new
        immutable segment (docs parquet partitioned by user_id); the TOC
        advances atomically; returns the new segment name (None if the
        WAL has nothing new). The watermark makes re-flushing an
        already-flushed WAL range a no-op; end-to-end the guarantee is
        at-least-once for the WRITE path (a crashed writer may re-append
        with a fresh seq_no — same as any at-least-once producer; the
        streaming path dedups replays by batch_id, see
        streaming/ingest.py), exactly-once for flush itself."""
        toc = self.toc()
        wal = self._wal_dir()
        if not (os.path.isdir(wal) and any(p.endswith(".parquet") for p in os.listdir(wal))):
            return None
        pending = self.spark.read.parquet(wal).filter(F.col("seq_no") > toc["flushed_seq_no"])
        if pending.isEmpty():
            return None
        seg = f"segment_{uuid.uuid4().hex[:12]}"
        new_hi = pending.agg(F.max("seq_no")).first()[0]
        writer = (
            pending.repartition("user_id")
            .write.partitionBy("user_id").mode("errorifexists")
        )
        if self.config.bloom_filter_ndv > 0:
            # per-column parquet-mr writer options: a bloom filter on
            # doc_id lets point probes (delete path, id lookup) skip row
            # groups that min/max stats can't prune (docs/SCALE.md §bloom)
            writer = (
                writer.option("parquet.bloom.filter.enabled#doc_id", "true")
                .option(
                    "parquet.bloom.filter.expected.ndv#doc_id",
                    str(self.config.bloom_filter_ndv),
                )
            )
        writer.parquet(os.path.join(self._segment_dir(seg), "docs"))
        self._commit_toc(toc["segments"] + [seg], new_hi)
        self._prune_seq_claims(new_hi)
        return seg

    # ------------------------------------------------------------ reads

    def _open_once(self, seg: str, kind: str, load):
        """The segment's `kind` table, opened by `load()` on first use
        and kept by this handle (see _opened in __init__). Two threads
        racing on a first use both load, and both get the one kept."""
        t = self._opened.get((seg, kind))
        if t is None:
            t = self._opened.setdefault((seg, kind), load())
        return t

    def segment_docs(self, seg: str) -> DataFrame:
        return self._open_once(seg, "docs", lambda: self.spark.read.parquet(
            os.path.join(self._segment_dir(seg), "docs")))

    def docs(self, version: int | None = None, with_tombstones: bool = False) -> DataFrame:
        """All flushed docs at a TOC version (MVCC snapshot read), with
        tombstones anti-joined unless asked otherwise (V20)."""
        toc = self.toc(version)
        segs = toc["segments"]
        if not segs:
            empty = "user_id long, doc_id long, vector array<float>, seq_no long"
            return self.spark.createDataFrame([], empty)
        df = self.segment_docs(segs[0])
        for s in segs[1:]:
            df = df.unionByName(self.segment_docs(s), allowMissingColumns=True)
        if not with_tombstones:
            df = self._apply_tombstones(df)
        return df

    def search(self, user_ids, query_vector, k, *, pre_filter=None, version=None) -> DataFrame:
        """§3.1 Search over all flushed segments: the per-segment /
        per-user loops of snapshot.rs:39-109 collapse into one DataFrame
        plan — union of segments, tombstone anti-join, score, top-k."""
        from muopdb_spark.operators.knn import knn

        return knn(
            self.docs(version=version),
            query_vector, k,
            vector_col="vector", id_col="doc_id",
            metric=self.config.metric,
            user_ids=user_ids, user_col="user_id",
            pre_filter=pre_filter,
        )

    def term_search(self, user_ids, filter_tree, limit, *, version=None) -> DataFrame:
        """§3.2 TermSearch over flushed docs."""
        from muopdb_spark.filters.compiler import FilterSchema, term_search
        from muopdb_spark.functions.text import stemmed_tokens

        docs = self.docs(version=version)
        schema_fields = {
            f: t for f, t in self.config.attribute_schema.items()
            if _attr_kind(t) in ("text", "keyword")
        }
        schema = FilterSchema(schema_fields)
        for fld in schema.fields:
            if schema.kind(fld) == "text":
                docs = docs.withColumn(
                    fld + "_tokens",
                    stemmed_tokens(F.col(fld), schema.language(fld)),
                )
        return term_search(docs, filter_tree, schema, limit,
                           id_col="doc_id", user_ids=user_ids)

    # ------------------------------------------------------ maintenance

    def stats(self) -> dict:
        """A1 doc counts + byte sizes per segment (drives vacuum; the
        admin GetSegments parity — the reference returns segment sizes,
        admin.proto / admin_server.rs). ONE Spark job for all segments:
        segments union with a segment tag column, left join the latest
        tombstones (skipped when there are none: deleted is then 0), one
        groupBy — not a pair of count jobs per segment."""
        toc = self.toc()
        out: dict = {}
        if toc["segments"]:
            df = _union([
                self.segment_docs(s)
                .select("user_id", "doc_id", "seq_no")
                .withColumn("_seg", F.lit(s))
                for s in toc["segments"]
            ])
            deleted = F.lit(0)
            if self._has_tombstones():
                t = self._tomb_latest(self.tombstones())
                df = df.join(
                    t, (df["user_id"] == t["_tu"]) & (df["doc_id"] == t["_td"]), "left"
                )
                deleted = F.sum(
                    F.when(F.col("seq_no") <= F.col("tomb_seq"), 1).otherwise(0))
            agg = (
                df.groupBy("_seg")
                .agg(F.count(F.lit(1)).alias("total"), deleted.alias("deleted"))
                .collect()
            )
            for r in agg:
                out[r["_seg"]] = {"total": r["total"], "deleted": int(r["deleted"] or 0)}
        for seg in toc["segments"]:
            info = out.setdefault(seg, {"total": 0, "deleted": 0})
            info["size_bytes"] = _dir_bytes(self._segment_dir(seg))
        return out

    def merge_segments(self, seg_names: list[str] | None = None) -> str:
        """S10 MergeSegments: rewrite N segments as one; tombstoned rows
        are dropped during the rewrite (merge+vacuum in one pass, like
        optimizers/merge.rs); TOC swap is atomic."""
        toc = self.toc()
        segs = seg_names if seg_names is not None else toc["segments"]
        if not segs:
            return ""
        df = self.segment_docs(segs[0])
        for s in segs[1:]:
            df = df.unionByName(self.segment_docs(s), allowMissingColumns=True)
        # one tombstone snapshot for BOTH the masking join and the
        # applied watermark: the watermark must never exceed what the
        # rewrite actually applied (a concurrent remove() between two
        # separate reads would otherwise be pruned un-applied)
        tomb = self.tombstones()
        df = self._apply_tombstones(df, tomb=tomb)
        hi = tomb.agg(F.max("seq_no")).first()[0]
        applied_hi = hi if hi is not None else -1
        merged = f"segment_{uuid.uuid4().hex[:12]}"
        (
            df.repartition("user_id")
            .write.partitionBy("user_id").mode("errorifexists")
            .parquet(os.path.join(self._segment_dir(merged), "docs"))
        )
        remaining = [s for s in toc["segments"] if s not in set(segs)] + [merged]
        self._commit_toc(remaining, toc["flushed_seq_no"], {merged: applied_hi})
        self._prune_tombstones()
        return merged

    def vacuum(self) -> list[str]:
        """Rewrite any segment whose deleted ratio exceeds the config
        threshold (default 0.1 — the reference's auto-vacuum trigger).
        stats() is computed ONCE up front (one Spark job for all
        segments), not per segment."""
        rewritten = []
        toc = self.toc()
        segments = list(toc["segments"])
        all_stats = self.stats()
        # same single-snapshot contract as merge_segments: watermark and
        # masking reads must not straddle a concurrent remove()
        tomb = self.tombstones()
        hi = tomb.agg(F.max("seq_no")).first()[0]
        applied_hi = hi if hi is not None else -1
        applied: dict[str, int] = {}
        for seg in toc["segments"]:
            st = all_stats[seg]
            if st["total"] == 0 or st["deleted"] / st["total"] <= self.config.vacuum_deleted_ratio:
                continue
            clean = self._apply_tombstones(self.segment_docs(seg), tomb=tomb)
            new_seg = f"segment_{uuid.uuid4().hex[:12]}"
            (
                clean.repartition("user_id")
                .write.partitionBy("user_id").mode("errorifexists")
                .parquet(os.path.join(self._segment_dir(new_seg), "docs"))
            )
            segments = [s for s in segments if s != seg] + [new_seg]
            applied[new_seg] = applied_hi
            rewritten.append(new_seg)
        if rewritten:
            self._commit_toc(segments, toc["flushed_seq_no"], applied)
            self._prune_tombstones()
        return rewritten

    def _prune_tombstones(self) -> int:
        """Drop tombstones fully applied to EVERY segment of the current
        TOC (seq_no <= the minimum per-segment applied watermark) — the
        analog of the reference clearing invalidated ids when optimizers
        rewrite segments. Older MVCC versions may still reference
        unrewritten segments only through their own TOCs; pruning keys
        off the CURRENT version, matching the reference (snapshots there
        hold invalidation bitmaps, not the tombstone log). Returns the
        number of tombstone rows dropped.

        A prune that drops every tombstone deletes the directory, so
        reads plan no mask again (_has_tombstones). That is crash-safe
        without a rewrite: every dropped tombstone is at or below every
        current segment's watermark, so a half-deleted directory only
        masks rows that are already gone."""
        import shutil

        toc = self.toc()
        applied = toc.get("tomb_applied", {})
        if not toc["segments"]:
            return 0
        floor = min(applied.get(s, -1) for s in toc["segments"])
        if floor < 0:
            return 0
        tomb = self.tombstones()
        n = tomb.agg(
            F.count(F.lit(1)).alias("total"),
            F.sum((F.col("seq_no") <= floor).cast("long")).alias("doomed"),
        ).first()
        doomed = n["doomed"] or 0
        if not doomed:
            return 0
        if doomed == n["total"]:
            shutil.rmtree(self._tombstone_dir())
            return doomed
        survivors = tomb.filter(F.col("seq_no") > floor)
        tmp = self._tombstone_dir() + ".rewrite"
        # write-tmp -> rmtree -> rename; the rmtree->rename window is
        # crash-covered by _recover_tombstones (read-side: a complete
        # tmp with no main dir finishes the rename, so the survivors —
        # deletions NOT yet applied to every segment — can never be
        # silently lost; Spark's _SUCCESS is the completeness marker)
        survivors.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(self._tombstone_dir())
        os.replace(tmp, self._tombstone_dir())
        return doomed

    def auto_optimize(self) -> dict:
        """W7 background-loop policy: vacuum over-threshold segments,
        then merge if the segment count exceeds max_segments."""
        actions: dict = {"vacuumed": self.vacuum(), "merged": None}
        if len(self.toc()["segments"]) > self.config.max_segments:
            actions["merged"] = self.merge_segments()
        return actions

    def gc_versions(self, keep_latest: int = 2) -> dict:
        """MVCC garbage collection (core.rs:1183-1226: versions are
        refcounted and GC'd once superseded): drop all but the newest
        `keep_latest` TOC versions, then delete any segment directory no
        longer referenced by a surviving version. Readers pinned to a
        surviving version are unaffected; there is no in-process refcount
        — retention depth is the external-reader grace period, exactly
        like table-format VACUUM retention."""
        import shutil

        versions = sorted(
            int(p.split("_")[1].split(".")[0])
            for p in os.listdir(self._versions_dir())
            if p.startswith("version_")
        )
        doomed = versions[:-keep_latest] if keep_latest > 0 else versions[:-1]
        survivors = [v for v in versions if v not in set(doomed)]
        referenced: set[str] = set()
        for v in survivors:
            referenced.update(self.toc(v)["segments"])
        removed_versions = []
        for v in doomed:
            os.remove(os.path.join(self._versions_dir(), f"version_{v}.json"))
            removed_versions.append(v)
        removed_segments = []
        seg_root = os.path.join(self.root, "segments")
        if os.path.isdir(seg_root):
            for seg in os.listdir(seg_root):
                if seg not in referenced:
                    shutil.rmtree(os.path.join(seg_root, seg))
                    removed_segments.append(seg)
        for key in list(self._opened):
            if key[0] in removed_segments:
                self._opened.pop(key, None)
        return {"versions": removed_versions, "segments": sorted(removed_segments)}

    # ------------------------------------------------- durable indexes

    def _seg_index_dir(self, seg: str, kind: str) -> str:
        return os.path.join(self._segment_dir(seg), "index", kind)

    def _train_codebook(self, q, docs: DataFrame):
        return q.train(
            docs, vec_col="vector", user_col="user_id",
            num_subvectors=self.config.pq_subvectors,
            num_centers=self.config.pq_centers,
        )

    def _load_or_train_codebook(self, q):
        """Collection-level quantizer artifact (the reference selects the
        quantizer per collection, rs/index/src/collection/mod.rs:145-149;
        we also SCOPE the codebook per collection — one deviation from
        the reference's per-segment training — so codes from different
        segments score against one table and cross-segment merges need
        no re-encoding). Trained once over a sample, persisted at the
        collection root (<name>_codebook.json, or a swap-managed parquet
        table for per-user quantizers), reused."""
        self.config.validate()  # pre-existing collections: guard at build time
        cb = q.read_artifact(self.spark, self.root)
        if cb is None:
            cb = q.write_artifact(self.spark, self.root, self._train_codebook(
                q, self.docs(with_tombstones=True)))
        return cb

    def _cover_users(self, q, codebook: DataFrame, docs: DataFrame) -> DataFrame:
        """A later segment can carry users unseen when a per-user
        codebook trained: extend the root table for them (trained on
        their docs) instead of silently dropping their postings."""
        missing = docs.select("user_id").distinct().join(
            codebook.select("user_id"), "user_id", "left_anti")
        if missing.isEmpty():
            return codebook
        extra = self._train_codebook(q, self.docs(with_tombstones=True).join(
            missing, "user_id", "left_semi"))
        # localCheckpoint pins the union (it reads the directory being
        # replaced) before the crash-safe two-rename swap of the
        # authoritative root table
        return q.write_artifact(self.spark, self.root, codebook.unionByName(
            extra).localCheckpoint(eager=True))

    def build_index(self) -> dict:
        """S5's index-build half, durable: for every current-TOC segment
        lacking an index, build per-user IVF tables (+ codes when the
        collection is quantized) and the inverted term index, write
        them under segments/<seg>/index/{ivf,terms}/, and commit a TOC
        version referencing them (the flush artifact of core.rs:867-976
        / multi_spann/writer.rs + terms/writer.rs:22-56). A new session
        reopens with Collection.open() + ann_search without rebuilding.
        Incremental by construction: a later flush indexes ONLY the new
        segment."""
        from muopdb_spark.index.terms import build_term_index

        toc = self.toc()
        indexes = {s: list(v) for s, v in toc.get("indexes", {}).items()}
        q = lookup(self.config.quantizer, multi_user=True)
        codebook = self._load_or_train_codebook(q) if q is not None else None
        term_fields = {
            f: t for f, t in self.config.attribute_schema.items()
            if _attr_kind(t) in ("text", "keyword")
        }
        built = []
        for seg in toc["segments"]:
            have = set(indexes.get(seg, []))
            # an index the TOC does not list yet may be rewritten below:
            # never keep a handle opened on an earlier write of it
            stale = {"ivf", "terms"} - have
            if "ivf" in stale:
                stale.add("centroids")  # read from the ivf index
            for kind in stale:
                self._opened.pop((seg, kind), None)
            if "ivf" not in have:
                docs = self.segment_docs(seg)
                idx = build_multi_ivf(
                    docs, user_col="user_id", vec_col="vector", id_col="doc_id",
                    num_centroids=self.config.num_centroids,
                    metric=self.config.metric,
                    distance_threshold=self.config.distance_threshold,
                    max_clusters_per_vector=self.config.max_clusters_per_vector,
                    carry_cols=["seq_no"],
                )
                if q is not None:
                    if q.per_user:
                        codebook = self._cover_users(q, codebook, docs)
                    idx.postings = q.encode(idx.postings, codebook)
                    idx.codebook = codebook
                    idx.quantizer = q.name
                multi_ivf_save(idx, self._seg_index_dir(seg, "ivf"))
                have.add("ivf")
            if term_fields and "terms" not in have:
                tdf = build_term_index(
                    self.segment_docs(seg), term_fields,
                    id_col="doc_id", user_col="user_id",
                )
                tdf.write.mode("overwrite").partitionBy("user_id").parquet(
                    self._seg_index_dir(seg, "terms"))
                have.add("terms")
            if have != set(indexes.get(seg, [])):
                indexes[seg] = sorted(have)
                built.append(seg)
        if built:
            self._commit_toc(toc["segments"], toc["flushed_seq_no"], indexes=indexes)
        return {s: indexes.get(s, []) for s in toc["segments"]}

    def load_segment_index(self, seg: str):
        """One segment's persisted IVF index (reader.rs analog), opened
        once per Collection handle and reused by later calls."""
        return self._open_once(seg, "ivf", lambda: multi_ivf_load(
            self.spark, self._seg_index_dir(seg, "ivf")))

    def _indexed_segments(self, kind: str, version: int | None = None) -> list[str]:
        toc = self.toc(version)
        idx = toc.get("indexes", {})
        missing = [s for s in toc["segments"] if kind not in idx.get(s, [])]
        if missing:
            raise ValueError(
                f"segments lack a {kind!r} index (run build_index() first): {missing}"
            )
        return toc["segments"]

    def _centroid_arrays(self, segs: list[str], users: list[int]) -> dict[str, dict]:
        """Per segment, user_id -> (centroid ids, float64 centroid
        matrix), kept by this handle under (seg, "centroids") like the
        reference's per-user index map (multi_spann/index.rs:100). The
        (segment, user) pairs not seen yet are filled by ONE collect
        over those segments' centroid tables; a user without centroids
        in a segment is kept as empty, so it is not collected again."""
        arrays = {s: self._open_once(s, "centroids", dict) for s in segs}
        missing = {s: [u for u in users if u not in arrays[s]] for s in segs}
        parts = [
            self.load_segment_index(s).centroids.filter(F.col("user_id").isin(us))
            .select(F.lit(s).alias("_seg"), "user_id", "centroid_id", "centroid")
            for s, us in missing.items() if us
        ]
        if not parts:
            return arrays
        rows = _union(parts).collect()
        for s, us in missing.items():
            built = centroid_arrays([r for r in rows if r["_seg"] == s], us,
                                    self.config.num_features)
            for u, a in built.items():
                arrays[s].setdefault(u, a)
        return arrays

    def ann_search(
        self,
        user_ids,
        query_vector,
        k: int,
        *,
        num_probes: int | None = None,
        centroid_distance_ratio: float | None = 0.1,
        rerank: int | None = None,
        pre_filter_ids: DataFrame | None = None,
        per_user: bool = False,
        version: int | None = None,
        score_decimals: int | None = None,
    ) -> DataFrame:
        """§3.1 ANN search over the DURABLE per-segment per-user indexes,
        through multi_ivf's single-request core (spann/index.rs:211-266).
        Phase 1 runs multi_ivf.probe per segment on the driver, from
        arrays this handle keeps once read: a first request for a user
        runs one small collect over the segments that hold it, later
        ones start no job. Phase 2 is one plan: each segment's postings
        filtered to its probed pairs as literal partition filters,
        unioned, tombstone-masked seq_no-aware (only when tombstone
        files exist), then multi_ivf.rank with the collection's root
        codebook. Each segment's index tables are opened once per
        handle (load_segment_index), so a warm request lists no files
        and infers no schema."""
        q = lookup(self.config.quantizer, multi_user=True, dedup=True)
        if num_probes is None:
            num_probes = k
        segs = self._indexed_segments("ivf", version)
        users = [int(u) for u in user_ids]
        arrays = self._centroid_arrays(segs, users)
        pairs = {}
        for s in segs:
            probed = probe({u: arrays[s][u] for u in users}, self.config.metric,
                           query_vector, num_probes, centroid_distance_ratio)
            if probed:
                pairs[s] = probed
        if not pairs:
            return self.spark.createDataFrame([], "user_id long, id long, score double")
        scan = _union([self.load_segment_index(s).postings.filter(probed_filter(probed))
                       for s, probed in pairs.items()])
        scan = self._apply_tombstones(scan, id_col="id")  # V20
        if pre_filter_ids is not None:
            scan = scan.join(pre_filter_ids.select("id").distinct(), on="id",
                             how="left_semi")
        # the authoritative codebook lives at the collection root (a
        # per-segment copy of a per-user table may predate users added
        # by later segments' extension); per-user entries collect or
        # join only the REQUESTED users' books
        codebook = q.read_artifact(self.spark, self.root) if q is not None else None
        return rank(scan, q, codebook, self.config.metric, query_vector, users, k,
                    rerank=rerank, per_user=per_user, score_decimals=score_decimals)

    def term_search_indexed(self, user_ids, terms, limit: int, *, mode: str = "and",
                            version: int | None = None) -> DataFrame:
        """§3.2 TermSearch over the DURABLE per-segment term indexes
        (terms/writer.rs on-disk layout analog): union the segments'
        term tables, filter to the queried (field, term) pairs, explode
        postings, intersect/union, dedup across segments, sort + limit
        (snapshot.rs:141-146)."""
        segs = self._indexed_segments("terms", version)
        if not segs or not terms:
            return self.spark.createDataFrame([], "user_id long, doc_id long")
        users = [int(u) for u in user_ids]
        index = _union([
            self._open_once(s, "terms", lambda s=s: self.spark.read.parquet(
                self._seg_index_dir(s, "terms")))
            for s in segs
        ]).filter(F.col("user_id").isin(users))
        cond = functools.reduce(operator.or_, [
            (F.col("field") == f_) & (F.col("term") == t_) for f_, t_ in terms])
        matched = index.filter(cond).select(
            "user_id", "field", "term", F.explode("postings").alias("doc_id"))
        if mode == "and":
            hits = (
                matched.groupBy("user_id", "doc_id")
                .agg(F.countDistinct("field", "term").alias("n"))
                .filter(F.col("n") == len(terms))
                .select("user_id", "doc_id")
            )
        else:
            hits = matched.select("user_id", "doc_id").distinct()
        # visibility = the docs table's (seq_no-aware tombstone-masked)
        # view; index postings carry no seq_no, so the mask is a semi
        # join against the masked doc ids (2-column pruned scan). The
        # index is built from segment_docs, so without tombstones the
        # join could drop nothing and is not planned.
        if self._has_tombstones():
            hits = hits.join(
                self.docs(version=version).select("user_id", "doc_id").distinct(),
                on=["user_id", "doc_id"], how="left_semi",
            )
        return hits.orderBy("doc_id").limit(limit)

    def build_quantizer(self, num_subvectors: int = 4, num_centers: int = 16):
        """M5 / QuantizerType: train the collection's PQ codebook when
        the collection's quantizer is PQ (enums.rs:4-9 gates the same
        way)."""
        if QUANTIZERS.get(self.config.quantizer) is not QUANTIZERS["pq"]:
            raise ValueError(
                f"collection quantizer is {self.config.quantizer!r}, not 'pq'"
            )
        from muopdb_spark.index.pq import train_pq

        return train_pq(
            self.docs(), vec_col="vector",
            num_subvectors=num_subvectors, num_centers=num_centers,
        )

    def search_pq(self, codebook, user_ids, query_vector, k) -> DataFrame:
        """PQ-scored search: encode the (user-pruned, tombstone-masked)
        docs and rank by asymmetric distance."""
        from pyspark.sql import functions as SF

        from muopdb_spark.index.pq import pq_encode, pq_search

        docs = self.docs()
        if user_ids is not None:
            docs = docs.filter(SF.col("user_id").isin(list(user_ids)))
        enc = pq_encode(docs, codebook, vec_col="vector")
        return pq_search(enc, query_vector, codebook, k, id_col="doc_id")
