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
      once per Collection handle, warm unquantized ann requests rank the
      postings the handle keeps resident on the driver, and warm term
      requests evaluate their filter over the term index entries it
      keeps resident there (no Spark job for either)
    - merge_segments / vacuum (S10, §4.2 compaction; optimizers/merge.rs:38,
      vacuum.rs:38) rewrite segments and swap the TOC; old versions remain
      readable (MVCC snapshots, core.rs:978-1011) until garbage-collected
    - auto_optimize applies the reference's default policies: vacuum when
      deleted/total > 0.1 (immutable_segment.rs:75-82), merge when
      segment count > max_segments (collection.rs:168-170)
"""

from __future__ import annotations

import bisect
import functools
import json
import operator
import os
import tempfile
import threading
import uuid
from collections import OrderedDict
from dataclasses import asdict, dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

from muopdb_spark.filters.compiler import (
    NO_IDS, FilterSchema, compile_keys, compile_sets, term_search as _term_scan,
)
from muopdb_spark.functions.distance import score_np
from muopdb_spark.functions.text import stemmed_tokens
from muopdb_spark.index.multi_ivf import (
    build_multi_ivf, centroid_arrays, multi_ivf_load, multi_ivf_save, probe,
    probed_filter, rank_request,
)
from muopdb_spark.index.quantizer import QUANTIZERS, lookup

# Byte cap (numpy nbytes) of one handle's resident postings: the
# reference's block cache default, 1 GB (rs/utils/src/block_cache/
# cache.rs, env.rs:33-53).
RESIDENT_POSTINGS_BYTES = 1 << 30

_ANN_SCHEMA = "user_id long, id long, score double"

# joins a term index row's field and term into one resident key; the
# reference keys "{field}:{term}" (mutable_segment.rs:92), but a field
# name may hold ":"
_TERM_SEP = "\x1f"


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


_APPEND_LOCKS: dict[str, threading.Lock] = {}
_APPEND_LOCKS_GUARD = threading.Lock()


def _append_lock_for(root: str) -> threading.Lock:
    """Process-wide lock per collection directory (normalized path).
    The FileOutputCommitter `_temporary/0` staging race this guards is a
    property of the DIRECTORY, not of a Collection instance."""
    key = os.path.realpath(root)
    with _APPEND_LOCKS_GUARD:
        return _APPEND_LOCKS.setdefault(key, threading.Lock())


def _union(parts: list[DataFrame]) -> DataFrame:
    return functools.reduce(DataFrame.unionByName, parts)


@functools.lru_cache(maxsize=None)
def _schemas(ddl: str):
    """(StructType, arrow schema, StructType JSON) of a DDL string."""
    struct = _parse_datatype_string(ddl)
    return struct, to_arrow_schema(struct), struct.json()


# py4j gateway -> its PythonSQLUtils (readArrowStreamFromFile,
# toDataFrame) static members, looked up once for _local
_ARROW_ENTRY: dict = {}


def _local(spark: SparkSession, ddl: str, **columns) -> DataFrame:
    """A local relation of `columns` (absent ones empty) over the DDL
    schema. It is built from Arrow batches, so it plans LocalTableScan
    and collects with no Spark job; createDataFrame over Python rows
    (even none) runs one.

    The batches enter the JVM through the two calls that
    createDataFrame(pyarrow.Table) ends in: _serialize_to_jvm writes
    them to a file that readArrowStreamFromFile reads (with encryption
    on, to an ArrowIteratorServer socket), and toDataFrame builds the
    relation. That is 2 py4j round trips against createDataFrame's 21:
    the two static members are looked up once per gateway (a JVM class
    lookup costs a round trip each time), the schema JSON is cached
    with the DDL, and the session conf reads createDataFrame makes are
    skipped: time zone, timestamp-NTZ preference and large var types
    change no long, double or array<float> column, and records per
    batch only sets where the batches are cut. No other code here calls
    these private PySpark entry points."""
    from pyspark.sql.pandas.serializers import ArrowStreamSerializer

    struct, arrow, schema_json = _schemas(ddl)
    table = pa.table({f.name: columns.get(f.name, []) for f in arrow}, schema=arrow)
    sc = spark.sparkContext
    entry = _ARROW_ENTRY.get(sc._gateway)
    if entry is None:
        utils = spark._jvm.PythonSQLUtils
        entry = _ARROW_ENTRY.setdefault(
            sc._gateway, (utils.readArrowStreamFromFile, utils.toDataFrame))
    read, to_df = entry
    jiter = sc._serialize_to_jvm(table.to_batches(), ArrowStreamSerializer(), read,
                                 lambda: spark._jvm.ArrowIteratorServer())
    df = DataFrame(to_df(jiter, schema_json, spark._jsparkSession), spark)
    df._schema = struct
    return df


def _held_on_driver(df: DataFrame) -> bool:
    """Whether `df` optimizes to a local relation: rows the driver holds
    already, which collect reads without a Spark job. Costs 3 py4j round
    trips; the optimized plan it computes is the one collect then runs."""
    return df._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"


def _newest_tomb(tomb: tuple[np.ndarray, np.ndarray], ids: np.ndarray) -> np.ndarray:
    """The newest tombstone seq_no of each of one user's `ids` (-1 where
    none), from that user's sorted (doc ids, seq_nos) tombstone arrays
    (Collection._tomb_latest_map)."""
    docs, seq = tomb
    at = np.minimum(np.searchsorted(docs, ids), len(docs) - 1)
    return np.where(docs[at] == ids, seq[at], -1)


def _users_by_segment(keys) -> dict[str, list[int]]:
    """segment -> users of (segment, user, kind) resident entry keys."""
    by_seg: dict[str, list[int]] = {}
    for s, u, _ in keys:
        by_seg.setdefault(s, []).append(u)
    return by_seg


def _nbytes(entry) -> int:
    """numpy nbytes of one entry's posting arrays."""
    return sum(a.nbytes for a in entry)


class _ResidentPostings:
    """(segment, user, kind) -> numpy arrays of that user's part of the
    segment's `kind` index, one LRU per Collection handle capped by
    numpy nbytes at RESIDENT_POSTINGS_BYTES — the analog of the
    reference's block cache (rs/utils/src/block_cache/cache.rs). Kind
    "ivf" holds the ann postings (_fetch_postings), kind "term_rows" the
    term index over the user's rows (_fetch_terms). Hits and misses
    count entry lookups; a lock guards every access."""

    def __init__(self):
        self._lock = threading.Lock()
        self._entries: OrderedDict[tuple, tuple] = OrderedDict()
        self.nbytes = self.hits = self.misses = self.evictions = 0

    def take(self, keys) -> dict:
        """The resident entries among `keys`, each marked recently used."""
        with self._lock:
            got = {}
            for key in keys:
                e = self._entries.get(key)
                if e is None:
                    self.misses += 1
                    continue
                self.hits += 1
                self._entries.move_to_end(key)
                got[key] = e
            return got

    def put(self, entries: dict) -> None:
        """Keep `entries`, evicting the least recently used until the
        cap holds; an entry larger than the cap alone is not kept."""
        cap = RESIDENT_POSTINGS_BYTES
        with self._lock:
            for key, e in entries.items():
                size = _nbytes(e)
                if size > cap:
                    continue
                if key in self._entries:
                    self.nbytes -= _nbytes(self._entries.pop(key))
                while self._entries and self.nbytes + size > cap:
                    self.nbytes -= _nbytes(self._entries.popitem(last=False)[1])
                    self.evictions += 1
                self._entries[key] = e
                self.nbytes += size

    def drop(self, segments, kinds=None) -> None:
        """Forget the entries of `segments` (rewritten or deleted), only
        those of `kinds` when given."""
        with self._lock:
            segments = set(segments)
            for key in [k for k in self._entries
                        if k[0] in segments and (kinds is None or k[2] in kinds)]:
                self.nbytes -= _nbytes(self._entries.pop(key))

    def stats(self) -> dict:
        with self._lock:
            return {"bytes": self.nbytes, "entries": len(self._entries),
                    "cap_bytes": RESIDENT_POSTINGS_BYTES, "hits": self.hits,
                    "misses": self.misses, "evictions": self.evictions}


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
        # ann postings and term index entries kept on the driver
        # (_resident_postings, _resident_terms), and the newest tombstone
        # per (user, doc) with the tombstone directory listing it was
        # read under (_tomb_latest_map)
        self._resident = _ResidentPostings()
        self._tomb_kept: tuple[tuple[str, ...], dict] | None = None

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
        segments/<seg>/index/ ("ivf", "term_rows") — the TOC is the single
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
        return _local(self.spark, "user_id long, doc_id long, seq_no long")

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
            return _local(self.spark,
                          "user_id long, doc_id long, vector array<float>, seq_no long")
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

    def _term_fields(self) -> dict:
        return {f: t for f, t in self.config.attribute_schema.items()
                if _attr_kind(t) in ("text", "keyword")}

    def term_search(self, user_ids, filter_tree, limit, *, version=None) -> DataFrame:
        """§3.2 TermSearch over flushed docs, answered as the reference
        does (planner.rs:41-169, snapshot.rs:82-94): the filter tree is
        compiled once on the driver (compile_sets) and evaluated per
        (segment, user) over the rows of that user's resident term index
        entry (_term_hits); the matching visible rows' doc ids are
        sorted, deduplicated, cut to `limit` and returned as a local
        relation. A user's first request runs the one collect that fills
        its entries, a warm one no Spark job.

        The scan takes over when a segment has no term_rows index yet,
        when the entries do not fit in RESIDENT_POSTINGS_BYTES, or when
        an entry holds two rows with one (doc_id, seq_no) — one insert
        batch that carries a doc twice, the only rows the index cannot
        tell apart. It tokenizes and stems every flushed doc's fields and
        filters them with compile_filter. Both give the same rows."""
        schema = FilterSchema(self._term_fields())
        evaluate = compile_sets(filter_tree, schema)
        toc = self.toc(version)
        segs, indexes = toc["segments"], toc.get("indexes", {})
        users = [int(u) for u in dict.fromkeys(user_ids)]
        if all("term_rows" in indexes.get(s, []) for s in segs):
            entries = self._resident_terms(segs, users)
            if entries is not None and not any(dup for *_, dup in entries.values()):
                hits = [ids for _, ids in self._term_hits(entries, evaluate)]
                ids = np.unique(np.concatenate([NO_IDS] + hits))
                return _local(self.spark, "doc_id long", doc_id=ids[:limit])
        docs = self.docs(version=version)
        for fld in schema.fields:
            if schema.kind(fld) == "text":
                docs = docs.withColumn(
                    fld + "_tokens",
                    stemmed_tokens(F.col(fld), schema.language(fld)),
                )
        return _term_scan(docs, filter_tree, schema, limit,
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
        self._resident.drop(removed_segments)
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
        collection is quantized) and the inverted term index over rows,
        write them under segments/<seg>/index/{ivf,term_rows}/, and
        commit a TOC version referencing them (the flush artifact of
        core.rs:867-976 / multi_spann/writer.rs + terms/writer.rs:22-56).
        A new session reopens with Collection.open() + ann_search without
        rebuilding. Incremental: a later flush indexes ONLY the new segment.

        The term index keys each posting by its row, a (doc_id, seq_no)
        struct, over all of the segment's rows, tombstoned or not
        (readers mask rows when they read); its reserved entry (field
        and term null) lists the user's rows. A segment with only the
        doc-keyed "terms" index of earlier builds is indexed again, and
        "terms" leaves its TOC list."""
        from muopdb_spark.index.terms import build_term_index

        toc = self.toc()
        indexes = {s: list(v) for s, v in toc.get("indexes", {}).items()}
        q = lookup(self.config.quantizer, multi_user=True)
        codebook = self._load_or_train_codebook(q) if q is not None else None
        term_fields = self._term_fields()
        built = []
        for seg in toc["segments"]:
            have = set(indexes.get(seg, []))
            # an index the TOC does not list yet may be rewritten below:
            # never keep a handle opened on an earlier write of it
            stale = {"ivf", "term_rows"} - have
            self._resident.drop([seg], stale)
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
            if term_fields and "term_rows" not in have:
                docs = self.segment_docs(seg).withColumn("_row", F.struct("doc_id", "seq_no"))
                rows = docs.groupBy("user_id").agg(
                    F.sort_array(F.collect_list("_row")).alias("postings"), F.count("*").alias("df"))
                tdf = build_term_index(docs, term_fields, id_col="_row", user_col="user_id")
                tdf = tdf.unionByName(rows, allowMissingColumns=True)  # field, term null
                tdf.write.mode("overwrite").partitionBy("user_id").parquet(
                    self._seg_index_dir(seg, "term_rows"))
                have.add("term_rows")
            have.discard("terms")
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

    def _probe_segments(self, segs: list[str], users: list[int], query_vector,
                        num_probes: int, ratio: float | None) -> dict[str, dict]:
        """Phase 1: segment -> multi_ivf.probe's user_id -> probed
        centroid ids, from _centroid_arrays. Segments with nothing
        probed are left out."""
        arrays = self._centroid_arrays(segs, users)
        pairs = {}
        for s in segs:
            probed = probe({u: arrays[s][u] for u in users}, self.config.metric,
                           query_vector, num_probes, ratio)
            if probed:
                pairs[s] = probed
        return pairs

    def _fetch_postings(self, keys: list[tuple]) -> dict:
        """(segment, user, "ivf") -> (centroid_id, id, seq_no, vector)
        arrays of that user's postings in the segment, by ONE collect
        over those segments' postings filtered to those users. A user
        without postings in a segment gets empty arrays."""
        by_seg = _users_by_segment(keys)
        segs = list(by_seg)
        t = _union([
            self.load_segment_index(s).postings.filter(F.col("user_id").isin(by_seg[s]))
            .select(F.lit(i).alias("_seg"), "user_id", "centroid_id", "id", "seq_no", "vector")
            for i, s in enumerate(segs)
        ]).toArrow()
        seg, user, cid, ids, seq = (np.asarray(t.column(c), dtype=np.int64) for c in (
            "_seg", "user_id", "centroid_id", "id", "seq_no"))
        vec = np.asarray(t.column("vector").combine_chunks().flatten(), dtype=np.float64)
        vec = vec.reshape(len(ids), self.config.num_features)
        out = {}
        for key in keys:
            m = (seg == segs.index(key[0])) & (user == key[1])
            out[key] = (cid[m], ids[m], seq[m], vec[m])
        return out

    def _terms_table(self, seg: str) -> DataFrame:
        return self._open_once(seg, "term_rows", lambda: self.spark.read.parquet(
            self._seg_index_dir(seg, "term_rows")))

    def _fetch_terms(self, keys: list[tuple]) -> dict:
        """(segment, user, "term_rows") -> (key_data, key_offsets,
        offsets, postings, doc, seq, dup) arrays of that user's part of
        the segment's term index: the "field\\x1fterm" keys in byte
        order, key i being key_data[key_offsets[i]:key_offsets[i + 1]]
        in UTF-8 (variable width, so nbytes is the keys' real size); the
        user's rows (doc, seq), unique and sorted, from the reserved
        entry; key i's postings[offsets[i]:offsets[i + 1]] as positions
        in those rows; and dup, whether two rows shared one (doc_id,
        seq_no). Filled by ONE collect over those segments' term_rows
        tables filtered to those users."""
        by_seg = _users_by_segment(keys)
        segs = list(by_seg)
        t = _union([
            self._terms_table(s).filter(F.col("user_id").isin(by_seg[s]))
            .select(F.lit(i).alias("_seg"), "user_id", "field", "term", "postings")
            for i, s in enumerate(segs)
        ]).toArrow()
        t_seg, t_user = (np.asarray(t.column(c), dtype=np.int64) for c in ("_seg", "user_id"))
        reserved = np.asarray(t.column("field").is_null(), dtype=bool)
        names = pc.binary_join_element_wise(
            t.column("field"), t.column("term"), _TERM_SEP).combine_chunks()
        lists = t.column("postings").combine_chunks()
        offsets = np.asarray(lists.offsets, dtype=np.int64)
        offsets -= offsets[0]
        p_doc, p_seq = (np.asarray(a, dtype=np.int64) for a in lists.flatten().flatten())
        out = {}
        for key in keys:
            i, u = segs.index(key[0]), key[1]
            mine = (t_seg == i) & (t_user == u)
            rows = np.flatnonzero(mine & ~reserved)
            sel = names.take(rows)
            o = np.asarray(pc.sort_indices(sel), dtype=np.int64)
            rows, enc = rows[o], sel.take(o).cast(pa.binary()).to_pylist()
            key_offs = np.zeros(len(enc) + 1, dtype=np.int64)
            np.cumsum(np.fromiter(map(len, enc), dtype=np.int64, count=len(enc)),
                      out=key_offs[1:])
            key_data = np.frombuffer(b"".join(enc), dtype=np.uint8)
            starts, lengths = offsets[rows], offsets[rows + 1] - offsets[rows]
            offs = np.zeros(len(rows) + 1, dtype=np.int64)
            np.cumsum(lengths, out=offs[1:])
            at = np.repeat(starts - offs[:-1], lengths) + np.arange(offs[-1])
            # the reserved entry's rows, then every posting: the unique
            # pairs are the row table, the inverse each one's position
            table = [np.arange(offsets[r], offsets[r + 1]) for r in np.flatnonzero(mine & reserved)]
            n = sum(map(len, table))
            at = np.concatenate(table + [at])
            pairs, pos = np.unique(np.stack([p_doc[at], p_seq[at]], axis=1), axis=0,
                                   return_inverse=True)
            out[key] = (key_data, key_offs, offs, pos[n:], pairs[:, 0].copy(),
                        pairs[:, 1].copy(), np.array(len(pairs) < n))
        return out

    def _resident_entries(self, keys: list[tuple], files, fetch) -> dict | None:
        """The resident entries for `keys`, those not kept yet filled by
        `fetch(missing)`, or None when they do not fit in
        RESIDENT_POSTINGS_BYTES together. A missing entry whose files on
        disk (`files(segment, user)`) already exceed the cap is not
        read."""
        got = self._resident.take(keys)
        missing = [key for key in keys if key not in got]
        on_disk = sum(_dir_bytes(f) for s, u, _ in missing for f in files(s, u))
        if sum(map(_nbytes, got.values())) + on_disk > RESIDENT_POSTINGS_BYTES:
            return None
        if missing:
            fetched = fetch(missing)
            self._resident.put(fetched)
            got.update(fetched)
            if sum(map(_nbytes, got.values())) > RESIDENT_POSTINGS_BYTES:
                return None
        return got

    def _resident_postings(self, pairs: dict[str, dict]) -> tuple | None:
        """The probed postings of `pairs` as (user_id, id, seq_no, vector)
        arrays from the postings this handle keeps on the driver, or None
        when the request's entries do not fit in RESIDENT_POSTINGS_BYTES
        (_resident_entries)."""
        got = self._resident_entries(
            [(s, u, "ivf") for s, probed in pairs.items() for u in probed],
            lambda s, u: [os.path.join(self._seg_index_dir(s, "ivf"), "postings",
                                       f"user_id={u}")],
            self._fetch_postings)
        if got is None:
            return None
        parts = []
        for s, probed in pairs.items():
            for u, cids in probed.items():
                cid, ids, seq, vec = got[(s, u, "ivf")]
                m = np.isin(cid, cids)
                parts.append((np.full(int(m.sum()), u, dtype=np.int64), ids[m], seq[m], vec[m]))
        return tuple(np.concatenate(p) for p in zip(*parts))

    def _resident_terms(self, segs: list[str], users: list[int]) -> dict | None:
        """Each (segment, user)'s term index entry (_fetch_terms) from
        this handle's resident entries, or None when they do not fit in
        RESIDENT_POSTINGS_BYTES (_resident_entries)."""
        return self._resident_entries(
            [(s, u, "term_rows") for s in segs for u in users],
            lambda s, u: [os.path.join(self._seg_index_dir(s, "term_rows"), f"user_id={u}")],
            self._fetch_terms)

    def _term_hits(self, entries: dict, evaluate) -> list[tuple[int, np.ndarray]]:
        """(user, doc ids) per resident term entry: `evaluate` (a
        compile_sets / compile_keys function) over the entry's row
        postings and visible rows, kept to the visible rows and projected
        to their unique doc ids. A row is visible when its seq_no is above
        the newest tombstone for (user, doc), the scan's seq_no-aware
        mask, even for a tombstone that lands after build_index."""
        tomb = self._tomb_latest_map()  # V20
        hits = []
        for (_, u, _), (data, key_offs, offsets, postings, doc, seq, _) in entries.items():
            visible = (np.flatnonzero(seq > _newest_tomb(tomb[u], doc)) if u in tomb
                       else np.arange(len(doc)))

            def lookup(field, term, data=data, key_offs=key_offs, offsets=offsets,
                       postings=postings):
                # binary search of the byte-ordered UTF-8 keys
                key = f"{field}{_TERM_SEP}{term}".encode()
                at = lambda j: data[key_offs[j]:key_offs[j + 1]].tobytes()
                i = bisect.bisect_left(range(len(offsets) - 1), key, key=at)
                if i < len(offsets) - 1 and at(i) == key:
                    return postings[offsets[i]:offsets[i + 1]]
                return postings[:0]

            rows = np.intersect1d(evaluate(lookup, visible, doc), visible)
            hits.append((u, np.unique(doc[rows])))
        return hits

    def resident_stats(self) -> dict:
        """The resident entries of this handle, ann postings and term
        index entries together: bytes, entries, cap_bytes, hits, misses
        and evictions (entry lookups)."""
        return self._resident.stats()

    def _tomb_latest_map(self) -> dict:
        """user_id -> (doc ids, newest tombstone seq_no of each), sorted
        by doc id, for masking on the driver with _newest_tomb. Collected
        again only when the tombstone directory's listing changes, since
        another writer may append to it; the listing is taken before the
        collect, so a file landing in between costs one more collect,
        never a missed tombstone."""
        if not self._has_tombstones():
            return {}
        listing = tuple(sorted(os.listdir(self._tombstone_dir())))
        kept = self._tomb_kept
        if kept is None or kept[0] != listing:
            rows = self._tomb_latest(self.tombstones()).collect()
            user, doc, seq = (np.array([r[c] for r in rows], dtype=np.int64)
                              for c in ("_tu", "_td", "tomb_seq"))
            o = np.lexsort((doc, user))
            user, doc, seq = user[o], doc[o], seq[o]
            users, starts = np.unique(user, return_index=True)
            ends = np.r_[starts[1:], len(user)]
            kept = self._tomb_kept = (listing, {
                u: (doc[a:b], seq[a:b]) for u, a, b in zip(users.tolist(), starts, ends)})
        return kept[1]

    def _ann_resident(self, cand: tuple, query_vector, k: int, *,
                      pre_filter_ids: DataFrame | None = None,
                      per_user: bool = False) -> DataFrame:
        """Phase 2 in numpy over _resident_postings' arrays, by
        multi_ivf.rank's rules for an unquantized collection: mask
        tombstones seq_no-aware, keep pre_filter_ids, score with
        score_np (bit for bit score_expr), take the min per (user, id),
        order by (score, NaN last; id) and cut to k — per user with
        per_user, then ordered by (user_id, score, id). Returned as a
        local relation: collecting it runs no Spark job."""
        user, ids, seq, vec = cand
        keep = np.ones(len(ids), dtype=bool)
        tomb = self._tomb_latest_map()  # V20
        for u in tomb.keys() & set(np.unique(user).tolist()):
            m = user == u
            keep[m] &= seq[m] > _newest_tomb(tomb[u], ids[m])
        if pre_filter_ids is not None and keep.any():
            pre = pre_filter_ids
            if not _held_on_driver(pre):
                # only the candidates' ids are read, so a large id set
                # is never pulled to the driver: one SQL IN list (isin
                # makes one py4j call per id)
                wanted = ",".join(map(str, np.unique(ids[keep]).tolist()))
                cols = ["user_id", "id"] if "user_id" in pre.columns else ["id"]
                pre = pre.select(*cols).filter(f"id IN ({wanted})")
            # a local relation is collected as it is, whatever its other
            # columns: a select would cost 9 py4j round trips. Rows, not
            # Arrow: toArrow runs a job even on a local relation, which
            # collect reads with none
            rows = pre.collect()
            pre_ids = np.array([r["id"] for r in rows], dtype=np.int64)
            if rows and "user_id" in rows[0].__fields__:  # scoped per user
                pre_user = np.array([r["user_id"] for r in rows], dtype=np.int64)
                for u in np.unique(user).tolist():
                    keep[user == u] &= np.isin(ids[user == u], pre_ids[pre_user == u])
            else:
                keep &= np.isin(ids, pre_ids)
        user, ids = user[keep], ids[keep]
        score = score_np(self.config.metric, vec[keep], query_vector)
        # min per (user, id): the first row of each group in (user, id,
        # score) order, NaN sorting last as in Spark
        o = np.lexsort((score, ids, user))
        user, ids, score = user[o], ids[o], score[o]
        first = np.ones(len(ids), dtype=bool)
        first[1:] = (user[1:] != user[:-1]) | (ids[1:] != ids[:-1])
        user, ids, score = user[first], ids[first], score[first]
        if per_user:
            o = np.lexsort((ids, score, user))
            u = user[o]
            o = o[np.arange(len(o)) - np.searchsorted(u, u) < k]
        else:
            o = np.lexsort((user, ids, score))[:k]
        return _local(self.spark, _ANN_SCHEMA, user_id=user[o], id=ids[o], score=score[o])

    def _ann_plan(self, pairs: dict[str, dict], q, query_vector, users: list[int],
                  k: int, *, rerank: int | None = None,
                  pre_filter_ids: DataFrame | None = None, per_user: bool = False,
                  score_decimals: int | None = None) -> DataFrame:
        """Phase 2 as one Spark plan: each segment's postings filtered to
        its probed pairs as literal partition filters, unioned,
        tombstone-masked seq_no-aware (only when tombstone files exist),
        then multi_ivf.rank_request (the pre_filter_ids semi-join,
        scoring and rank) with the collection's root codebook."""
        scan = _union([self.load_segment_index(s).postings.filter(probed_filter(probed))
                       for s, probed in pairs.items()])
        scan = self._apply_tombstones(scan, id_col="id")  # V20
        # the authoritative codebook lives at the collection root (a
        # per-segment copy of a per-user table may predate users added
        # by later segments' extension); per-user entries collect or
        # join only the REQUESTED users' books
        codebook = q.read_artifact(self.spark, self.root) if q is not None else None
        return rank_request(scan, q, codebook, self.config.metric, query_vector, users, k,
                            pre_filter_ids=pre_filter_ids, rerank=rerank, per_user=per_user,
                            score_decimals=score_decimals)

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
        centroid arrays this handle keeps once read: a first request for
        a user runs one small collect over the segments that hold it,
        later ones start no job.

        Phase 2 ranks on the driver when it can, as the reference
        answers from its in-process block cache: for an unquantized
        collection without score_decimals (Spark's HALF_UP round is not
        numpy's), when every probed (segment, user) is resident within
        RESIDENT_POSTINGS_BYTES, _ann_resident ranks the handle's kept
        posting arrays in numpy and returns a local relation. A user's
        first request then runs the centroid and postings collects, a
        warm one no Spark job (plus one when the tombstone directory
        changed) and, without pre_filter_ids, 2 py4j round trips: those
        of the result's build (_local). Otherwise _ann_plan runs phase 2
        as one Spark plan. Both give the same rows. Each segment's index
        tables are opened once per handle (load_segment_index), so a
        warm request lists no files and infers no schema.

        pre_filter_ids keeps the listed (user_id, id) pairs when it has a
        user_id column; an id-only one admits its ids for every user.

        On the driver path, pre_filter_ids is read by the names of its
        user_id and id columns. A local relation, such as a projection of
        term_search_indexed's result, is collected as it is, whatever
        its other columns: no job, and 10 more round trips with the
        local check. Any other DataFrame is read only at the
        candidates' ids, by one SQL IN list, so a large id set never
        reaches the driver."""
        q = lookup(self.config.quantizer, multi_user=True, dedup=True)
        if num_probes is None:
            num_probes = k
        segs = self._indexed_segments("ivf", version)
        users = [int(u) for u in user_ids]
        pairs = self._probe_segments(segs, users, query_vector, num_probes,
                                     centroid_distance_ratio)
        if not pairs:
            return _local(self.spark, _ANN_SCHEMA)
        if q is None and score_decimals is None:
            cand = self._resident_postings(pairs)
            if cand is not None:
                return self._ann_resident(cand, query_vector, k,
                                          pre_filter_ids=pre_filter_ids, per_user=per_user)
        return self._ann_plan(pairs, q, query_vector, users, k, rerank=rerank,
                              pre_filter_ids=pre_filter_ids, per_user=per_user,
                              score_decimals=score_decimals)

    def term_search_indexed(self, user_ids, terms, limit: int, *, mode: str = "and",
                            version: int | None = None) -> DataFrame:
        """§3.2 TermSearch over the DURABLE per-segment term indexes
        (terms/writer.rs on-disk layout analog) for exact (field, term)
        pairs: the docs with a visible row that holds all of them (mode
        "and") or any (mode "or"), as unique (user_id, doc_id) pairs
        ordered by (doc_id, user_id) and cut to `limit` (snapshot.rs:
        141-146). Answered on the driver from the handle's resident term
        entries (compile_keys, _term_hits) as a local relation; _term_plan
        runs the same as a Spark plan when the entries do not fit in
        RESIDENT_POSTINGS_BYTES. Within one insert batch that carries a
        doc twice, the doc's two rows count as one."""
        segs = self._indexed_segments("term_rows", version)
        if not segs or not terms:
            return _local(self.spark, "user_id long, doc_id long")
        users = [int(u) for u in dict.fromkeys(user_ids)]
        entries = self._resident_terms(segs, users)
        if entries is None:
            return self._term_plan(segs, users, terms, limit, mode)
        hits = self._term_hits(entries, compile_keys(terms, mode))
        pairs = np.unique(np.concatenate([np.zeros((0, 2), dtype=np.int64)] + [
            np.stack([ids, np.full(len(ids), u, dtype=np.int64)], axis=1) for u, ids in hits
        ]), axis=0)[:limit]  # (doc_id, user_id), unique and sorted
        return _local(self.spark, "user_id long, doc_id long",
                      user_id=pairs[:, 1], doc_id=pairs[:, 0])

    def _term_plan(self, segs: list[str], users: list[int], terms, limit: int,
                   mode: str) -> DataFrame:
        """term_search_indexed as one Spark plan: the queried pairs'
        postings of every segment exploded into (user_id, doc_id, seq_no)
        rows, tombstone-masked seq_no-aware (only when tombstones exist),
        intersected per row (a distinct-pair count) or unioned, projected
        to unique (user_id, doc_id), sorted and cut."""
        cond = functools.reduce(operator.or_, [
            (F.col("field") == f_) & (F.col("term") == t_) for f_, t_ in terms])
        rows = _union([self._terms_table(s).filter(F.col("user_id").isin(users) & cond)
                       for s in segs]).select(
            "user_id", "field", "term", F.explode("postings").alias("_row"),
        ).select("user_id", "field", "term", "_row.doc_id", "_row.seq_no")
        rows = self._apply_tombstones(rows)  # V20
        if mode == "and":
            rows = (
                rows.groupBy("user_id", "doc_id", "seq_no")
                .agg(F.countDistinct("field", "term").alias("n"))
                .filter(F.col("n") == len({(f_, t_) for f_, t_ in terms}))
            )
        return (rows.select("user_id", "doc_id").distinct()
                .orderBy("doc_id", "user_id").limit(limit))
