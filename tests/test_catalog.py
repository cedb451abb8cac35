"""Collection lifecycle: create → insert → flush → search → remove →
vacuum/merge → MVCC snapshot reads. Models the reference's collection
tests (core.rs:1566+, reader.rs:389-433 two-segment TOC versioning,
optimizers/merge.rs + vacuum.rs scenarios)."""

import os

import pytest
from pyspark.sql import functions as F

from muopdb_spark.catalog.collection import Collection, CollectionConfig


@pytest.fixture()
def col(spark, tmp_path):
    cfg = CollectionConfig(
        name="test_col", num_features=4,
        attribute_schema={"title": "text", "category": "keyword", "views": "int"},
    )
    return Collection.create(spark, str(tmp_path), cfg)


def _docs_df(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, doc_id long, vector array<float>, title string, category string, views long"
    )


R1 = [
    (0, 1, [1.0, 0.0, 0.0, 0.0], "running fast", "news", 10),
    (0, 2, [0.0, 1.0, 0.0, 0.0], "slow snail", "blog", 20),
    (1, 3, [0.0, 0.0, 1.0, 0.0], "alpha beta", "news", 30),
]
R2 = [
    (0, 4, [1.0, 0.1, 0.0, 0.0], "gamma delta", "blog", 40),
    (1, 5, [0.0, 0.0, 0.9, 0.0], "running connections", "news", 50),
]


def test_create_and_reopen(col, spark, tmp_path):
    re = Collection.open(spark, str(tmp_path), "test_col")
    assert re.config.num_features == 4
    assert re.toc() == {"version": 0, "segments": [], "flushed_seq_no": -1}
    with pytest.raises(ValueError):
        Collection.create(spark, str(tmp_path), col.config)


def test_read_your_writes_boundary(col, spark):
    col.insert(_docs_df(spark, R1))
    # W5: not searchable before flush
    assert col.search([0], [1.0, 0.0, 0.0, 0.0], 5).isEmpty()
    seg = col.flush()
    assert seg is not None
    got = col.search([0], [1.0, 0.0, 0.0, 0.0], 5).collect()
    assert [r["doc_id"] for r in got] == [1, 2]


def test_flush_idempotent_watermark(col, spark):
    col.insert(_docs_df(spark, R1))
    assert col.flush() is not None
    # nothing new -> no segment, no version bump
    v = col.current_version()
    assert col.flush() is None
    assert col.current_version() == v


def test_insert_validates_vector_length(col, spark):
    bad = spark.createDataFrame(
        [(0, 9, [1.0, 2.0], "x", "y", 0)],
        "user_id long, doc_id long, vector array<float>, title string, category string, views long",
    )
    with pytest.raises(ValueError):
        col.insert(bad)


def test_multi_segment_search_and_seq(col, spark):
    s1 = col.insert(_docs_df(spark, R1))
    col.flush()
    s2 = col.insert(_docs_df(spark, R2))
    assert s2 == s1 + 1
    col.flush()
    assert len(col.toc()["segments"]) == 2
    # search merges across segments (V16): user 0 has docs 1,2,4
    got = col.search([0], [1.0, 0.0, 0.0, 0.0], 2).collect()
    assert [r["doc_id"] for r in got] == [1, 4]
    # user pruning across users
    got = col.search([0, 1], [0.0, 0.0, 1.0, 0.0], 2).collect()
    assert [r["doc_id"] for r in got] == [3, 5]


def test_remove_masks_before_topk(col, spark):
    col.insert(_docs_df(spark, R1))
    col.flush()
    col.remove([0], [1])
    got = col.search([0], [1.0, 0.0, 0.0, 0.0], 5).collect()
    assert [r["doc_id"] for r in got] == [2]


def test_term_search_with_stemming(col, spark):
    col.insert(_docs_df(spark, R1))
    col.insert(_docs_df(spark, R2))
    col.flush()
    # "running" stems to run -> docs 1 (user 0) and 5 (user 1)
    got = col.term_search([0, 1], {"contains": {"path": "title", "value": "running"}}, 10)
    assert [r["doc_id"] for r in got.collect()] == [1, 5]
    got = col.term_search([0], {"contains": {"path": "category", "value": "news"}}, 10)
    assert [r["doc_id"] for r in got.collect()] == [1]


@pytest.mark.slow
def test_mvcc_snapshot_versions(col, spark):
    col.insert(_docs_df(spark, R1))
    col.flush()
    v1 = col.current_version()
    col.insert(_docs_df(spark, R2))
    col.flush()
    # old version still readable after new flush (MVCC)
    assert col.docs(version=v1).count() == 3
    assert col.docs().count() == 5


@pytest.mark.slow
def test_vacuum_threshold_and_rewrite(col, spark):
    col.insert(_docs_df(spark, R1))
    col.flush()
    seg0 = col.toc()["segments"][0]
    st = col.stats()[seg0]
    assert (st["total"], st["deleted"]) == (3, 0)
    assert st["size_bytes"] > 0  # GetSegments parity: byte sizes reported
    col.remove([0], [1])  # 1/3 deleted > 0.1 threshold
    rewritten = col.vacuum()
    assert len(rewritten) == 1
    st = col.stats()
    assert (st[rewritten[0]]["total"], st[rewritten[0]]["deleted"]) == (2, 0)
    # searches unaffected
    got = col.search([0, 1], [0.0, 0.0, 1.0, 0.0], 5).collect()
    assert [r["doc_id"] for r in got] == [3, 2]


def test_reinsert_after_remove_is_searchable(col, spark):
    """Tombstones mask only rows at-or-below their seq_no (the reference
    invalidates at remove time guarded by sequence_number): a doc
    re-inserted AFTER a remove must be visible again."""
    col.insert(_docs_df(spark, R1))
    col.flush()
    col.remove([0], [1])
    col.insert(_docs_df(spark, [R1[0]]))  # re-insert doc 1 at a higher seq_no
    col.flush()
    got = col.search([0], [1.0, 0.0, 0.0, 0.0], 5).collect()
    assert [r["doc_id"] for r in got] == [1, 2]
    # and the older copy stays masked: only ONE row for doc 1 survives
    assert col.docs().filter("doc_id = 1").count() == 1


def test_tombstones_pruned_after_full_rewrite(col, spark):
    """A merge covering every segment applies all tombstones physically,
    so the tombstone log is pruned (invalidated-ids cleanup analog)."""
    col.insert(_docs_df(spark, R1)); col.flush()
    col.remove([0], [1])
    col.merge_segments()
    assert col.tombstones().count() == 0
    # a full prune deletes the directory, so reads plan no mask again
    assert not os.path.exists(col._tombstone_dir())
    # masking still correct: doc 1 was dropped by the rewrite itself
    assert sorted(r["doc_id"] for r in col.docs().collect()) == [2, 3]
    col.build_index()
    got = col.ann_search([0, 1], [1.0, 0.0, 0.0, 0.0], 5,
                         num_probes=col.config.num_centroids,
                         centroid_distance_ratio=None).collect()
    assert sorted(r["id"] for r in got) == [2, 3]
    got = col.term_search([0, 1], {"contains": {"path": "category", "value": "news"}}, 10)
    assert [r["doc_id"] for r in got.collect()] == [3]


def test_merge_segments(col, spark):
    col.insert(_docs_df(spark, R1)); col.flush()
    col.insert(_docs_df(spark, R2)); col.flush()
    col.remove([0], [2])
    merged = col.merge_segments()
    toc = col.toc()
    assert toc["segments"] == [merged]
    # tombstoned row physically dropped by the merge rewrite
    assert col.docs(with_tombstones=True).count() == 4


def test_auto_optimize_policies(col, spark):
    col.insert(_docs_df(spark, R1)); col.flush()
    col.remove([0], [1])
    actions = col.auto_optimize()
    assert len(actions["vacuumed"]) == 1
    assert actions["merged"] is None  # only 1 segment < max_segments


@pytest.mark.slow
def test_build_index_durable_round_trip(col, spark, tmp_path):
    """Durable index contract: build_index() writes per-segment artifacts
    under segments/<seg>/index/, the TOC references them, and a NEW
    Collection handle (fresh open, no in-memory state) searches them
    without rebuilding — matching reader.rs reopening flush artifacts."""
    import os

    col.insert(_docs_df(spark, R1)); col.flush()
    col.insert(_docs_df(spark, R2)); col.flush()
    built = col.build_index()
    toc = col.toc()
    assert all(set(v) == {"ivf", "terms"} for v in built.values())
    assert toc["indexes"] == {s: ["ivf", "terms"] for s in toc["segments"]}
    for seg in toc["segments"]:
        d = os.path.join(col.root, "segments", seg, "index")
        assert os.path.exists(os.path.join(d, "ivf", "meta.json"))
        assert os.path.isdir(os.path.join(d, "terms"))
    before = col.ann_search([0, 1], [1.0, 0.0, 0.0, 0.0], 3,
                            num_probes=col.config.num_centroids,
                            centroid_distance_ratio=None).collect()
    # "restart": brand-new handle reads only what's on disk
    re = Collection.open(spark, str(tmp_path), "test_col")
    after = re.ann_search([0, 1], [1.0, 0.0, 0.0, 0.0], 3,
                          num_probes=re.config.num_centroids,
                          centroid_distance_ratio=None).collect()
    assert [(r["user_id"], r["id"]) for r in after] == \
        [(r["user_id"], r["id"]) for r in before]
    assert [r["id"] for r in after] == [1, 4, 5]
    # full probe => exact: equals the brute-force docs-table search
    exact = re.search([0, 1], [1.0, 0.0, 0.0, 0.0], 3).collect()
    assert [r["id"] for r in after] == [r["doc_id"] for r in exact]
    # incremental: a new flush leaves old artifacts; only the new
    # segment builds
    col.insert(_docs_df(spark, [(0, 9, [0.5, 0.5, 0.0, 0.0], "epsilon", "news", 5)]))
    col.flush()
    built2 = col.build_index()
    assert sum(1 for s in built2 if built2[s]) == len(built2)
    got = col.ann_search([0], [0.5, 0.5, 0.0, 0.0], 1,
                         num_probes=col.config.num_centroids,
                         centroid_distance_ratio=None).collect()
    assert [r["id"] for r in got] == [9]


@pytest.mark.slow
def test_ann_search_tombstone_and_prefilter(col, spark):
    col.insert(_docs_df(spark, R1)); col.insert(_docs_df(spark, R2))
    col.flush()
    col.build_index()
    col.remove([0], [1])
    got = col.ann_search([0], [1.0, 0.0, 0.0, 0.0], 2,
                         num_probes=col.config.num_centroids,
                         centroid_distance_ratio=None).collect()
    assert [r["id"] for r in got] == [4, 2]  # doc 1 masked
    # re-insert after remove: visible again via the seq_no-aware mask
    col.insert(_docs_df(spark, [R1[0]])); col.flush(); col.build_index()
    got = col.ann_search([0], [1.0, 0.0, 0.0, 0.0], 2,
                         num_probes=col.config.num_centroids,
                         centroid_distance_ratio=None).collect()
    assert [r["id"] for r in got] == [1, 4]
    # F8 pre-filter as a DataFrame semi join
    allowed = spark.createDataFrame([(2,), (4,)], "id long")
    got = col.ann_search([0], [1.0, 0.0, 0.0, 0.0], 5,
                         num_probes=col.config.num_centroids,
                         centroid_distance_ratio=None,
                         pre_filter_ids=allowed).collect()
    assert sorted(r["id"] for r in got) == [2, 4]


def test_term_search_indexed_durable(col, spark):
    col.insert(_docs_df(spark, R1)); col.insert(_docs_df(spark, R2))
    col.flush()
    col.build_index()
    got = col.term_search_indexed([0, 1], [("title", "run")], 10)
    assert [r["doc_id"] for r in got.collect()] == [1, 5]
    col.remove([0], [1])
    got = col.term_search_indexed([0, 1], [("title", "run")], 10)
    assert [r["doc_id"] for r in got.collect()] == [5]
    assert got.columns == ["user_id", "doc_id"]


def test_term_search_indexed_empty_collection(col):
    got = col.term_search_indexed([0], [("title", "run")], 10)
    assert got.schema.simpleString() == "struct<user_id:bigint,doc_id:bigint>"
    assert got.collect() == []


def test_term_search_indexed_no_terms(col, spark):
    col.insert(_docs_df(spark, R1))
    col.flush()
    col.build_index()
    got = col.term_search_indexed([0, 1], [], 10)
    assert got.schema.simpleString() == "struct<user_id:bigint,doc_id:bigint>"
    assert got.collect() == []


@pytest.mark.slow
def test_pq_collection_durable_index(spark, tmp_path):
    """quantizer='pq' collections persist the codebook and store PQ
    codes in the durable postings; ann_search scores ADC in the scan and
    rerank returns the exact top-k."""
    import os

    cfg = CollectionConfig(
        name="pq_durable", num_features=4, quantizer="pq",
        pq_subvectors=2, pq_centers=4,
        attribute_schema={"title": "text"},
    )
    col = Collection.create(spark, str(tmp_path), cfg)
    col.insert(_docs_df(spark, R1)); col.insert(_docs_df(spark, R2))
    col.flush()
    col.build_index()
    assert os.path.exists(os.path.join(col.root, "pq_codebook.json"))
    idx = col.load_segment_index(col.toc()["segments"][0])
    assert "pq_code" in idx.postings.columns and idx.codebook is not None
    got = col.ann_search([0, 1], [0.0, 0.0, 1.0, 0.0], 2,
                         num_probes=cfg.num_centroids,
                         centroid_distance_ratio=None,
                         rerank=5).collect()
    assert [r["id"] for r in got] == [3, 5]  # exact after re-rank


def test_rabitq_collection_durable_index(spark, tmp_path):
    """quantizer='rabitq' collections persist the rotation/centroid
    artifact and store bit codes in the durable postings; ann_search
    scores the binary estimator in the scan and rerank returns the
    exact top-k."""
    import os

    cfg = CollectionConfig(
        name="rq_durable", num_features=4, quantizer="rabitq",
        attribute_schema={"title": "text"},
    )
    col = Collection.create(spark, str(tmp_path), cfg)
    col.insert(_docs_df(spark, R1)); col.insert(_docs_df(spark, R2))
    col.flush()
    col.build_index()
    assert os.path.exists(os.path.join(col.root, "rabitq_codebook.json"))
    idx = col.load_segment_index(col.toc()["segments"][0])
    assert {"rq_code", "rq_norm", "rq_ip"} <= set(idx.postings.columns)
    assert idx.quantizer == "rabitq"
    got = col.ann_search([0, 1], [0.0, 0.0, 1.0, 0.0], 2,
                         num_probes=cfg.num_centroids,
                         centroid_distance_ratio=None,
                         rerank=5).collect()
    assert [r["id"] for r in got] == [3, 5]  # exact after re-rank


def test_gc_versions(col, spark):
    col.insert(_docs_df(spark, R1)); col.flush()      # v1
    col.insert(_docs_df(spark, R2)); col.flush()      # v2
    merged = col.merge_segments()                      # v3
    assert col.current_version() == 3
    gone = col.gc_versions(keep_latest=1)
    assert gone["versions"] == [0, 1, 2]
    # only the merged segment survives on disk
    import os
    segs = os.listdir(os.path.join(col.root, "segments"))
    assert segs == [merged]
    # current snapshot still fully readable
    assert col.docs().count() == 5
    # pruned versions are no longer readable
    with pytest.raises(FileNotFoundError):
        col.toc(1)


def test_pq_quantizer_gated_and_search(spark, tmp_path):
    cfg = CollectionConfig(
        name="pq_col", num_features=4, quantizer="pq",
        attribute_schema={"title": "text"},
    )
    col = Collection.create(spark, str(tmp_path), cfg)
    col.insert(_docs_df(spark, R1)); col.insert(_docs_df(spark, R2))
    col.flush()
    cb = col.build_quantizer(num_subvectors=2, num_centers=4)
    got = col.search_pq(cb, [0, 1], [0.0, 0.0, 1.0, 0.0], 2).collect()
    assert [r["doc_id"] for r in got] == [3, 5]  # the two vectors near e3

    # gate: non-pq collection refuses to train a codebook
    cfg2 = CollectionConfig(name="raw_col", num_features=4)
    raw = Collection.create(spark, str(tmp_path), cfg2)
    with pytest.raises(ValueError, match="quantizer"):
        raw.build_quantizer()


@pytest.mark.slow
def test_concurrent_writers_mint_distinct_seq_nos(spark, tmp_path):
    """Reference pattern-3 analog (core.rs concurrent group-commit
    tests): racing writers must never share a seq_no — the claim-file
    allocation arbitrates via exclusive create, no external lock."""
    from concurrent.futures import ThreadPoolExecutor

    from muopdb_spark.catalog.collection import Collection, CollectionConfig

    col = Collection.create(
        spark, str(tmp_path), CollectionConfig(name="conc", num_features=2)
    )

    def write(i: int) -> int:
        return col.insert(spark.createDataFrame(
            [(0, i, [float(i), 0.0])],
            "user_id long, doc_id long, vector array<float>",
        ))

    with ThreadPoolExecutor(max_workers=8) as ex:
        seqs = list(ex.map(write, range(16)))
    assert len(set(seqs)) == 16, f"duplicate seq_nos: {sorted(seqs)}"
    # all rows landed, each batch with its own seq_no
    col.flush()
    docs = col.docs()
    assert docs.count() == 16
    assert docs.select("seq_no").distinct().count() == 16
    # claims pruned up to the flushed watermark
    import os
    claims = col._seq_claims_dir()
    assert not os.path.isdir(claims) or not os.listdir(claims)


def test_flush_writes_doc_id_bloom_filter(spark, tmp_path):
    """Flushed segments carry a parquet bloom filter on doc_id
    (multi_spann/builder.rs:16-26 analog — the delete path's point
    probes skip row groups min/max stats can't prune). pyarrow doesn't
    surface bloom metadata, so the gate is mechanical: the per-column
    writer option must grow the segment files vs a bloom-disabled twin
    of the same data, and reads must be identical."""
    import os

    from muopdb_spark.catalog.collection import Collection, CollectionConfig

    def build(name: str, ndv: int) -> tuple[int, list[int]]:
        col = Collection.create(
            spark, str(tmp_path), CollectionConfig(
                name=name, num_features=2, bloom_filter_ndv=ndv,
            )
        )
        rows = [(0, d, [float(d), 1.0]) for d in range(2000)]
        col.insert(spark.createDataFrame(
            rows, "user_id long, doc_id long, vector array<float>"
        ))
        seg = col.flush()
        seg_dir = os.path.join(col._segment_dir(seg), "docs")
        size = 0
        for dp, _, fs in os.walk(seg_dir):
            size += sum(os.path.getsize(os.path.join(dp, f))
                        for f in fs if f.endswith(".parquet"))
        ids = sorted(r["doc_id"] for r in
                     col.docs().filter("doc_id IN (7, 1234, 1999)").collect())
        return size, ids

    size_bloom, ids_bloom = build("with_bloom", 2048)
    size_plain, ids_plain = build("no_bloom", 0)
    assert ids_bloom == ids_plain == [7, 1234, 1999]
    assert size_bloom > size_plain, (
        f"bloom option did not reach the writer: {size_bloom} <= {size_plain}"
    )


def test_bloom_filter_skips_row_groups_on_read(spark, tmp_path):
    """READ-side proof the flushed bloom filter prunes: drive parquet-mr's
    own row-group filter (the code path a point probe — delete/id lookup,
    multi_spann/builder.rs:16-26 analog — takes) against a flushed
    segment with bloom-level filtering only.

    Expectations: an id IN the segment keeps its row group; an id inside
    the [min, max] range but NOT in the segment drops to 0 row groups
    with the bloom consulted, yet survives with the bloom disabled —
    proving the skip came from the bloom, not from min/max stats.

    doc_ids sit above 2^31 on purpose: py4j auto-converts boxed
    java.lang.Long results to Python ints and re-sends values < 2^31 as
    java.lang.Integer, which parquet-mr hashes as INT32 — the probe
    would then report false negatives for values that ARE in the filter
    (diagnosed r5; the pure-python XXH64 block-split probe confirmed
    the written bitset matches the INT64 hashes exactly)."""
    import glob
    import os

    from muopdb_spark.catalog.collection import Collection, CollectionConfig

    base = 1 << 40
    col = Collection.create(
        spark, str(tmp_path), CollectionConfig(
            name="bloom_read", num_features=2, bloom_filter_ndv=4096,
        )
    )
    # even offsets only: odd ids are absent but inside [min, max]
    rows = [(0, base + d, [float(d), 1.0]) for d in range(0, 4000, 2)]
    col.insert(spark.createDataFrame(
        rows, "user_id long, doc_id long, vector array<float>"
    ))
    seg = col.flush()
    f = glob.glob(
        os.path.join(col._segment_dir(seg), "docs", "**", "*.parquet"),
        recursive=True,
    )[0]

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    FilterApi = jvm.org.apache.parquet.filter2.predicate.FilterApi
    FilterCompat = jvm.org.apache.parquet.filter2.compat.FilterCompat

    def surviving_row_groups(value: int, use_bloom: bool) -> int:
        infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(f), conf
        )
        pred = FilterApi.eq(FilterApi.longColumn("doc_id"), value)
        opts = (
            jvm.org.apache.parquet.ParquetReadOptions.builder()
            .withRecordFilter(FilterCompat.get(pred))
            .useBloomFilter(use_bloom)
            .useStatsFilter(False)
            .useDictionaryFilter(False)
            .build()
        )
        r = jvm.org.apache.parquet.hadoop.ParquetFileReader(infile, opts)
        try:
            return r.getRowGroups().size()
        finally:
            r.close()

    assert surviving_row_groups(base + 3844, True) == 1   # present: kept
    assert surviving_row_groups(base + 3845, True) == 0   # absent: SKIPPED
    assert surviving_row_groups(base + 3845, False) == 1  # stats can't prune


def test_append_lock_shared_across_instances(col, spark, tmp_path):
    """The FileOutputCommitter staging race is per-DIRECTORY: a second
    Collection object opened on the same collection must share the same
    append lock (a per-instance lock would not serialize their
    concurrent WAL appends)."""
    re = Collection.open(spark, str(tmp_path), "test_col")
    assert re._append_lock is col._append_lock


def test_opq_collection_durable_index(spark, tmp_path):
    """quantizer='opq' collections persist the rotation+codebook
    artifact and store rotated-space PQ codes in the durable postings;
    ann_search scores rotated ADC in the scan and rerank returns the
    exact top-k (same contract as pq/rabitq above)."""
    import os

    cfg = CollectionConfig(
        name="opq_durable", num_features=4, quantizer="opq",
        pq_subvectors=2, pq_centers=4,
        attribute_schema={"title": "text"},
    )
    col = Collection.create(spark, str(tmp_path), cfg)
    col.insert(_docs_df(spark, R1)); col.insert(_docs_df(spark, R2))
    col.flush()
    col.build_index()
    assert os.path.exists(os.path.join(col.root, "opq_codebook.json"))
    idx = col.load_segment_index(col.toc()["segments"][0])
    assert "pq_code" in idx.postings.columns and idx.quantizer == "opq"
    # reopened codebook carries an orthonormal rotation
    import numpy as np

    R = idx.codebook.rotation
    assert np.allclose(R @ R.T, np.eye(R.shape[0]), atol=1e-8)
    got = col.ann_search([0, 1], [0.0, 0.0, 1.0, 0.0], 2,
                         num_probes=cfg.num_centroids,
                         centroid_distance_ratio=None,
                         rerank=5).collect()
    assert [r["id"] for r in got] == [3, 5]  # exact after re-rank


def test_prune_crash_window_recovers_survivor_tombstones(col, spark):
    """r16 crash-consistency fix: _prune_tombstones rewrites the
    tombstone dir as write-tmp -> rmtree -> rename; a crash between the
    last two left NO tombstone dir and tombstones() silently read
    EMPTY — every not-yet-applied deletion resurrected. The read path
    now (a) finishes the rename when a COMPLETE .rewrite exists with no
    main dir, and (b) discards a leftover .rewrite when the main dir is
    still authoritative."""
    import os
    import shutil

    col.insert(_docs_df(spark, R1)); col.flush()
    col.remove([0], [1])
    d = col._tombstone_dir()
    tmp = d + ".rewrite"
    before = sorted(
        tuple(r) for r in col.tombstones().collect()
    )
    assert before  # the removal is on disk

    # (a) crash AFTER rmtree, BEFORE rename: stage the complete tmp the
    # prune would have written, then delete the main dir
    shutil.copytree(d, tmp)
    shutil.rmtree(d)
    assert sorted(tuple(r) for r in col.tombstones().collect()) == before
    assert os.path.isdir(d) and not os.path.isdir(tmp)  # rename finished
    # masking still holds after recovery — doc 1 stays deleted
    got = col.search([0], [1.0, 0.0, 0.0, 0.0], 5).collect()
    assert [r["doc_id"] for r in got] == [2]

    # (b) crash BEFORE rmtree: main dir authoritative, tmp is a
    # leftover — discarded, contents ignored
    os.makedirs(tmp)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    assert sorted(tuple(r) for r in col.tombstones().collect()) == before
    assert not os.path.isdir(tmp)

    # (c) an INCOMPLETE tmp (no _SUCCESS) with no main dir is never
    # promoted (cannot happen in the real sequence; belt-and-braces:
    # the empty fallback is the pre-existing fresh-collection shape)
    shutil.move(d, tmp)
    os.remove(os.path.join(tmp, "_SUCCESS"))
    assert col.tombstones().count() == 0
    shutil.rmtree(tmp)


def test_language_tagged_schema_survives_reopen(spark, tmp_path):
    """r16 review finding: (kind, language) attribute specs arrive as
    TUPLES in-process but as LISTS after the config JSON round-trip.
    Both term_search (tuple-only isinstance) and build_index (plain
    string membership) silently dropped such fields — a reopened
    collection's term_search raised a raw KeyError and the durable
    terms index was never built at all."""
    cfg = CollectionConfig(
        name="lang_col", num_features=2,
        attribute_schema={"body": ("text", "german")},
    )
    col = Collection.create(spark, str(tmp_path), cfg)
    df = spark.createDataFrame(
        [(1, 10, [0.0, 1.0], "laufen gelaufen"),
         (1, 11, [1.0, 0.0], "katzen")],
        "user_id long, doc_id long, vector array<float>, body string",
    )
    col.insert(df)
    col.flush()
    # the durable terms index must be built for the tagged field
    built = col.build_index()
    assert all("terms" in kinds for kinds in built.values()), built
    # stemmed German contains on the fresh handle...
    q = {"contains": {"path": "body", "value": "laufen"}}
    assert [r["doc_id"] for r in col.term_search([1], q, 10).collect()] \
        == [10]
    # ...and on a REOPENED one (list-typed spec)
    re = Collection.open(spark, str(tmp_path), "lang_col")
    assert re.config.attribute_schema == {"body": ["text", "german"]}
    assert [r["doc_id"] for r in re.term_search([1], q, 10).collect()] \
        == [10]
    got = re.term_search_indexed([1], [("body", "lauf")], 10).collect()
    assert [r["doc_id"] for r in got] == [10]


def test_unknown_filter_attribute_is_named_valueerror(col, spark):
    col.insert(_docs_df(spark, R1))
    col.flush()
    with pytest.raises(ValueError, match="unknown searchable attribute"):
        col.term_search([0], {"contains": {"path": "nope", "value": "x"}},
                        10).collect()


def test_merge_watermark_excludes_concurrent_remove(col, spark, monkeypatch):
    """r16 review finding: merge_segments read the tombstone dir TWICE
    (once for masking, once for the applied watermark). A remove()
    landing between the reads got a watermark above its seq_no without
    ever being applied — and the post-merge prune then deleted it,
    resurrecting the doc. The fix pins both to one snapshot; this test
    injects the race at the exact point (after merge's snapshot read)."""
    col.insert(_docs_df(spark, R1))
    col.flush()
    col.remove([0], [2])  # applied by the merge below
    real = Collection.tombstones
    state = {"fired": False}

    def racy(self):
        df = real(self)
        if not state["fired"]:
            state["fired"] = True
            # concurrent remove lands just after merge snapshots the dir
            real_tomb = Collection.tombstones
            monkeypatch.setattr(Collection, "tombstones", real)
            try:
                self.remove([0], [1])
            finally:
                monkeypatch.setattr(Collection, "tombstones", real_tomb)
        return df

    monkeypatch.setattr(Collection, "tombstones", racy)
    col.merge_segments()
    monkeypatch.setattr(Collection, "tombstones", real)
    # the mid-merge tombstone must SURVIVE the prune...
    surviving = col.tombstones().select("doc_id").collect()
    assert [r["doc_id"] for r in surviving] == [1]
    # ...so doc 1 stays masked (the old code resurrected it here)
    got = col.search([0], [1.0, 0.0, 0.0, 0.0], 5).collect()
    assert [r["doc_id"] for r in got] == []
    # doc 2's tombstone was applied by the rewrite and pruned
    assert col.docs(with_tombstones=True).filter(
        F.col("doc_id") == 2).isEmpty()


def test_insert_rejects_wrong_length_in_write_pass(col, spark):
    """r16: validation moved inside the write job (one input scan, no
    validate-then-write TOCTOU); the named ValueError contract holds
    and a failed insert commits nothing."""
    bad = spark.createDataFrame(
        [(0, 9, [1.0, 0.0], "t", "c", 1)],
        "user_id long, doc_id long, vector array<float>, title string, "
        "category string, views long",
    )
    with pytest.raises(ValueError, match="num_features=4"):
        col.insert(bad)
    assert col.flush() is None  # nothing committed to the WAL


def test_seq_claims_dir_not_name_nested(col, spark, tmp_path):
    col.insert(_docs_df(spark, R1))
    import os
    assert os.path.isdir(str(tmp_path / "test_col" / "seq_claims"))
    assert not os.path.isdir(
        str(tmp_path / "test_col" / "test_col" / "seq_claims"))
    # legacy stickiness: a pre-r16 nested dir keeps being the arbiter
    legacy = tmp_path / "test_col" / "test_col" / "seq_claims"
    legacy.mkdir(parents=True)
    assert col._seq_claims_dir() == str(legacy)
