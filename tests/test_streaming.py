"""Streaming ingest (WAL semantics) + windowed/deduped stream analytics,
driven through file sources with availableNow triggers."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from muopdb_spark.catalog.collection import Collection, CollectionConfig
from muopdb_spark.streaming.ingest import (
    stream_insert,
    streaming_dedup,
    windowed_event_counts,
)

DOC_SCHEMA = "user_id long, doc_id long, vector array<float>"


def _write_json(dirpath, name, rows):
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_stream_insert_to_collection(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_json(src, "a.jsonl", [
        {"user_id": 0, "doc_id": 1, "vector": [1.0, 0.0]},
        {"user_id": 0, "doc_id": 2, "vector": [0.0, 1.0]},
    ])
    _write_json(src, "b.jsonl", [
        {"user_id": 1, "doc_id": 3, "vector": [0.5, 0.5]},
    ])
    col = Collection.create(
        spark, str(tmp_path / "cols"), CollectionConfig(name="sc", num_features=2)
    )
    stream = spark.readStream.schema(DOC_SCHEMA).json(src)
    q = stream_insert(col, stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    # WAL has the rows; search still empty until flush (W5)
    assert col.search([0], [1.0, 0.0], 5).isEmpty()
    col.flush()
    got = col.search([0, 1], [1.0, 0.0], 3).collect()
    assert [r["doc_id"] for r in got] == [1, 3, 2]

    # restart the stream with a NEW file: only the new batch is ingested
    _write_json(src, "c.jsonl", [
        {"user_id": 0, "doc_id": 4, "vector": [0.9, 0.1]},
    ])
    q2 = stream_insert(col, spark.readStream.schema(DOC_SCHEMA).json(src),
                       str(tmp_path / "ckpt"))
    q2.awaitTermination(120)
    col.flush()
    assert col.docs().count() == 4  # no duplicate ingestion of a/b


def test_windowed_event_counts(spark, tmp_path):
    src = str(tmp_path / "ev")
    _write_json(src, "e.jsonl", [
        {"event_id": 1, "ts": "2024-01-01T00:10:00", "event_type": "click", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T00:40:00", "event_type": "click", "value": 2.0},
        {"event_id": 3, "ts": "2024-01-01T01:10:00", "event_type": "view", "value": 3.0},
    ])
    stream = (
        spark.readStream
        .schema("event_id long, ts string, event_type string, value double")
        .json(src)
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        out.writeStream.format("memory").queryName("win_counts")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = {(str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.sql("SELECT * FROM win_counts").collect()}
    assert rows[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert rows[("2024-01-01 01:00:00", "view")] == (1, 3.0)


def test_streaming_dedup(spark, tmp_path):
    src = str(tmp_path / "dup")
    _write_json(src, "d.jsonl", [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "value": 1.0},
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "value": 1.0},  # dup
        {"event_id": 2, "ts": "2024-01-01T00:00:05", "value": 2.0},
    ])
    stream = (
        spark.readStream.schema("event_id long, ts string, value double").json(src)
        .withColumn("ts", F.to_timestamp("ts"))
    )
    q = (
        streaming_dedup(stream).writeStream.format("memory").queryName("dedup_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT event_id FROM dedup_out ORDER BY event_id").collect()
    assert [r["event_id"] for r in got] == [1, 2]


def test_running_user_stats_stateful(spark, tmp_path):
    from muopdb_spark.streaming.ingest import running_user_stats

    src = str(tmp_path / "st")
    _write_json(src, "s1.jsonl", [
        {"user_id": 1, "ts": "2024-01-01T00:00:00", "value": 1.0},
        {"user_id": 1, "ts": "2024-01-01T00:01:00", "value": 2.0},
        {"user_id": 2, "ts": "2024-01-01T00:02:00", "value": 5.0},
    ])
    out_dir = str(tmp_path / "out")

    def run_once():
        stream = (
            spark.readStream.schema("user_id long, ts string, value double").json(src)
            .withColumn("ts", F.to_timestamp("ts"))
        )

        def sink(batch_df, batch_id):
            if not batch_df.isEmpty():
                batch_df.write.mode("append").parquet(out_dir)

        q = (
            running_user_stats(stream).writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run_once()
    got = {r["user_id"]: (r["n_events"], r["sum_value"])
           for r in spark.read.parquet(out_dir).collect()}
    assert got[1] == (2, 3.0) and got[2] == (1, 5.0)

    # second file + restart from the same checkpoint: state must carry
    _write_json(src, "s2.jsonl", [
        {"user_id": 1, "ts": "2024-01-01T00:05:00", "value": 10.0},
    ])
    run_once()
    latest = {}
    for r in spark.read.parquet(out_dir).collect():
        n, s = latest.get(r["user_id"], (0, 0.0))
        if r["n_events"] >= n:
            latest[r["user_id"]] = (r["n_events"], r["sum_value"])
    assert latest[1] == (3, 13.0)  # state restored: 2+1 events, 3+10 value


def test_autoflush_policy(spark, tmp_path):
    from muopdb_spark.streaming.ingest import stream_insert_with_autoflush

    src = str(tmp_path / "af")
    # two files -> two micro-batches (maxFilesPerTrigger=1)
    _write_json(src, "f1.jsonl", [
        {"user_id": 0, "doc_id": i, "vector": [float(i), 0.0]} for i in range(3)
    ])
    _write_json(src, "f2.jsonl", [
        {"user_id": 0, "doc_id": 10 + i, "vector": [float(i), 1.0]} for i in range(3)
    ])
    col = Collection.create(
        spark, str(tmp_path / "c"), CollectionConfig(name="af", num_features=2)
    )
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1).json(src)
    )
    # threshold 4: first batch (3 rows) stays pending, second batch
    # crosses it -> exactly one flush covering all 6 rows
    q = stream_insert_with_autoflush(
        col, stream, str(tmp_path / "ck"), max_pending_rows=4
    )
    q.awaitTermination(120)
    assert len(col.toc()["segments"]) == 1
    assert col.docs().count() == 6


def test_stream_ann_search_matches_batch(spark, tmp_path):
    """Continuous ANN: a stream of query vectors scored per micro-batch
    via ivf_search_batch must equal the batch answer for the same
    queries (availableNow drains the source)."""
    import json

    import numpy as np

    from muopdb_spark.index.ivf import build_ivf, ivf_search_batch
    from muopdb_spark.streaming.serving import stream_ann_search

    rng = np.random.default_rng(5)
    rows = []
    for c in range(4):
        for j, p in enumerate(np.full(6, c * 100.0) + rng.normal(0, 3.0, (30, 6))):
            rows.append((c * 30 + j, [float(x) for x in p]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    index = build_ivf(corpus, num_centroids=4, seed=3)

    qdir = tmp_path / "queries"
    qdir.mkdir()
    queries = [(qid, [float(x) for x in np.full(6, (qid % 4) * 100.0)])
               for qid in range(6)]
    with open(qdir / "q.jsonl", "w") as f:
        for qid, v in queries:
            f.write(json.dumps({"query_id": qid, "query_vector": v}) + "\n")

    stream = spark.readStream.schema("query_id long, query_vector array<double>") \
        .json(str(qdir))
    q = stream_ann_search(
        index, stream, str(tmp_path / "results"), str(tmp_path / "ckpt"),
        k=3, num_probes=4, centroid_distance_ratio=None,
        trigger_available_now=True,
    )
    q.awaitTermination(120)

    got = spark.read.parquet(str(tmp_path / "results"))
    assert "batch_id" in got.columns
    qdf = spark.createDataFrame(queries, "query_id long, query_vector array<double>")
    want = ivf_search_batch(index, qdf, 3, num_probes=4,
                            centroid_distance_ratio=None)
    assert got.select("query_id", "id", "score") \
              .exceptAll(want).count() == 0
    assert want.exceptAll(got.select("query_id", "id", "score")).count() == 0


@pytest.mark.slow
def test_stream_admission_incremental_dedup(spark, tmp_path):
    """Continuous corpus admission: batch 2's near-dup of a doc ADMITTED
    in batch 1 must be rejected — the signature artifact grows across
    micro-batches — and intra-batch near-dups resolve to the lowest id."""
    from muopdb_spark.streaming.admission import (
        bootstrap_corpus,
        stream_admission,
    )

    fam_x = "the quick brown fox jumps over the lazy dog again and again today"
    fam_x_near = "the quick brown fox jumps over the lazy dog again and again tonight"
    fam_y = "completely different content about spark dataframes and shuffles everywhere"
    z = "rivers carve canyons slowly over millions of patient years downstream"
    z_near = "rivers carve canyons slowly over millions of patient years upstream"
    w = "orchestras tune their instruments before every single evening performance"
    w_near = "orchestras tune their instruments before every single morning performance"

    corpus_path = str(tmp_path / "corpus")
    sig_path = str(tmp_path / "sigs")
    rejected_path = str(tmp_path / "rejected")
    seed = spark.createDataFrame(
        [(1, fam_x), (2, fam_y)], "doc_id long, text string"
    )
    bootstrap_corpus(seed, corpus_path, sig_path)

    src = str(tmp_path / "incoming")
    _write_json(src, "f1.jsonl", [
        {"doc_id": 10, "text": fam_x_near},   # near-dup of corpus doc 1
        {"doc_id": 11, "text": z},            # novel -> admitted
    ])
    _write_json(src, "f2.jsonl", [
        {"doc_id": 20, "text": z_near},       # near-dup of 11 (batch 1!)
        {"doc_id": 21, "text": w},            # novel -> admitted
        {"doc_id": 22, "text": w_near},       # intra-batch near-dup of 21
    ])
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).json(src)
    )
    q = stream_admission(
        stream, corpus_path, sig_path, rejected_path,
        str(tmp_path / "ck"),
        threshold=0.5, trigger_available_now=True,
    )
    q.awaitTermination(180)

    corpus_ids = {
        r["doc_id"] for r in spark.read.parquet(corpus_path).collect()
    }
    assert corpus_ids == {1, 2, 11, 21}
    # the artifact tracks the corpus exactly (next batches see 11, 21)
    sig_ids = {r["id"] for r in spark.read.parquet(sig_path).collect()}
    assert sig_ids == corpus_ids
    rejected = {
        (r["new_id"], r["corpus_id"], r["batch_id"], r["reason"])
        for r in spark.read.parquet(rejected_path).collect()
    }
    # the audit trail accounts for EVERY rejected doc, including the
    # intra-batch near-dup (22 vs 21) that the dedup itself resolves
    assert rejected == {
        (10, 1, 0, "duplicate"),
        (20, 11, 1, "duplicate"),
        (22, 21, 1, "intra_duplicate"),
    }


@pytest.mark.slow
def test_admit_batch_replay_after_sig_only_crash(spark, tmp_path):
    """Crash-consistency contract (r16, signatures-before-corpus):
    a round that died AFTER the signature append but BEFORE the corpus
    append leaves a dangling signature. Replaying the round must (a)
    NOT reject the doc against its own dangling signature (the exact-
    Jaccard verify inner-joins corpus text, which is absent) and (b)
    land the text exactly once — no duplicate corpus rows, which is
    what the pre-r16 corpus-first ordering produced on replay."""
    from muopdb_spark.operators.dedup import minhash_signature_df
    from muopdb_spark.streaming.admission import admit_batch, bootstrap_corpus

    corpus_path = str(tmp_path / "c")
    sig_path = str(tmp_path / "s")
    rejected_path = str(tmp_path / "r")
    bootstrap_corpus(
        spark.createDataFrame(
            [(1, "completely unrelated seed document about gardens")],
            "doc_id long, text string",
        ),
        corpus_path, sig_path,
    )
    batch = spark.createDataFrame(
        [(5, "the quick brown fox jumps over the lazy dog again today")],
        "doc_id long, text string",
    )
    # simulate the crash window: the round's signature append landed...
    minhash_signature_df(batch).drop("sh").write.mode("append").parquet(
        sig_path
    )
    # ...the corpus append did not. Now the foreachBatch replay re-runs
    # the whole round.
    admit_batch(batch, 9, corpus_path, sig_path, rejected_path,
                threshold=0.5)
    corpus = spark.read.parquet(corpus_path).collect()
    assert sorted(r["doc_id"] for r in corpus) == [1, 5]  # exactly once
    import os

    # the replay must not have spuriously rejected doc 5
    assert not os.path.isdir(rejected_path) or \
        spark.read.parquet(rejected_path).count() == 0
    # residue is only the duplicate signature row, which probes tolerate
    sigs = spark.read.parquet(sig_path).filter("id = 5")
    assert sigs.count() == 2
    # a SECOND batch carrying a true near-dup of doc 5 is still caught
    # despite the duplicated signature rows
    admit_batch(
        spark.createDataFrame(
            [(8, "the quick brown fox jumps over the lazy dog again "
                 "tonight")],
            "doc_id long, text string",
        ),
        10, corpus_path, sig_path, rejected_path, threshold=0.5,
    )
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(corpus_path).collect()
    ) == [1, 5]
    # the duplicated signature row may duplicate the audit record —
    # the module contract keys audits by (batch_id, new_id), so
    # compare as a set
    rej = spark.read.parquet(rejected_path).collect()
    assert {(r["new_id"], r["corpus_id"], r["reason"]) for r in rej} \
        == {(8, 5, "duplicate")}


def test_admit_batch_is_callable_in_batch_mode(spark, tmp_path):
    """admit_batch doubles as the batch-pipeline admission round."""
    from muopdb_spark.streaming.admission import admit_batch, bootstrap_corpus

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tonight"
    corpus_path = str(tmp_path / "c")
    sig_path = str(tmp_path / "s")
    rejected_path = str(tmp_path / "r")
    bootstrap_corpus(
        spark.createDataFrame([(1, base)], "doc_id long, text string"),
        corpus_path, sig_path,
    )
    batch = spark.createDataFrame(
        [(5, near), (6, "unrelated text about entirely other matters here")],
        "doc_id long, text string",
    )
    admit_batch(batch, 7, corpus_path, sig_path, rejected_path, threshold=0.5)
    assert {r["doc_id"] for r in spark.read.parquet(corpus_path).collect()} == {1, 6}
    rej = spark.read.parquet(rejected_path).collect()
    assert [(r["new_id"], r["corpus_id"], r["batch_id"]) for r in rej] == [(5, 1, 7)]


def test_admit_batch_quality_rejections_recorded(spark, tmp_path):
    """Quality-gated docs must land in the audit parquet with
    reason='quality' (null corpus_id/jaccard) — including when the
    WHOLE batch fails the gate and the round admits nothing."""
    from muopdb_spark.streaming.admission import admit_batch, bootstrap_corpus

    good = "the quick brown fox jumps over the lazy dog every single day"
    junk = "zzzz 1234 @@@@ #### !!!! %%%% ^^^^ &&&& **** (((( ))))"
    corpus_path = str(tmp_path / "c")
    sig_path = str(tmp_path / "s")
    rejected_path = str(tmp_path / "r")
    bootstrap_corpus(
        spark.createDataFrame([(1, good)], "doc_id long, text string"),
        corpus_path, sig_path,
    )
    batch = spark.createDataFrame(
        [(5, "words like these read fine and pass a lenient quality gate"),
         (6, junk)],
        "doc_id long, text string",
    )
    admit_batch(batch, 3, corpus_path, sig_path, rejected_path,
                threshold=0.5, quality_min=0.2)
    rej = {(r["new_id"], r["corpus_id"], r["reason"], r["batch_id"])
           for r in spark.read.parquet(rejected_path).collect()}
    assert (6, None, "quality", 3) in rej
    assert {r["doc_id"] for r in spark.read.parquet(corpus_path).collect()} == {1, 5}

    # an all-rejected batch still leaves an audit record, then admits 0
    admit_batch(
        spark.createDataFrame([(9, junk)], "doc_id long, text string"),
        4, corpus_path, sig_path, rejected_path,
        threshold=0.5, quality_min=0.2,
    )
    rej2 = spark.read.parquet(rejected_path).filter("batch_id = 4").collect()
    assert [(r["new_id"], r["reason"]) for r in rej2] == [(9, "quality")]
    assert {r["doc_id"] for r in spark.read.parquet(corpus_path).collect()} == {1, 5}


def test_admit_batch_importance_gate(spark, tmp_path):
    """DSIR-gated admission (w7): batch docs that do not look like the
    target corpus are rejected with reason='importance' BEFORE
    signing; look-alike docs are admitted."""
    from pyspark.sql import functions as F

    from muopdb_spark.operators.dsir import dsir_log_ratios
    from muopdb_spark.streaming.admission import admit_batch, bootstrap_corpus

    target_like = "the quick brown fox jumps over the lazy dog at dawn"
    off_dist = "qqxx wwyy eezz rrtt uuii ooppp aass ddff gghh jjkk llmm"
    # raw = mixed corpus (target-like + junk); target = the curated
    # target-like slice — the ratio table must SEPARATE the two
    seed = spark.createDataFrame(
        [(i, target_like + f" run {i}") for i in range(1, 4)]
        + [(i, off_dist + f" v{i}") for i in range(4, 7)],
        "doc_id long, text string",
    )
    ratios = dsir_log_ratios(
        seed, seed.filter(F.col("doc_id") <= 3)
    ).localCheckpoint(eager=True)

    corpus_path, sig_path, rej_path = (
        str(tmp_path / p) for p in ("c", "s", "r")
    )
    bootstrap_corpus(seed, corpus_path, sig_path)
    batch = spark.createDataFrame(
        [(10, "the quick brown fox naps beside the lazy dog at noon"),
         (11, off_dist + " extra")],
        "doc_id long, text string",
    )
    from muopdb_spark.operators.dsir import dsir_weights

    w = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_weights(batch, ratios).collect()
    }
    assert w[10] > w[11], "target-like doc must outscore the junk doc"
    cut = (w[10] + w[11]) / 2
    admit_batch(batch, 1, corpus_path, sig_path, rej_path,
                threshold=0.9, dsir_ratios=ratios, dsir_min=cut)
    rej = {(r["new_id"], r["reason"])
           for r in spark.read.parquet(rej_path).collect()}
    assert (11, "importance") in rej
    admitted = {r["doc_id"]
                for r in spark.read.parquet(corpus_path).collect()}
    assert 10 in admitted and 11 not in admitted


def test_admit_batch_fuzzy_decontamination_gate(spark, tmp_path):
    """Fuzzy benchmark gate (w9, c3's streaming face): a batch doc that
    is a near-duplicate of an eval doc — but shares no long literal
    window and so passes the w8 gram gate — is rejected
    reason='contaminated_fuzzy' with the matched bench id and jaccard
    recorded; its signature never reaches the artifact."""
    from muopdb_spark.operators.dedup import minhash_signature_df
    from muopdb_spark.streaming.admission import admit_batch, bootstrap_corpus

    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    bench = spark.createDataFrame(
        [(100, bench_text)], "doc_id long, text string",
    )
    bench_sig = minhash_signature_df(bench)
    corpus_path, sig_path = str(tmp_path / "c"), str(tmp_path / "s")
    rejected_path = str(tmp_path / "r")
    bootstrap_corpus(
        spark.createDataFrame(
            [(1, "totally unrelated seed content about rivers and stones")],
            "doc_id long, text string",
        ),
        corpus_path, sig_path,
    )
    batch = spark.createDataFrame(
        [(5, bench_text),  # verbatim benchmark leak
         (6, "completely clean document with no benchmark overlap here")],
        "doc_id long, text string",
    )
    admit_batch(batch, 3, corpus_path, sig_path, rejected_path,
                threshold=0.5,
                benchmark_sig=bench_sig, benchmark_jaccard=0.8)
    rej = [r for r in spark.read.parquet(rejected_path).collect()]
    fz = [r for r in rej if r["reason"] == "contaminated_fuzzy"]
    assert len(fz) == 1
    assert (fz[0]["new_id"], fz[0]["corpus_id"]) == (5, 100)
    assert fz[0]["jaccard"] == 1.0
    assert {r["doc_id"] for r in spark.read.parquet(corpus_path).collect()} \
        == {1, 6}
    # the leaked doc's signature must NOT poison the artifact
    assert {r["id"] for r in spark.read.parquet(sig_path).collect()} == {1, 6}


def test_admit_batch_decontamination_gate(spark, tmp_path):
    """Benchmark-overlap gate (w8): a batch doc sharing a >= k-token
    window with the eval set is rejected reason='contaminated' (null
    corpus_id/jaccard) before signing; clean docs admit normally."""
    from muopdb_spark.operators.substring import contamination_gram_table
    from muopdb_spark.streaming.admission import admit_batch, bootstrap_corpus

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    corpus_path, sig_path = str(tmp_path / "c"), str(tmp_path / "s")
    rejected_path = str(tmp_path / "r")
    bootstrap_corpus(
        spark.createDataFrame(
            [(1, "totally unrelated seed content about rivers and stones")],
            "doc_id long, text string",
        ),
        corpus_path, sig_path,
    )
    batch = spark.createDataFrame(
        [(5, "prefix words then alpha beta gamma delta epsilon and more"),
         (6, "completely clean document with no benchmark overlap here")],
        "doc_id long, text string",
    )
    admit_batch(batch, 7, corpus_path, sig_path, rejected_path,
                threshold=0.5,
                benchmark_grams=contamination_gram_table(bench, k=5),
                contamination_k=5)
    rej = {(r["new_id"], r["corpus_id"], r["reason"], r["batch_id"])
           for r in spark.read.parquet(rejected_path).collect()}
    assert (5, None, "contaminated", 7) in rej
    assert {r["doc_id"] for r in spark.read.parquet(corpus_path).collect()} \
        == {1, 6}


def test_admit_batch_blocklist_gate_audits_blocked(spark, tmp_path):
    """w10: the blocklist gate runs FIRST (cheapest) — blocked docs
    never reach signing, land in the audit trail as reason='blocked',
    and survivors still dedup normally."""
    from muopdb_spark.streaming.admission import admit_batch, bootstrap_corpus

    corpus = str(tmp_path / "corpus")
    sig = str(tmp_path / "sigs")
    rej = str(tmp_path / "rejected")
    seed = spark.createDataFrame(
        [(100, "seed words alpha beta gamma delta")],
        "doc_id long, text string",
    )
    bootstrap_corpus(seed, corpus, sig)
    batch = spark.createDataFrame(
        [(1, "clean new words entirely here now"),
         (2, "this doc mentions the Banned! token"),
         (3, "seed words alpha beta gamma delta")],  # dup of corpus
        "doc_id long, text string",
    )
    admit_batch(batch, 7, corpus, sig, rej, blocklist=["banned"])
    admitted = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert admitted == {100, 1}
    rejected = {r.new_id: r.reason
                for r in spark.read.parquet(rej).collect()}
    assert rejected == {2: "blocked", 3: "duplicate"}


def test_stream_admission_blocklist_passthrough(spark, tmp_path):
    """stream_admission must forward blocklist/blocklist_max_frac to
    admit_batch — the streaming entry point of the w10 rung (the r11
    review caught the missing passthrough)."""
    from muopdb_spark.streaming.admission import (
        bootstrap_corpus,
        stream_admission,
    )

    corpus_path = str(tmp_path / "corpus")
    sig_path = str(tmp_path / "sigs")
    rejected_path = str(tmp_path / "rejected")
    seed = spark.createDataFrame(
        [(1, "seed words alpha beta gamma delta")],
        "doc_id long, text string",
    )
    bootstrap_corpus(seed, corpus_path, sig_path)
    src = str(tmp_path / "incoming")
    _write_json(src, "f1.jsonl", [
        {"doc_id": 10, "text": "clean new words entirely here now"},
        {"doc_id": 11, "text": "contains the Banned token sadly"},
    ])
    stream = (
        spark.readStream.schema("doc_id long, text string").json(src)
    )
    q = stream_admission(
        stream, corpus_path, sig_path, rejected_path,
        str(tmp_path / "ck"),
        blocklist=["banned"], trigger_available_now=True,
    )
    q.awaitTermination(180)
    assert {r["doc_id"] for r in
            spark.read.parquet(corpus_path).collect()} == {1, 10}
    rejected = {(r["new_id"], r["reason"]) for r in
                spark.read.parquet(rejected_path).collect()}
    assert rejected == {(11, "blocked")}


@pytest.mark.slow
def test_url_frontier_gate(spark, tmp_path):
    """r14 URL-frontier admission gate: canonical re-crawls are
    rejected reason='url_duplicate' before any content gate, the
    state records PROCESSED urls (frontier semantics), and fresh
    URLs flow through to the content gates unchanged."""
    import pyspark.sql.functions as F

    from muopdb_spark.streaming.admission import admit_batch, bootstrap_corpus

    corpus = str(tmp_path / "corpus")
    sig = str(tmp_path / "sigs")
    rej = str(tmp_path / "rej")
    state = str(tmp_path / "urlstate")
    texts = [
        (i, f"document body {i} " + " ".join(f"w{i}{j}" for j in range(12)),
         f"HTTPS://WWW.Site{i % 4}.com/p"
         + ("?utm_source=x" if i % 2 else ""))
        for i in range(16)
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string, url string")
    bootstrap_corpus(docs.filter("doc_id >= 100"), corpus, sig)  # empty seed

    # batch 1: 8 docs over 4 canonical urls -> intra keep-first admits
    # ids 0..3 (lowest per site), 4..7 rejected url_duplicate
    admit_batch(docs.filter("doc_id < 8"), 1, corpus, sig, rej,
                url_state_path=state, url_col="url")
    admitted1 = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert admitted1 == {0, 1, 2, 3}
    rej1 = spark.read.parquet(rej).filter("batch_id = 1").collect()
    assert {r.new_id for r in rej1} == {4, 5, 6, 7}
    assert {r.reason for r in rej1} == {"url_duplicate"}

    # state holds the 4 canonical forms (normalized: lowercase, no utm)
    st = {r.url_canon for r in spark.read.parquet(state).collect()}
    assert st == {f"https://www.site{k}.com/p" for k in range(4)}

    # batch 2: same 4 sites again -> everything rejected as re-crawl,
    # nothing reaches content gates or the corpus
    admit_batch(docs.filter("doc_id >= 8"), 2, corpus, sig, rej,
                url_state_path=state, url_col="url")
    assert {r.doc_id for r in spark.read.parquet(corpus).collect()} \
        == {0, 1, 2, 3}
    rej2 = spark.read.parquet(rej).filter("batch_id = 2").collect()
    assert {r.new_id for r in rej2} == set(range(8, 16))
    assert {r.reason for r in rej2} == {"url_duplicate"}

    # a genuinely new URL in a later batch is admitted
    nb = spark.createDataFrame(
        [(99, "fresh content " + " ".join(f"q{j}" for j in range(12)),
          "https://site9.com/new")],
        "doc_id long, text string, url string",
    )
    admit_batch(nb, 3, corpus, sig, rej, url_state_path=state)
    assert 99 in {r.doc_id for r in spark.read.parquet(corpus).collect()}
    with __import__("pytest").raises(ValueError, match="url_col"):
        admit_batch(nb.drop("url"), 4, corpus, sig, rej,
                    url_state_path=state)


@pytest.mark.slow
def test_bloom_prefilter_is_outcome_invariant(spark, tmp_path):
    """The bloom pre-filter must not change WHO gets admitted or
    rejected — only how much exact-gate work runs."""
    import pyspark.sql.functions as F

    from muopdb_spark.operators.bloom import bloom_build
    from muopdb_spark.operators.substring import contamination_gram_table
    from muopdb_spark.streaming.admission import admit_batch, bootstrap_corpus

    k = 4
    docs = spark.createDataFrame(
        [(i, ("secret eval question one two three tail"
              if i % 3 == 0 else
              f"clean doc {i} " + " ".join(f"u{i}{j}" for j in range(8))))
         for i in range(18)],
        "doc_id long, text string",
    )
    bench = docs.filter("doc_id = 0")
    grams = contamination_gram_table(bench, k=k).localCheckpoint(eager=True)
    bloom = bloom_build(bench, k=k, m_bits=1 << 14, n_hashes=3) \
        .localCheckpoint(eager=True)
    batch = docs.filter("doc_id > 0")

    results = {}
    for name, extra in (
        ("plain", {}),
        ("bloom", {"benchmark_bloom": bloom, "bloom_k": k,
                   "bloom_m_bits": 1 << 14, "bloom_n_hashes": 3}),
    ):
        corpus = str(tmp_path / f"c_{name}")
        sig = str(tmp_path / f"s_{name}")
        rej = str(tmp_path / f"r_{name}")
        bootstrap_corpus(batch.limit(0), corpus, sig)
        admit_batch(batch, 1, corpus, sig, rej,
                    benchmark_grams=grams, contamination_k=k, **extra)
        admitted = {r.doc_id for r in spark.read.parquet(corpus).collect()}
        rejected = {(r.new_id, r.reason)
                    for r in spark.read.parquet(rej).collect()}
        results[name] = (admitted, rejected)
    assert results["plain"] == results["bloom"]
    # contaminated docs (every third) were rejected in both runs
    assert all((i, "contaminated") in results["plain"][1]
               for i in range(3, 18, 3))

    import pytest as _pytest

    with _pytest.raises(ValueError, match="bloom_k"):
        admit_batch(batch, 2, str(tmp_path / "x"), str(tmp_path / "y"),
                    str(tmp_path / "z"), benchmark_grams=grams,
                    contamination_k=k, benchmark_bloom=bloom, bloom_k=9)


def test_url_state_appends_after_corpus_write(spark, tmp_path):
    """Crash-consistency ordering of the URL-frontier gate (r15
    ADVICE): the frontier state must append LAST, after the
    corpus/signature writes. If a round dies before the corpus append
    (simulated here via the corpus-schema guard raising), the state
    must NOT yet contain the batch's URLs — so the foreachBatch
    replay re-admits the docs instead of rejecting the whole batch
    as reason='url_duplicate' (the at-most-once bug)."""
    import pytest as _pytest

    from muopdb_spark.streaming.admission import admit_batch, bootstrap_corpus

    corpus = str(tmp_path / "corpus")
    sig = str(tmp_path / "sigs")
    rej = str(tmp_path / "rej")
    state = str(tmp_path / "urlstate")
    seed = spark.createDataFrame(
        [], "doc_id long, text string, lang string"
    )
    bootstrap_corpus(seed, corpus, sig)

    batch = spark.createDataFrame(
        [(i, f"doc body {i} " + " ".join(f"w{i}{j}" for j in range(12)),
          f"https://site{i}.com/p") for i in range(4)],
        "doc_id long, text string, url string",
    )
    # round 1 'crashes' before the corpus append: the batch lacks the
    # corpus column 'lang', so the durable-schema guard raises AFTER
    # all gates but BEFORE any corpus/sig/state write
    with _pytest.raises(ValueError, match="lacks corpus columns"):
        admit_batch(batch, 1, corpus, sig, rej,
                    url_state_path=state, url_col="url")
    import os as _os
    assert not _os.path.isdir(state), \
        "url state must not be written before the corpus append"

    # the replay (same batch, fixed) admits everything — nothing is
    # spuriously url_duplicate-rejected
    fixed = batch.withColumn("lang", F.lit("en"))
    admit_batch(fixed, 1, corpus, sig, rej,
                url_state_path=state, url_col="url")
    assert {r.doc_id for r in spark.read.parquet(corpus).collect()} \
        == {0, 1, 2, 3}
    st = {r.url_canon for r in spark.read.parquet(state).collect()}
    assert st == {f"https://site{i}.com/p" for i in range(4)}
    import pathlib
    assert not pathlib.Path(rej).is_dir() or \
        spark.read.parquet(rej).filter("reason = 'url_duplicate'").count() == 0


def test_stream_admission_forwards_url_frontier_gate(spark, tmp_path):
    """stream_admission must forward the r14 gate parameters
    (url_state_path/url_col/bloom) to admit_batch — the frontier gate
    is reachable from the streaming entry point (r15 ADVICE)."""
    from muopdb_spark.streaming.admission import bootstrap_corpus, stream_admission

    corpus = str(tmp_path / "corpus")
    sig = str(tmp_path / "sigs")
    rej = str(tmp_path / "rej")
    state = str(tmp_path / "urlstate")
    ckpt = str(tmp_path / "ckpt")
    src_dir = str(tmp_path / "src")

    docs = spark.createDataFrame(
        [(i, f"stream doc {i} " + " ".join(f"w{i}{j}" for j in range(12)),
          f"https://site{i % 2}.com/p") for i in range(6)],
        "doc_id long, text string, url string",
    )
    bootstrap_corpus(docs.limit(0), corpus, sig)
    docs.repartition(1).write.parquet(src_dir)

    stream = (
        spark.readStream.schema("doc_id long, text string, url string")
        .parquet(src_dir)
    )
    q = stream_admission(
        stream, corpus, sig, rej, ckpt,
        url_state_path=state, url_col="url",
        trigger_available_now=True,
    )
    q.awaitTermination(120)

    # one url per site admitted (keep-first), the rest url_duplicate
    st = {r.url_canon for r in spark.read.parquet(state).collect()}
    assert st == {"https://site0.com/p", "https://site1.com/p"}
    admitted = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert admitted == {0, 1}
    reasons = {r.reason for r in spark.read.parquet(rej).collect()}
    assert reasons == {"url_duplicate"}
