"""tools/query.py CLI — the operational twin of the reference's gRPC
verbs (muopdb.proto): create -> insert -> flush -> remove -> search ->
stats all drive one collection end-to-end, plus a pipeline command.
Runs main() in-process against the suite session (get_spark patched to
a stop-proof wrapper so the CLI's session teardown can't kill the
shared fixture)."""

import importlib.util
import json
import os

import pytest


def _load_cli():
    spec = importlib.util.spec_from_file_location(
        "muopdb_cli", os.path.join(os.path.dirname(__file__), "..", "tools", "query.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _NoStop:
    def __init__(self, s):
        self._s = s

    def __getattr__(self, n):
        return getattr(self._s, n)

    def stop(self):
        pass


@pytest.fixture()
def cli(spark, monkeypatch):
    mod = _load_cli()
    import muopdb_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: _NoStop(spark))
    return mod


def _run(cli, capsys, argv):
    rc = cli.main(argv)
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return json.loads(out)


def test_cli_collection_lifecycle(spark, cli, capsys, tmp_path):
    root = str(tmp_path / "col")
    vecs = str(tmp_path / "vecs.parquet")
    spark.createDataFrame(
        [(0, i, [float(i), 0.0, 0.0, 0.0]) for i in range(6)],
        "user_id long, doc_id long, vector array<float>",
    ).write.parquet(vecs)

    r = _run(cli, capsys, ["create", "--root", root, "--name", "demo",
                           "--num-features", "4"])
    assert r["created"] == "demo"
    r = _run(cli, capsys, ["insert", "--root", root, "--name", "demo",
                           "--input", vecs])
    assert r["inserted_seq_no"] == 0
    r = _run(cli, capsys, ["flush", "--root", root, "--name", "demo"])
    assert r["flushed_segment"]
    r = _run(cli, capsys, ["remove", "--root", root, "--name", "demo",
                           "--users", "0", "--ids", "1"])
    assert r["tombstone_seq_no"] == 1
    r = _run(cli, capsys, ["search", "--root", root, "--name", "demo",
                           "--users", "0", "--vector", "1,0,0,0", "--k", "3"])
    ids = [h["doc_id"] for h in r["hits"]]
    # doc 1 is the exact match but tombstoned; 0 and 2 tie at distance 1
    assert 1 not in ids
    assert ids[:2] == [0, 2]
    r = _run(cli, capsys, ["stats", "--root", root, "--name", "demo"])
    assert "toc" in r and "segments" in r


def test_cli_quality_pipeline(spark, cli, capsys, sf_dir):
    r = _run(cli, capsys, ["quality", "--input",
                           f"{sf_dir}/documents.parquet", "--keep-frac", "0.5"])
    assert r["docs"] == 500
    assert 0 < r["kept"] <= 500 * 0.55


def test_cli_inspect(spark, cli, capsys, tmp_path):
    from muopdb_spark.catalog import Collection, CollectionConfig

    root = str(tmp_path / "col2")
    col = Collection.create(spark, root, CollectionConfig(
        name="demo2", num_features=4, num_centroids=2))
    col.insert(spark.createDataFrame(
        [(0, i, [float(i), 0.0, 0.0, 0.0]) for i in range(20)],
        "user_id long, doc_id long, vector array<double>"))
    col.flush()
    col.build_index()
    r = _run(cli, capsys, ["inspect", "--root", root, "--name", "demo2"])
    assert len(r["segments"]) == 1
    seg = next(iter(r["segments"].values()))
    assert seg["quantizer"] == "none"
    assert seg["points"] >= 20 and seg["posting_lists"] >= 1
    assert seg["centroids_per_user"] == {"0": 2}


def test_cli_quality_approx_mode(spark, cli, capsys, sf_dir):
    r = _run(cli, capsys, ["quality", "--input",
                           f"{sf_dir}/documents.parquet",
                           "--keep-frac", "0.5", "--approx"])
    assert r["mode"] == "approx"
    assert 0 < r["kept"] <= 500 * 0.6


def test_cli_admit_round(spark, cli, capsys, tmp_path, sf_dir):
    docs = f"{sf_dir}/documents.parquet"
    state = str(tmp_path / "adm")
    seed = str(tmp_path / "seed.parquet")
    batch = str(tmp_path / "batch.parquet")
    d = spark.read.parquet(docs).select("doc_id", "text")
    d.filter("doc_id % 5 >= 2").write.parquet(seed)
    d.filter("doc_id % 5 = 0").write.parquet(batch)

    r = _run(cli, capsys, ["admit", "--input", seed, "--state", state])
    assert r["bootstrapped"] and r["docs"] > 0
    r = _run(cli, capsys, ["admit", "--input", batch, "--state", state,
                           "--threshold", "0.8", "--quality-min", "0.2",
                           "--batch-id", "1"])
    assert r["batch"] == r["admitted"] + sum(r["rejected_by_reason"].values())
    assert r["corpus_docs"] > 0


def test_cli_create_with_quantizer(spark, cli, capsys, tmp_path):
    root = str(tmp_path / "qc")
    r = _run(cli, capsys, ["create", "--root", root, "--name", "sqd",
                           "--num-features", "4", "--quantizer", "sq"])
    assert r["quantizer"] == "sq"
    # the config guard surfaces through the CLI too
    import pytest as _pytest

    with _pytest.raises(ValueError, match="l2"):
        cli.main(["create", "--root", root, "--name", "bad",
                  "--num-features", "4", "--quantizer", "sq",
                  "--metric", "cosine"])


def test_cli_dsir(spark, cli, capsys, tmp_path, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    raw_p = str(tmp_path / "raw.parquet")
    tgt_p = str(tmp_path / "tgt.parquet")
    docs.filter("doc_id % 10 <> 0").write.parquet(raw_p)
    docs.filter("doc_id % 10 = 0").write.parquet(tgt_p)
    r = _run(cli, capsys, ["dsir", "--input", raw_p, "--target", tgt_p,
                           "--n-sample", "25"])
    assert r["sampled"] == 25 and r["raw_docs"] == 450


def test_cli_dedup_substring(spark, cli, capsys, tmp_path, sf_dir):
    out_dir = str(tmp_path / "clean")
    r = _run(cli, capsys, ["dedup", "--method", "substring",
                           "--input", f"{sf_dir}/documents.parquet",
                           "--k-tokens", "8", "--output", out_dir])
    assert r["docs"] == 500 and 0 <= r["dup_tokens"] <= r["tokens"]
    cleaned = spark.read.parquet(out_dir)
    assert cleaned.count() == 500
    assert cleaned.filter("kept_tokens > n_tokens").count() == 0


def test_cli_vocab(spark, cli, capsys, tmp_path, sf_dir):
    out_dir = str(tmp_path / "vocab")
    r = _run(cli, capsys, ["vocab", "--input",
                           f"{sf_dir}/documents.parquet",
                           "--top-k", "100", "--output", out_dir])
    # the synthetic fixture has a tiny vocabulary (31 distinct tokens
    # at sf0.001), so the budget is an upper bound here
    assert 0 < r["tokens"] <= 100 and 0 < r["pairs"] <= 100
    assert r["top_tokens"][0][1] >= r["top_tokens"][1][1]
    v = spark.read.parquet(out_dir)
    assert v.count() == r["tokens"] + r["pairs"] and set(
        r2["kind"] for r2 in v.select("kind").distinct().collect()
    ) == {"token", "pair"}


def test_cli_split(spark, cli, capsys, tmp_path, sf_dir):
    out_dir = str(tmp_path / "split")
    r = _run(cli, capsys, ["split", "--input",
                           f"{sf_dir}/documents.parquet",
                           "--train-frac", "0.8", "--output", out_dir])
    assert r["docs"] == 500
    assert sum(r["by_split"].values()) == 500
    assert set(r["by_split"]) == {"train", "heldout"}
    v = spark.read.parquet(out_dir)
    assert {"split", "cluster_id"} <= set(v.columns)


def test_cli_ppl_buckets(spark, cli, capsys, tmp_path, sf_dir):
    out_dir = str(tmp_path / "ppl")
    r = _run(cli, capsys, ["ppl-buckets", "--input",
                           f"{sf_dir}/documents.parquet",
                           "--output", out_dir])
    assert r["docs"] == 500 and r["mode"] == "exact"
    assert set(r["by_bucket"]) == {"head", "middle", "tail"}
    assert sum(r["by_bucket"].values()) == 500
    # thirds within each language: global counts near 500/3 each
    assert all(120 <= n <= 210 for n in r["by_bucket"].values())
    # the written output applies the CCNet keep-rule (tail dropped)
    v = spark.read.parquet(out_dir)
    assert v.count() == 500 - r["by_bucket"]["tail"]
    assert set(
        r2["ppl_bucket"] for r2 in v.select("ppl_bucket").distinct().collect()
    ) == {"head", "middle"}


def test_cli_bpe(spark, cli, capsys, tmp_path, sf_dir):
    out_dir = str(tmp_path / "bpe")
    r = _run(cli, capsys, ["bpe", "--input",
                           f"{sf_dir}/documents.parquet",
                           "--num-merges", "40", "--output", out_dir])
    assert r["docs"] == 500 and r["merges_learned"] == 40
    assert r["subwords"] > 0
    v = spark.read.parquet(out_dir)
    assert v.count() == 500
    row = v.orderBy("doc_id").first()
    assert row["n_subwords"] == len(row["bpe_tokens"]) > 0
    # every emitted subword terminates words with the paper's marker
    # exactly once per source token
    joined = " ".join(row["bpe_tokens"])
    assert joined.count("</w>") == len(
        [w for w in row["text"].lower().split() if any(c.isalnum() for c in w)]
    )


def test_cli_dedup_line(spark, cli, capsys, tmp_path, sf_dir):
    out_dir = str(tmp_path / "line_clean")
    r = _run(cli, capsys, ["dedup", "--method", "line",
                           "--input", f"{sf_dir}/documents.parquet",
                           "--output", out_dir])
    assert r["docs"] == 500 and 0 <= r["kept_lines"] <= r["lines"]
    cleaned = spark.read.parquet(out_dir)
    assert cleaned.count() == 500
    assert cleaned.filter("kept_lines > n_lines").count() == 0


def test_cli_dedup_soft(cli, capsys, sf_dir):
    r = _run(cli, capsys, ["dedup", "--method", "soft",
                           "--input", f"{sf_dir}/documents.parquet"])
    assert r["docs"] == 500
    assert 0 < r["min_weight"] <= r["mean_weight"] <= 1.0


def test_cli_dedup_keep_best(spark, cli, capsys, tmp_path, sf_dir):
    out_dir = str(tmp_path / "keepers")
    r = _run(cli, capsys, ["dedup", "--method", "keep-best",
                           "--input", f"{sf_dir}/documents.parquet",
                           "--threshold", "0.8", "--output", out_dir])
    assert r["docs"] == 500 and r["kept"] == r["clusters"] <= r["docs"]
    keepers = spark.read.parquet(out_dir)
    assert keepers.count() == r["kept"]


def test_cli_select_weighted_budget(spark, cli, capsys, tmp_path, sf_dir):
    out_dir = str(tmp_path / "selected")
    r = _run(cli, capsys, ["select",
                           "--input", f"{sf_dir}/documents.parquet",
                           "--budget-tokens", "6000",
                           "--output", out_dir])
    assert r["docs"] == 500 and r["budget_tokens"] == 6000
    # expected kept tokens ~= budget (binomial noise); never the whole
    # corpus, never empty on this fixture
    assert 0 < r["kept"] < r["docs"]
    assert 0.5 * 6000 <= r["kept_tokens"] <= 1.5 * 6000
    kept = spark.read.parquet(out_dir)
    assert kept.count() == r["kept"]
    # the audit column rides along and stays in (0, 1]
    fr = [row["fraction"] for row in kept.select("fraction").collect()]
    assert all(0 < f <= 1.0 for f in fr)


def test_cli_select_fill_respends_surplus(cli, capsys, sf_dir):
    # budget above the weighted mass but below the raw token mass: the
    # water level rises past 1, and the fill spends surplus the
    # single-round sampler strands — kept tokens land nearer the budget
    one = _run(cli, capsys, ["select",
                             "--input", f"{sf_dir}/documents.parquet",
                             "--budget-tokens", "24000"])
    fill = _run(cli, capsys, ["select", "--fill",
                              "--input", f"{sf_dir}/documents.parquet",
                              "--budget-tokens", "24000"])
    assert fill["kept_tokens"] >= one["kept_tokens"]
    assert abs(fill["kept_tokens"] - 24000) <= abs(one["kept_tokens"] - 24000)


def test_cli_decontaminate(spark, cli, capsys, tmp_path, sf_dir):
    # benchmark = the doc_id % 20 == 0 slice written to its own parquet
    bench_dir = str(tmp_path / "bench")
    corpus_dir = str(tmp_path / "corpus")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.filter("doc_id % 20 = 0").write.parquet(bench_dir)
    docs.filter("doc_id % 20 != 0").write.parquet(corpus_dir)
    out_dir = str(tmp_path / "cleaned")
    r = _run(cli, capsys, ["decontaminate",
                           "--input", corpus_dir,
                           "--target", bench_dir,
                           "--k-tokens", "4",
                           "--output", out_dir])
    assert r["docs"] == 475 and r["k"] == 4
    assert r["tokens_cut"] > 0  # the shared-vocab fixture always leaks
    cleaned = spark.read.parquet(out_dir)
    assert cleaned.count() == 475
    assert cleaned.filter("kept_tokens > n_tokens").count() == 0


def test_cli_decontaminate_fuzzy(spark, cli, capsys, tmp_path, sf_dir):
    bench_dir = str(tmp_path / "bench")
    corpus_dir = str(tmp_path / "corpus")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.filter("doc_id % 20 = 0").write.parquet(bench_dir)
    docs.filter("doc_id % 20 != 0").write.parquet(corpus_dir)
    out_dir = str(tmp_path / "cleaned")
    r = _run(cli, capsys, ["decontaminate",
                           "--input", corpus_dir,
                           "--target", bench_dir,
                           "--method", "fuzzy",
                           "--threshold", "0.8",
                           "--output", out_dir])
    assert r["method"] == "fuzzy" and r["docs"] == 475
    assert r["docs_dropped"] > 0  # the fixture plants near-dup pairs
    cleaned = spark.read.parquet(out_dir)
    assert cleaned.count() == 475 - r["docs_dropped"]
    # dropped ids are exactly the verdict rows
    from muopdb_spark.operators.contamination import (
        fuzzy_contamination_verdicts,
    )
    v = {row.doc_id for row in fuzzy_contamination_verdicts(
        spark.read.parquet(corpus_dir), spark.read.parquet(bench_dir),
        threshold=0.8).collect()}
    kept = {row.doc_id for row in cleaned.select("doc_id").collect()}
    assert kept.isdisjoint(v) and len(kept) + len(v) == 475


@pytest.mark.slow
def test_cli_curate_full_ladder(spark, cli, capsys, tmp_path, sf_dir):
    bench_dir = str(tmp_path / "bench")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.filter("doc_id % 20 = 0").write.parquet(bench_dir)
    out_dir = str(tmp_path / "curated")
    r = _run(cli, capsys, ["curate",
                           "--input", f"{sf_dir}/documents.parquet",
                           "--target", bench_dir,
                           "--k-tokens", "4",
                           "--quality-min", "0.2",
                           "--budget-tokens", "6000",
                           "--fill",
                           "--output", out_dir])
    # stages are monotone non-increasing in docs
    assert (r["ingested"] >= r["exact_dedup"] >= r["line_dedup"]
            >= r["keep_best"] >= r["decontaminated"]
            >= r["fuzzy_decontaminated"]
            >= r["quality_gated"] >= r["budget_selected"] > 0)
    assert r["decontaminated_tokens_cut"] > 0
    # kept tokens land near the budget (binomial noise)
    assert 0.5 * 6000 <= r["kept_tokens"] <= 1.6 * 6000
    kept = spark.read.parquet(out_dir)
    assert kept.count() == r["budget_selected"]
    assert {"doc_id", "text", "n_tokens", "soft_weight", "fraction"} \
        <= set(kept.columns)


def test_cli_tokens_export(spark, cli, capsys, tmp_path, sf_dir):
    import os

    out_dir = str(tmp_path / "tok")
    r = _run(cli, capsys, ["tokens",
                           "--input", f"{sf_dir}/documents.parquet",
                           "--num-merges", "50",
                           "--n-shards", "4",
                           "--output", out_dir])
    assert r["shards"] == 4 and r["docs"] == 500 and r["tokens"] > 0
    assert r["bytes"] == r["tokens"] * 4
    assert os.path.exists(f"{out_dir}/vocab.json")
    for sid in range(4):
        assert os.path.exists(f"{out_dir}/shard_{sid}.bin")
        assert os.path.exists(f"{out_dir}/shard_{sid}.idx")


def test_cli_source_report(spark, cli, capsys, tmp_path, sf_dir):
    bench_dir = str(tmp_path / "bench")
    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .filter("doc_id % 20 = 0").write.parquet(bench_dir)
    r = _run(cli, capsys, ["report",
                           "--input", f"{sf_dir}/documents.parquet",
                           "--target", bench_dir])
    assert r["sources"] == len(r["rows"]) > 0
    for row in r["rows"]:
        assert row["n_docs"] > 0 and 0 <= row["exact_dup_rate"] <= 1
        assert 0 <= row["contaminated_rate"] <= 1
        assert row["top_lang"] and row["n_langs"] >= 1


def test_cli_select_anneal_phases(spark, cli, capsys, sf_dir):
    r = _run(cli, capsys, ["select",
                           "--input", f"{sf_dir}/documents.parquet",
                           "--budget-tokens", "15000",
                           "--anneal-budget", "5000"])
    assert r["anneal_budget"] == 5000
    assert set(r["kept_by_phase"]) <= {"warmup", "anneal"}
    assert "warmup" in r["kept_by_phase"]
    assert sum(r["kept_by_phase"].values()) == r["kept_tokens"]


def test_cli_admit_fuzzy_gate(spark, cli, capsys, tmp_path, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    state = str(tmp_path / "adm9")
    seed_p = str(tmp_path / "seed.parquet")
    batch_p = str(tmp_path / "batch.parquet")
    bench_p = str(tmp_path / "bench.parquet")
    d.filter("doc_id % 5 >= 2").write.parquet(seed_p)
    d.filter("doc_id % 5 = 0").write.parquet(batch_p)
    # benchmark overlaps the batch (%20==0 => %5==0): self-hits must
    # reject reason=contaminated_fuzzy
    d.filter("doc_id % 20 = 0").write.parquet(bench_p)
    r = _run(cli, capsys, ["admit", "--input", seed_p, "--state", state])
    assert r["bootstrapped"]
    r = _run(cli, capsys, ["admit", "--input", batch_p, "--state", state,
                           "--threshold", "0.8",
                           "--fuzzy-target", bench_p, "--batch-id", "1"])
    assert r["rejected_by_reason"].get("contaminated_fuzzy", 0) > 0
    assert r["batch"] == r["admitted"] + sum(r["rejected_by_reason"].values())


def test_cli_dedup_embedding_routes_rp_lsh(cli, capsys, sf_dir):
    # default path = RP-LSH candidates + exact verify (sub-quadratic);
    # --exact = the all-pairs referee. LSH pairs must be a subset of
    # the referee's (precision 1.0 — both verify with exact cosine).
    lsh = _run(cli, capsys, ["dedup", "--method", "embedding",
                             "--input", f"{sf_dir}/embeddings.parquet",
                             "--threshold", "0.95"])
    assert lsh["path"] == "rp-lsh"
    ref = _run(cli, capsys, ["dedup", "--method", "embedding", "--exact",
                             "--input", f"{sf_dir}/embeddings.parquet",
                             "--threshold", "0.95"])
    assert ref["path"] == "exact"
    assert lsh["near_dup_pairs"] <= ref["near_dup_pairs"]


def test_cli_quality_blocklist(cli, capsys, sf_dir):
    r = _run(cli, capsys, ["quality", "--input",
                           f"{sf_dir}/documents.parquet",
                           "--blocklist", "dup,corrupt"])
    assert r["docs"] == 500 and r["blocklist_words"] == 2
    assert 0 < r["kept"] < 500  # 'dup' hits some fixture docs


@pytest.mark.slow
def test_cli_curate_with_blocklist_stage(cli, capsys, sf_dir):
    base = _run(cli, capsys, ["curate", "--input",
                              f"{sf_dir}/documents.parquet",
                              "--budget-tokens", "8000"])
    gated = _run(cli, capsys, ["curate", "--input",
                               f"{sf_dir}/documents.parquet",
                               "--budget-tokens", "8000",
                               "--blocklist", "dup"])
    # the gate sits between keep-best and selection: it can only
    # shrink the pool feeding the budget sampler
    assert gated["blocklist_gated"] <= base["keep_best"]
    assert gated["blocklist_gated"] < gated["keep_best"]  # 'dup' hits
    assert gated["budget_selected"] > 0


def test_cli_report_fertility_column(cli, capsys, sf_dir):
    r = _run(cli, capsys, ["report", "--input",
                           f"{sf_dir}/documents.parquet",
                           "--fertility-merges", "30"])
    assert r["sources"] > 0
    for row in r["rows"]:
        assert row["fertility"] >= 1.0  # BPE never merges across words


def test_cli_dedup_phash_and_audio(spark, cli, capsys, tmp_path):
    # r12: binary-payload near-dup verbs — a PNG table with one planted
    # brightness-shift pair and a WAV table with one planted gain pair
    import numpy as np

    from muopdb_spark.operators.audio import encode_wav
    from muopdb_spark.operators.image import encode_png

    rng = np.random.default_rng(21)
    img = rng.integers(0, 199, (16, 18)).astype(np.uint8)
    other = rng.integers(0, 199, (16, 18)).astype(np.uint8)
    imgs = spark.createDataFrame(
        [(0, bytearray(encode_png(img))),
         (1, bytearray(encode_png((img.astype(np.int64) + 4).astype(np.uint8)))),
         (2, bytearray(encode_png(other))),
         (3, bytearray(b"corrupt payload"))],  # on_error=skip in the CLI
        "doc_id long, content binary",
    )
    p_img = str(tmp_path / "imgs.parquet")
    imgs.write.parquet(p_img)
    r = _run(cli, capsys, ["dedup", "--method", "phash", "--input", p_img])
    assert r == {"method": "phash", "max_hamming": 3, "near_dup_pairs": 1}

    sig = rng.integers(-8000, 8000, 4096, dtype=np.int16)
    noise = rng.integers(-8000, 8000, 4096, dtype=np.int16)
    wavs = spark.createDataFrame(
        [(0, bytearray(encode_wav(sig, 16000))),
         (1, bytearray(encode_wav((sig * 2).astype(np.int16), 16000))),
         (2, bytearray(encode_wav(noise, 16000)))],
        "doc_id long, content binary",
    )
    p_wav = str(tmp_path / "wavs.parquet")
    wavs.write.parquet(p_wav)
    r = _run(cli, capsys, ["dedup", "--method", "audio", "--input", p_wav])
    assert r == {"method": "audio", "max_hamming": 3, "near_dup_pairs": 1}


def test_cli_probe(spark, cli, capsys, tmp_path):
    import numpy as np

    from muopdb_spark.operators.audio import encode_wav
    from muopdb_spark.operators.image import encode_png

    df = spark.createDataFrame(
        [(0, bytearray(encode_png(np.zeros((4, 6), np.uint8)))),
         (1, bytearray(encode_wav(np.zeros(800, dtype=np.int16), 8000))),
         (2, bytearray(b"mystery bytes"))],
        "doc_id long, content binary",
    )
    p = str(tmp_path / "mixed.parquet")
    df.write.parquet(p)
    r = _run(cli, capsys, ["probe", "--input", p])
    assert r["docs"] == 3
    assert set(r["by_format"]) == {"png", "wav", "unknown"}
    assert r["by_format"]["png"]["n"] == 1
    assert r["by_format"]["wav"]["n"] == 1


def test_cli_frames(spark, cli, capsys, tmp_path):
    import numpy as np

    from muopdb_spark.operators.video import encode_avi_mjpeg

    frames = [np.full((8, 8), 50 + 10 * k, np.uint8) for k in range(4)]
    df = spark.createDataFrame(
        [(0, bytearray(encode_avi_mjpeg(frames, quality=100))),
         (1, bytearray(b"not a video"))],
        "doc_id long, content binary",
    )
    p = str(tmp_path / "vids.parquet")
    df.write.parquet(p)
    r = _run(cli, capsys, ["frames", "--input", p])
    assert r == {"docs": 1, "frames": 4, "every_n": 1}
    out = str(tmp_path / "frames.parquet")
    r = _run(cli, capsys, ["frames", "--input", p, "--every-n", "2",
                           "--output", out])
    assert r["frames"] == 2 and r["path"] == out
    got = spark.read.parquet(out)
    assert sorted(x.frame_idx for x in got.collect()) == [0, 2]


def test_cli_extract_text_and_urls(spark, cli, capsys, tmp_path):
    pages = spark.createDataFrame(
        [(0, "<title>A</title><p>one two</p><a href='/x'>x</a>"),
         (1, "<p>three</p>")],
        "doc_id long, html string",
    )
    p = str(tmp_path / "pages.parquet")
    pages.write.parquet(p)
    r = _run(cli, capsys, ["extract-text", "--input", p])
    assert r["docs"] == 2 and r["links"] == 1 and r["chars"] > 0

    urls = spark.createDataFrame(
        [(0, "HTTPS://A.com/x?utm_a=1"), (1, "https://a.com/x"),
         (2, "https://a.com/y"), (3, "https://a.com/z")],
        "doc_id long, url string",
    )
    pu = str(tmp_path / "urls.parquet")
    urls.write.parquet(pu)
    r = _run(cli, capsys, ["urls", "--input", pu])
    assert r == {"docs": 4, "after_url_dedup": 3, "after_domain_cap": 3,
                 "max_per_domain": 0, "domain_rule": "cc-2ld"}
    r = _run(cli, capsys, ["urls", "--input", pu, "--max-per-domain", "2"])
    assert r["after_domain_cap"] == 2
    r = _run(cli, capsys, ["urls", "--input", pu, "--max-per-domain", "2",
                           "--psl"])
    assert r["after_domain_cap"] == 2 and r["domain_rule"] == "psl"


def test_cli_warc(spark, cli, capsys, tmp_path):
    from muopdb_spark.sources.warc import write_warc_sharded

    pages = spark.createDataFrame(
        [(i, f"https://a.com/{i}",
          f"<html><title>t{i}</title><body><p>body {i}</p>"
          f"<a href='/l'>x</a></body></html>") for i in range(6)],
        "doc_id long, url string, payload string",
    )
    d = str(tmp_path / "crawl")
    write_warc_sharded(pages, d, n_shards=2)
    r = _run(cli, capsys, ["warc", "--input", d])
    assert r["mode"] == "records" and r["records"] == 6
    out = str(tmp_path / "text.parquet")
    r = _run(cli, capsys,
             ["warc", "--input", d, "--warc-text", "--output", out])
    assert r["docs"] == 6 and r["links"] == 6 and r["chars"] > 0
    back = spark.read.parquet(out)
    assert back.count() == 6 and "text" in back.columns

    wet = str(tmp_path / "wet")
    write_warc_sharded(
        pages.withColumn("payload", pages.payload.substr(1, 10)),
        wet, kind="conversion", n_shards=1,
    )
    r = _run(cli, capsys, ["warc", "--input", wet, "--wet"])
    assert r == {"mode": "wet", "docs": 6, "chars": 60}


def test_cli_extract_text_pdf(spark, cli, capsys, tmp_path):
    from muopdb_spark.operators.pdf import encode_pdf

    df = spark.createDataFrame(
        [(i, encode_pdf([f"page one {i}", f"page two {i}"]))
         for i in range(3)],
        "doc_id long, content binary",
    )
    p = str(tmp_path / "pdfs.parquet")
    df.write.parquet(p)
    out = str(tmp_path / "pages.parquet")
    r = _run(cli, capsys, ["extract-text", "--input", p,
                           "--pdf-col", "content", "--output", out])
    assert r["docs"] == 3 and r["pages"] == 6 and r["chars"] > 0
    back = spark.read.parquet(out)
    assert back.count() == 6


def test_cli_extract_main_content(spark, cli, capsys, tmp_path):
    """r15: extract-text --main-content reports the block ledger and
    drops link-dense boilerplate the plain pass keeps."""
    long = ("real prose with plenty of words in it to pass the core "
            "length threshold easily")
    pages = spark.createDataFrame(
        [(0, "<div><a href='/a'>Home</a> <a href='/b'>About</a></div>"
             f"<p>{long}</p>"
             "<div><a href='/x'>more</a> <a href='/y'>links</a></div>")],
        "doc_id long, html string",
    )
    p = str(tmp_path / "pages.parquet")
    pages.write.parquet(p)
    plain = _run(cli, capsys, ["extract-text", "--input", p])
    dense = _run(cli, capsys, ["extract-text", "--input", p,
                               "--main-content"])
    assert dense["docs"] == 1
    assert dense["blocks"] == 3 and dense["kept_blocks"] == 1
    assert dense["chars"] == len(long) < plain["chars"]
