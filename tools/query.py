"""CLI query runner — the thin operational surface a user of the
reference's gRPC API would script against, plus the corpus-pipeline
commands a curation operator runs against plain parquet.

Collection commands (mirror the gRPC surface — every verb of the
reference's muopdb.proto now has a CLI twin):
  python tools/query.py create --root /data --name memories --num-features 4
  python tools/query.py insert --root /data --name memories \
      --input vectors.parquet            # (user_id, doc_id, vector)
  python tools/query.py remove --root /data --name memories --users 0 --ids 7 8
  python tools/query.py search --root /data --name memories \
      --users 0 1 --vector 1,0,0,0 --k 5
  python tools/query.py term-search --root /data --name memories \
      --users 0 --filter '{"contains": {"path": "title", "value": "running"}}' --limit 10
  python tools/query.py stats --root /data --name memories
  python tools/query.py inspect --root /data --name memories   # index internals
  python tools/query.py optimize --root /data --name memories

Pipeline commands (operate on a documents parquet):
  python tools/query.py dedup --input docs.parquet --method minhash --threshold 0.8
  python tools/query.py dedup --input docs.parquet --method substring \
      --k-tokens 10 --output clean/   # Lee-et-al span removal (d9)
  python tools/query.py lm-score --input docs.parquet --output scored/
  python tools/query.py chunk --input docs.parquet --size 32 --overlap 8 --output chunks/
  python tools/query.py shard --input docs.parquet --n-shards 16 --output shards/
  python tools/query.py quality --input docs.parquet --keep-frac 0.7 --output kept/
                                 # add --approx for the no-window scale path
  python tools/query.py admit --input batch.parquet --state admission/ \
      --threshold 0.8 --quality-min 0.35   # w6: quality-gated admission round
                                 # (bootstraps state/ on first use; audit in
                                 #  state/rejected)
  python tools/query.py admit --input batch.parquet --state admission/ \
      --importance-min -0.1 --target quality.parquet  # w7: DSIR-gated round
  python tools/query.py dsir --input raw.parquet --target quality.parquet \
      --n-sample 1000 --output selected/  # importance-resample raw docs
                                 # toward the target distribution
  python tools/query.py vocab --input docs.parquet --top-k 30000 \
      --output vocab/              # tokenizer-training token+pair tables
  python tools/query.py split --input docs.parquet --train-frac 0.9 \
      --output split/              # leakage-safe split (near-dup clusters
                                   #  never straddle train/heldout)
  python tools/query.py ppl-buckets --input docs.parquet --output bucketed/
                                   # CCNet head/middle/tail perplexity
                                   # buckets (add --approx at scale)
  python tools/query.py bpe --input docs.parquet --num-merges 200 \
      --output encoded/            # learn BPE merges, encode the corpus

Collections accept every quantizer in the registry at create time
(muopdb_spark/index/quantizer.py; `create --help` lists the names):
  python tools/query.py create --root /data --name memories \
      --num-features 4 --quantizer sq
"""

from __future__ import annotations

import argparse
import json
import sys

sys.path.insert(0, "/root/repo")

COLLECTION_CMDS = {"create", "insert", "remove", "search", "term-search", "stats", "optimize", "flush", "inspect"}
PIPELINE_CMDS = {"dedup", "lm-score", "chunk", "shard", "quality", "admit",
                 "frames",
                 "dsir", "vocab", "split", "ppl-buckets", "bpe", "select",
                 "decontaminate", "curate", "tokens", "report", "probe",
                 "extract-text", "urls", "warc", "robots"}


def _pipeline(spark, args, ap) -> dict:
    if args.command == "warc":
        # crawl-archive ingestion (sources/warc.py): --input is a
        # directory of .warc.gz/.wet.gz, NOT parquet. Default emits
        # response records; --wet the conversion-record text view;
        # --warc-text the crawl->text head (HTML payload through the
        # boilerplate-aware extractor). --output parquet via the tail.
        from pyspark.sql import functions as F

        from muopdb_spark.sources.warc import (
            read_warc,
            read_wet,
            warc_extract_text,
        )

        if args.cdx:
            # build the CDXJ capture index (sorted shards +
            # cluster.idx) for the archives under --input
            from muopdb_spark.sources.cdx import build_cdxj

            m = build_cdxj(spark, args.input, args.cdx,
                           n_shards=args.n_shards)
            rows = m.collect()
            return {"mode": "cdx", "path": args.cdx,
                    "shards": len(rows),
                    "entries": sum(r["n_entries"] for r in rows)}
        if args.wet:
            out = read_wet(spark, args.input)
            agg = out.agg(
                F.count("*").alias("docs"),
                F.sum(F.length("text")).alias("chars"),
            ).collect()[0]
            result = {"mode": "wet", "docs": int(agg["docs"]),
                      "chars": int(agg["chars"] or 0)}
        elif args.warc_text:
            out = warc_extract_text(spark, args.input)
            agg = out.agg(
                F.count("*").alias("docs"),
                F.sum(F.length("text")).alias("chars"),
                F.sum("n_links").alias("links"),
            ).collect()[0]
            result = {"mode": "extract-text", "docs": int(agg["docs"]),
                      "chars": int(agg["chars"] or 0),
                      "links": int(agg["links"] or 0)}
        else:
            out = read_warc(spark, args.input, types=("response",))
            agg = out.agg(
                F.count("*").alias("records"),
                F.sum(F.length("payload")).alias("payload_bytes"),
            ).collect()[0]
            result = {"mode": "records", "records": int(agg["records"]),
                      "payload_bytes": int(agg["payload_bytes"] or 0)}
        if args.output:
            out.write.mode("overwrite").parquet(args.output)
            result["path"] = args.output
        return result
    df = spark.read.parquet(args.input)
    if args.command == "dedup":
        from muopdb_spark.operators.dedup import (
            exact_dedup,
            minhash_lsh_pairs,
            ngram_jaccard_pairs,
        )

        if args.method == "exact":
            out = exact_dedup(df)
            dup = out.filter("NOT is_canonical").count()
            result = {"method": "exact", "docs": df.count(), "duplicates": dup}
        elif args.method == "substring":
            from pyspark.sql import functions as F
            from muopdb_spark.operators.substring import duplicate_span_stats

            stats = duplicate_span_stats(df, k=args.k_tokens)
            agg = stats.agg(
                F.count("*").alias("docs"),
                F.sum("dup_tokens").alias("dup_tokens"),
                F.sum("n_tokens").alias("tokens"),
                F.sum(F.when(F.col("n_dup_spans") > 0, 1).otherwise(0))
                .alias("docs_with_dup_spans"),
            ).first()
            result = {"method": "substring", "k": args.k_tokens,
                      "docs": agg["docs"], "tokens": agg["tokens"],
                      "dup_tokens": agg["dup_tokens"],
                      "docs_with_dup_spans": agg["docs_with_dup_spans"]}
            if args.output:
                from muopdb_spark.operators.substring import (
                    remove_duplicate_spans,
                )

                out = remove_duplicate_spans(df, k=args.k_tokens)
        elif args.method == "line":
            from pyspark.sql import functions as F

            from muopdb_spark.operators.dedup import line_dedup

            out = line_dedup(df)
            agg = out.agg(
                F.count("*").alias("docs"),
                F.sum("n_lines").alias("lines"),
                F.sum("kept_lines").alias("kept_lines"),
                F.sum(F.when(F.col("kept_lines") == 0, 1).otherwise(0))
                .alias("docs_emptied"),
            ).first()
            result = {"method": "line", "docs": agg["docs"],
                      "lines": agg["lines"], "kept_lines": agg["kept_lines"],
                      "docs_emptied": agg["docs_emptied"]}
        elif args.method == "soft":
            from pyspark.sql import functions as F

            from muopdb_spark.operators.dedup import soft_dedup_weights

            out = soft_dedup_weights(df)
            agg = out.agg(
                F.count("*").alias("docs"),
                F.round(F.avg("soft_weight"), 6).alias("mean_weight"),
                F.round(F.min("soft_weight"), 6).alias("min_weight"),
            ).first()
            result = {"method": "soft", "docs": agg["docs"],
                      "mean_weight": agg["mean_weight"],
                      "min_weight": agg["min_weight"]}
        elif args.method == "keep-best":
            from pyspark.sql import functions as F

            from muopdb_spark.operators.graph import (
                cluster_representatives,
                dup_clusters,
            )
            from muopdb_spark.operators.textstats import quality_features

            pairs = ngram_jaccard_pairs(df, n=3, threshold=args.threshold)
            clusters = dup_clusters(df.select("doc_id"), pairs)
            scores = quality_features(df).select("doc_id", "quality")
            out = cluster_representatives(clusters, scores)
            agg = out.agg(
                F.count("*").alias("docs"),
                F.countDistinct("cluster_id").alias("clusters"),
                F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("kept"),
                F.sum(
                    F.when(
                        F.col("keep") & (F.col("doc_id") != F.col("cluster_id")),
                        1,
                    ).otherwise(0)
                ).alias("keeper_not_min_id"),
            ).first()
            result = {"method": "keep-best", "docs": agg["docs"],
                      "clusters": agg["clusters"], "kept": agg["kept"],
                      "keeper_not_min_id": agg["keeper_not_min_id"]}
            if args.output:
                out = out.filter(F.col("keep"))
        elif args.method == "minhash":
            pairs = minhash_lsh_pairs(df, threshold=args.threshold)
            result = {"method": "minhash", "near_dup_pairs": pairs.count()}
            out = pairs
        elif args.method == "embedding":
            from muopdb_spark.operators.dedup import embedding_near_dup

            # default = sub-quadratic RP-LSH candidates + exact verify;
            # --exact = the all-pairs referee (fixture scale only)
            pairs = embedding_near_dup(
                df, threshold=args.threshold, exact=args.exact)
            result = {"method": "embedding",
                      "path": "exact" if args.exact else "rp-lsh",
                      "near_dup_pairs": pairs.count()}
            out = pairs
        elif args.method == "phash":
            # perceptual image near-dup over a binary PNG payload
            # column (default 'content'): decode -> dHash -> banded
            # candidates -> bit_count verify
            from muopdb_spark.operators.image import image_near_dup

            pairs = image_near_dup(
                df, content_col=args.content_col,
                max_hamming=args.max_hamming, on_error="skip")
            result = {"method": "phash", "max_hamming": args.max_hamming,
                      "near_dup_pairs": pairs.count()}
            out = pairs
        elif args.method == "audio":
            # spectral-fingerprint audio near-dup over a binary WAV
            # payload column
            from muopdb_spark.operators.audio import audio_near_dup

            pairs = audio_near_dup(
                df, content_col=args.content_col,
                max_hamming=args.max_hamming, on_error="skip")
            result = {"method": "audio", "max_hamming": args.max_hamming,
                      "near_dup_pairs": pairs.count()}
            out = pairs
        else:
            pairs = ngram_jaccard_pairs(df, threshold=args.threshold)
            result = {"method": "jaccard", "near_dup_pairs": pairs.count()}
            out = pairs
    elif args.command == "lm-score":
        from muopdb_spark.operators.lm import lm_bits_per_token

        out = lm_bits_per_token(df)
        result = {"docs_scored": out.count()}
    elif args.command == "chunk":
        from muopdb_spark.operators.packing import chunk_documents

        out = chunk_documents(df, size=args.size, overlap=args.overlap)
        result = {"chunks": out.count(), "size": args.size, "overlap": args.overlap}
    elif args.command == "quality":
        from pyspark.sql import functions as F

        if args.blocklist:
            from muopdb_spark.operators.quality import wordlist_gate

            words = [w for w in args.blocklist.split(",") if w]
            out = wordlist_gate(df, words, max_frac=args.max_frac)
            kept = out.filter(F.col("keep")).count()
            result = {
                "docs": df.count(), "kept": kept,
                "blocklist_words": len(words), "max_frac": args.max_frac,
            }
        else:
            from muopdb_spark.operators.quality import (
                quality_percentile_by_source,
            )

            out = quality_percentile_by_source(
                df, keep_frac=args.keep_frac, approx=args.approx
            )
            kept = out.filter(F.col("keep")).count()
            result = {
                "docs": df.count(), "kept": kept,
                "keep_frac": args.keep_frac,
                "mode": "approx" if args.approx else "exact",
            }
        if args.output:
            out = out.filter(F.col("keep"))
    elif args.command == "dsir":
        from muopdb_spark.operators.dsir import (
            dsir_log_ratios,
            dsir_sample,
            dsir_weights,
            hashed_ngram_buckets,
        )

        if not args.target:
            ap.error("dsir requires --target (the quality-sample parquet)")
        target = spark.read.parquet(args.target)
        grams = hashed_ngram_buckets(df).localCheckpoint(eager=False)
        ratios = dsir_log_ratios(df, target, raw_grams=grams)
        w = dsir_weights(df, ratios, raw_grams=grams)
        out = dsir_sample(w, n=args.n_sample)
        result = {"raw_docs": df.count(), "target_docs": target.count(),
                  "sampled": out.count(), "n_sample": args.n_sample}
    elif args.command == "vocab":
        from pyspark.sql import functions as F
        from muopdb_spark.operators.vocab import pair_vocab, token_vocab

        tv = token_vocab(df, top_k=args.top_k, min_count=args.min_count)
        pv = pair_vocab(df, top_k=args.top_k, min_count=args.min_count)
        out = tv.select(
            F.lit("token").alias("kind"), F.col("token").alias("term"),
            "count", "rank",
        ).unionByName(pv.select(
            F.lit("pair").alias("kind"),
            F.concat_ws(" ", "left", "right").alias("term"),
            "count", "rank",
        ))
        head = tv.orderBy("rank").limit(3).collect()
        result = {"tokens": tv.count(), "pairs": pv.count(),
                  "top_tokens": [[r["token"], r["count"]] for r in head]}
    elif args.command == "split":
        from pyspark.sql import functions as F
        from muopdb_spark.operators.dedup import ngram_jaccard_pairs
        from muopdb_spark.operators.graph import dup_clusters
        from muopdb_spark.operators.sampling import leakage_safe_split

        pairs = ngram_jaccard_pairs(df, n=3, threshold=args.threshold)
        clusters = dup_clusters(df.select("doc_id"), pairs)
        out = leakage_safe_split(
            df, clusters, train_fraction=args.train_frac
        )
        counts = {
            r["split"]: r["n"]
            for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
        }
        result = {"docs": df.count(), "train_frac": args.train_frac,
                  "by_split": counts}
    elif args.command == "ppl-buckets":
        from pyspark.sql import functions as F
        from muopdb_spark.operators.lm import (
            lm_bits_per_token,
            perplexity_buckets,
        )

        lang = (
            df.select("doc_id", "lang")
            if "lang" in df.columns
            else df.select("doc_id", F.lit("und").alias("lang"))
        )
        scored = lm_bits_per_token(df).join(lang, "doc_id").select(
            "doc_id", "lang",
            F.round("bits_per_token", 6).alias("bits_per_token"),
        )
        out = perplexity_buckets(scored, approx=args.approx)
        counts = {
            r["ppl_bucket"]: r["n"]
            for r in out.groupBy("ppl_bucket")
            .agg(F.count("*").alias("n")).collect()
        }
        result = {"docs": df.count(), "by_bucket": counts,
                  "mode": "approx" if args.approx else "exact"}
        if args.output:
            # the CCNet keep-rule: head trains, middle kept with
            # caveats, tail dropped
            out = out.filter(F.col("ppl_bucket") != "tail")
    elif args.command == "bpe":
        from pyspark.sql import functions as F

        if args.model == "unigram":
            # the SentencePiece unigram family (operators/unigram.py):
            # EM-trained piece vocabulary + Viterbi encode
            from muopdb_spark.operators.unigram import (
                unigram_apply,
                unigram_train,
            )

            vocab = unigram_train(df, vocab_size=args.vocab_size)
            out = unigram_apply(df, vocab).withColumn(
                "n_subwords", F.size("unigram_tokens").cast("long")
            )
            agg = out.agg(
                F.count("*").alias("docs"),
                F.sum("n_subwords").alias("subwords"),
            ).first()
            top = sorted(vocab.items(), key=lambda kv: -kv[1])[:5]
            result = {"docs": agg["docs"], "model": "unigram",
                      "vocab_size": len(vocab),
                      "subwords": agg["subwords"],
                      "top_pieces": [p for p, _ in top]}
        else:
            from muopdb_spark.operators.vocab import bpe_apply, bpe_train

            merges = bpe_train(df, num_merges=args.num_merges)
            out = bpe_apply(df, merges).withColumn(
                "n_subwords", F.size("bpe_tokens").cast("long")
            )
            agg = out.agg(
                F.count("*").alias("docs"),
                F.sum("n_subwords").alias("subwords"),
            ).first()
            result = {"docs": agg["docs"], "model": "bpe",
                      "merges_learned": len(merges),
                      "subwords": agg["subwords"],
                      "first_merges": [list(p) for p in merges[:5]]}
    elif args.command == "tokens":
        # trainer handoff: learn a merge list on the corpus, export
        # flat int32 token-id shards + doc indexes + vocab.json
        from pyspark.sql import functions as F

        from muopdb_spark.operators.export import write_token_shards
        from muopdb_spark.operators.vocab import bpe_train

        if not args.output:
            ap.error("tokens requires --output (shard directory)")
        if args.model == "unigram":
            from muopdb_spark.operators.unigram import unigram_train

            vocab = unigram_train(df, vocab_size=args.vocab_size)
            man = write_token_shards(
                df.select("doc_id", "text"), args.output,
                unigram_vocab=vocab, n_shards=args.n_shards,
            )
            model_info = {"model": "unigram", "vocab_size": len(vocab)}
        else:
            merges = bpe_train(df, num_merges=args.num_merges)
            man = write_token_shards(
                df.select("doc_id", "text"), args.output, merges,
                n_shards=args.n_shards,
            )
            model_info = {"model": "bpe", "merges": len(merges)}
        agg = man.agg(
            F.count("*").alias("shards"),
            F.sum("n_docs").alias("docs"),
            F.sum("n_tokens").alias("tokens"),
            F.sum("bin_bytes").alias("bytes"),
        ).first()
        return {"shards": agg["shards"], "docs": agg["docs"],
                "tokens": agg["tokens"], "bytes": agg["bytes"],
                **model_info, "path": args.output}
    elif args.command == "curate":
        # the whole curation ladder in one verb: unicode/whitespace
        # canonicalization -> exact dedup ->
        # line-level keep-first dedup -> near-dup keep-best ->
        # (optional, vs --target) token-level decontamination + fuzzy
        # near-dup benchmark drop -> quality gate -> soft-dedup
        # weights + weighted token-budget selection -> curated
        # parquet + stage manifest
        from pyspark.sql import functions as F

        from muopdb_spark.operators.dedup import (
            exact_dedup,
            line_dedup,
            ngram_jaccard_pairs,
            soft_dedup_weights,
        )
        from muopdb_spark.operators.graph import (
            cluster_representatives,
            dup_clusters,
        )
        from muopdb_spark.operators.sampling import (
            weighted_token_budget_fill,
            weighted_token_budget_sample,
        )
        from muopdb_spark.operators.substring import (
            remove_contaminated_spans,
        )
        from muopdb_spark.operators.textstats import (
            quality_features,
            ws_token_count,
        )

        manifest = {}
        docs = df.select("doc_id", "text").localCheckpoint(eager=True)
        manifest["ingested"] = docs.count()
        # stage 0: unicode/whitespace canonicalization BEFORE any
        # hashing — NFC-variant or invisibly-padded duplicates must
        # hash identically for every dedup stage below
        from muopdb_spark.operators.normalize import clean_text

        cl = clean_text(docs)
        manifest["cleaned_changed"] = cl.filter("changed").count()
        docs = cl.filter("text_clean IS NOT NULL").select(
            "doc_id", F.col("text_clean").alias("text")
        ).localCheckpoint(eager=True)
        canon = exact_dedup(docs).filter("is_canonical").select("doc_id")
        docs = docs.join(canon, "doc_id", "left_semi") \
            .localCheckpoint(eager=True)
        manifest["exact_dedup"] = docs.count()
        ld = line_dedup(docs)
        docs = docs.drop("text").join(
            ld.filter(F.col("kept_lines") > 0)
              .select("doc_id", F.col("text_clean").alias("text")),
            "doc_id",
        ).localCheckpoint(eager=True)
        manifest["line_dedup"] = docs.count()
        pairs = ngram_jaccard_pairs(docs, n=3, threshold=args.threshold)
        clusters = dup_clusters(docs.select("doc_id"), pairs)
        scores = quality_features(docs).select("doc_id", "quality")
        keepers = cluster_representatives(clusters, scores).filter("keep")
        docs = docs.join(keepers.select("doc_id"), "doc_id", "left_semi") \
            .localCheckpoint(eager=True)
        manifest["keep_best"] = docs.count()
        if args.target:
            bench = spark.read.parquet(args.target)
            dec = remove_contaminated_spans(docs, bench, k=args.k_tokens)
            manifest["decontaminated_tokens_cut"] = int(
                dec.agg(F.sum(F.col("n_tokens") - F.col("kept_tokens")))
                .first()[0] or 0
            )
            docs = docs.drop("text").join(
                dec.filter(F.col("kept_tokens") > 0)
                   .select("doc_id", F.col("text_clean").alias("text")),
                "doc_id",
            ).localCheckpoint(eager=True)
            manifest["decontaminated"] = docs.count()
            # fuzzy pass (c3): near-dup paraphrases of benchmark docs
            # that survive the literal window cuts drop whole
            from muopdb_spark.operators.contamination import (
                fuzzy_contamination_verdicts,
            )

            fz = fuzzy_contamination_verdicts(
                docs, bench, threshold=max(args.threshold, 0.8),
            )
            docs = docs.join(fz.select("doc_id"), "doc_id", "left_anti") \
                .localCheckpoint(eager=True)
            manifest["fuzzy_decontaminated"] = docs.count()
        if args.blocklist:
            from muopdb_spark.operators.quality import wordlist_gate

            words = [w for w in args.blocklist.split(",") if w]
            gate = wordlist_gate(docs, words, max_frac=args.max_frac)
            docs = docs.join(
                gate.filter("keep").select("doc_id"), "doc_id",
                "left_semi",
            ).localCheckpoint(eager=True)
            manifest["blocklist_gated"] = docs.count()
        if args.quality_min is not None:
            ok = quality_features(docs).filter(
                F.col("quality") >= float(args.quality_min)
            ).select("doc_id")
            docs = docs.join(ok, "doc_id", "left_semi") \
                .localCheckpoint(eager=True)
            manifest["quality_gated"] = docs.count()
        w = soft_dedup_weights(docs)
        base = docs.select(
            "doc_id", "text",
            ws_token_count("text").cast("long").alias("n_tokens"),
        ).join(w.select("doc_id", "soft_weight"), "doc_id")
        sampler = (
            weighted_token_budget_fill if args.fill
            else weighted_token_budget_sample
        )
        out = sampler(
            base, key_col="doc_id", token_col="n_tokens",
            weight_col="soft_weight", budget_tokens=args.budget_tokens,
        ).localCheckpoint(eager=True)
        manifest["budget_selected"] = out.count()
        manifest["kept_tokens"] = int(
            out.agg(F.sum("n_tokens")).first()[0] or 0
        )
        manifest["budget_tokens"] = args.budget_tokens
        result = manifest
    elif args.command == "extract-text":
        # HTML -> training text (title + block-aware text + link
        # count); --pdf-col switches to the PDF text-layer extractor
        # (one row per page); --output parquet via the shared tail
        from pyspark.sql import functions as F

        if args.pdf_col and args.pdf_images:
            from muopdb_spark.operators.pdf import pdf_image_features

            out = pdf_image_features(df, content_col=args.pdf_col,
                                     on_error="skip")
            agg = out.agg(
                F.count_distinct("doc_id").alias("docs"),
                F.count("*").alias("images"),
            ).collect()[0]
            result = {"docs": int(agg["docs"]),
                      "images": int(agg["images"])}
            if args.output:
                out.write.mode("overwrite").parquet(args.output)
                result["path"] = args.output
            return result

        if args.pdf_col:
            from muopdb_spark.operators.pdf import pdf_pages

            out = pdf_pages(df, content_col=args.pdf_col,
                            on_error="skip")
            agg = out.agg(
                F.count_distinct("doc_id").alias("docs"),
                F.count("*").alias("pages"),
                F.sum(F.length("text")).alias("chars"),
            ).collect()[0]
            result = {"docs": int(agg["docs"]),
                      "pages": int(agg["pages"]),
                      "chars": int(agg["chars"] or 0)}
            if args.output:
                out.write.mode("overwrite").parquet(args.output)
                result["path"] = args.output
            return result

        if args.main_content:
            # r15: density-based block classification (html2) — drops
            # menus/link-farms/footers living in plain divs
            from muopdb_spark.operators.html import extract_main_content

            out = extract_main_content(df, html_col=args.html_col)
            agg = out.agg(
                F.count("*").alias("docs"),
                F.sum(F.length("text")).alias("chars"),
                F.sum("n_blocks").alias("blocks"),
                F.sum("n_kept").alias("kept"),
            ).collect()[0]
            result = {"docs": int(agg["docs"]),
                      "chars": int(agg["chars"] or 0),
                      "blocks": int(agg["blocks"] or 0),
                      "kept_blocks": int(agg["kept"] or 0)}
        else:
            from muopdb_spark.operators.html import extract_text

            out = extract_text(df, html_col=args.html_col)
            agg = out.agg(
                F.count("*").alias("docs"),
                F.sum(F.length("text")).alias("chars"),
                F.sum("n_links").alias("links"),
            ).collect()[0]
            result = {"docs": int(agg["docs"]),
                      "chars": int(agg["chars"] or 0),
                      "links": int(agg["links"] or 0)}
    elif args.command == "urls":
        # URL pass: canonicalize -> URL dedup -> per-domain cap
        # (--max-per-domain; 0 = no cap); reports the funnel
        from muopdb_spark.operators.urls import domain_cap, url_dedup

        n0 = df.count()
        kept = url_dedup(df)
        n1 = kept.count()
        if args.max_per_domain:
            if args.psl:
                # full Public-Suffix-List grouping (operators/psl.py)
                from muopdb_spark.operators.psl import (
                    with_registered_domain,
                )

                kept = with_registered_domain(
                    kept, url_col="url", out_col="_psl_domain"
                )
                kept = domain_cap(kept, cap=args.max_per_domain,
                                  domain_col="_psl_domain") \
                    .drop("_psl_domain")
            else:
                kept = domain_cap(kept, cap=args.max_per_domain)
        out = kept
        n2 = out.count()
        result = {"docs": n0, "after_url_dedup": n1,
                  "after_domain_cap": n2,
                  "max_per_domain": args.max_per_domain,
                  "domain_rule": "psl" if args.psl else "cc-2ld"}
    elif args.command == "robots":
        # RFC 9309 politeness gate: --robots is a (host, robots_txt)
        # parquet; URLs in --input gain a robots_allowed column and
        # the funnel is reported. --sitemap-col instead extracts
        # sitemap <loc> rows from the --input table itself.
        from pyspark.sql import functions as F

        from muopdb_spark.operators.robots import (
            parse_robots,
            robots_gate,
            sitemap_urls,
        )

        if args.sitemap_col:
            out = sitemap_urls(df, content_col=args.sitemap_col)
            agg = out.groupBy("kind").count().collect()
            result = {"mode": "sitemap",
                      **{r["kind"]: int(r["count"]) for r in agg}}
        else:
            if not args.robots:
                ap.error("robots: --robots <parquet> required "
                         "(columns host, robots_txt)")
            rules = parse_robots(
                spark.read.parquet(args.robots),
                user_agent=args.user_agent,
            )
            out = robots_gate(df, rules)
            agg = out.agg(
                F.count("*").alias("urls"),
                F.sum(F.col("robots_allowed").cast("long")).alias("ok"),
            ).collect()[0]
            result = {"mode": "gate", "user_agent": args.user_agent,
                      "urls": int(agg["urls"]),
                      "allowed": int(agg["ok"] or 0),
                      "denied": int(agg["urls"]) - int(agg["ok"] or 0)}
    elif args.command == "frames":
        # REAL video frame extraction: MJPEG-in-AVI payloads walked by
        # the RIFF parser, each frame decoded by the JPEG codec —
        # emits (doc_id, frame_idx, height, width, dhash); --every-n
        # keeps every n-th frame, undecodable docs are skipped
        from pyspark.sql import functions as F

        from muopdb_spark.operators.video import video_frame_features

        out = video_frame_features(
            df, every_n=args.every_n, content_col=args.content_col,
            on_error="skip",
        )
        # the shared tail below writes `out` to --output
        agg = out.groupBy().agg(
            F.countDistinct("doc_id").alias("docs"),
            F.count("*").alias("frames"),
        ).collect()[0]
        result = {"docs": int(agg["docs"]), "frames": int(agg["frames"]),
                  "every_n": args.every_n}
    elif args.command == "probe":
        # codec-free media triage: sniff container formats and parse
        # only structural headers (png/jpeg/gif/bmp/wav/mp4/avi); total
        # by design — corrupt payloads land as format='unknown'
        from pyspark.sql import functions as F

        from muopdb_spark.operators.multimodal import media_probe

        out = media_probe(df, content_col=args.content_col)
        by_fmt = {
            r["format"]: {"n": r["n"], "bytes": r["bytes"]}
            for r in out.groupBy("format").agg(
                F.count("*").alias("n"), F.sum("n_bytes").alias("bytes")
            ).collect()
        }
        # the probe is total (one output row per input row), so the
        # doc count is free — no second scan of the input
        result = {"docs": sum(v["n"] for v in by_fmt.values()),
                  "by_format": by_fmt}
    elif args.command == "report":
        # per-source dataset hygiene card: doc/token mass, mean
        # quality, exact-dup rate, majority language, and (with
        # --target) benchmark contamination rate
        from muopdb_spark.operators.contamination import benchmark_grams
        from muopdb_spark.operators.report import source_report

        bg = None
        if args.target:
            bg = benchmark_grams(spark.read.parquet(args.target))
        cols = set(df.columns)
        out = source_report(
            df,
            lang_col="lang" if "lang" in cols else None,
            bench_grams=bg,
        ).orderBy("source")
        if args.fertility_merges:
            # rep2 columns joined onto the card: BPE subwords per word
            # under a corpus-trained merge list (bounded collect, the
            # t12/t14 train-at-flush shape)
            from pyspark.sql import functions as F

            from muopdb_spark.functions.text import simple_tokens
            from muopdb_spark.operators.vocab import (
                bpe_token_count,
                bpe_train,
            )

            merges = bpe_train(df, num_merges=args.fertility_merges)
            words = F.size(
                simple_tokens(F.coalesce(F.col("text"), F.lit("")))
            )
            fert = (
                bpe_token_count(df, merges, out_col="n_bpe")
                .select("source", words.alias("ws"), "n_bpe")
                .groupBy("source")
                .agg(
                    F.when(
                        F.sum("ws") > 0,
                        F.round(F.sum("n_bpe").cast("double")
                                / F.sum("ws"), 6),
                    ).otherwise(F.lit(0.0)).alias("fertility"),
                )
            )
            out = out.join(fert, "source").orderBy("source")
        rows = [r.asDict() for r in out.collect()]
        result = {"sources": len(rows), "rows": rows}
    elif args.command == "decontaminate":
        from pyspark.sql import functions as F

        if not args.target:
            ap.error("decontaminate requires --target "
                     "(benchmark parquet path)")
        bench = spark.read.parquet(args.target)
        if args.method == "fuzzy":
            # c3: drop whole docs that are MinHash-LSH near-duplicates
            # of any benchmark doc (paraphrase-robust leakage)
            from muopdb_spark.operators.contamination import (
                fuzzy_contamination_verdicts,
            )

            v = fuzzy_contamination_verdicts(
                df, bench, threshold=args.threshold,
            ).localCheckpoint(eager=True)
            agg = v.agg(
                F.count("*").alias("dropped"),
                F.round(F.max("max_jaccard"), 6).alias("max_jaccard"),
            ).first()
            result = {"method": "fuzzy", "docs": df.count(),
                      "docs_dropped": agg["dropped"],
                      "max_jaccard": agg["max_jaccard"],
                      "threshold": args.threshold}
            if args.output:
                out = df.join(v.select("doc_id"), "doc_id", "left_anti")
        else:
            # spans (default): cut the >= k-token windows the corpus
            # shares with the benchmark, keep the rest of each doc
            from muopdb_spark.operators.substring import (
                remove_contaminated_spans,
            )

            out = remove_contaminated_spans(df, bench, k=args.k_tokens)
            agg = out.agg(
                F.count("*").alias("docs"),
                F.sum(F.col("n_tokens") - F.col("kept_tokens")).alias("cut"),
                F.sum(F.when(F.col("kept_tokens") == 0, 1).otherwise(0))
                .alias("docs_gutted"),
            ).first()
            result = {"method": "spans", "docs": agg["docs"],
                      "tokens_cut": agg["cut"] or 0,
                      "docs_gutted": agg["docs_gutted"],
                      "k": args.k_tokens}
    elif args.command == "select":
        # the SoftDedup/DCLM ladder's last step: downweight duplicated
        # content (soft_dedup_weights), then sample under a token
        # budget with keep probability proportional to the weight
        # (weighted_token_budget_sample — expected kept tokens hit the
        # budget while c-fold-duplicated docs survive with ~1/c
        # probability)
        from pyspark.sql import functions as F

        from muopdb_spark.operators.dedup import soft_dedup_weights
        from muopdb_spark.operators.sampling import (
            weighted_token_budget_fill,
            weighted_token_budget_sample,
        )
        from muopdb_spark.operators.textstats import ws_token_count

        w = soft_dedup_weights(df)
        base = df.select(
            "doc_id", ws_token_count("text").cast("long").alias("n_tokens")
        ).join(w.select("doc_id", "soft_weight"), "doc_id")
        if args.anneal_budget:
            # smp10: finish the budget on quality-upweighted data —
            # warmup phase under soft-dedup weights, annealing phase
            # from the remainder under quality weights
            from muopdb_spark.operators.sampling import (
                phase_budget_schedule,
            )
            from muopdb_spark.operators.textstats import quality_features

            base = base.join(
                quality_features(df).select("doc_id", "quality"), "doc_id"
            )
            picks = phase_budget_schedule(
                base, key_col="doc_id", token_col="n_tokens",
                phases=[("warmup", "soft_weight", args.budget_tokens),
                        ("anneal", "quality", args.anneal_budget)],
            )
            out = base.join(picks, "doc_id").withColumn(
                "phase", F.col("phase"))
        else:
            sampler = (
                weighted_token_budget_fill if args.fill
                else weighted_token_budget_sample
            )
            out = sampler(
                base, key_col="doc_id", token_col="n_tokens",
                weight_col="soft_weight", budget_tokens=args.budget_tokens,
            )
        tot = base.agg(
            F.count("*").alias("docs"), F.sum("n_tokens").alias("tokens")
        ).first()
        agg = out.agg(
            F.count("*").alias("kept"),
            F.sum("n_tokens").alias("kept_tokens"),
        ).first()
        result = {"docs": tot["docs"], "tokens": tot["tokens"],
                  "budget_tokens": args.budget_tokens,
                  "kept": agg["kept"] or 0,
                  "kept_tokens": agg["kept_tokens"] or 0}
        if args.anneal_budget:
            result["anneal_budget"] = args.anneal_budget
            result["kept_by_phase"] = {
                r["phase"]: r["t"] for r in out.groupBy("phase")
                .agg(F.sum("n_tokens").alias("t")).collect()
            }
    elif args.command == "admit":
        import os

        from muopdb_spark.streaming.admission import (
            admit_batch,
            bootstrap_corpus,
        )

        if not args.state:
            ap.error("admit requires --state (admission state directory)")
        corpus = os.path.join(args.state, "corpus")
        sigs = os.path.join(args.state, "sigs")
        rejected = os.path.join(args.state, "rejected")
        batch = df.select("doc_id", "text")
        if not os.path.isdir(sigs):
            bootstrap_corpus(batch, corpus, sigs)
            return {"bootstrapped": True, "docs": batch.count(),
                    "state": args.state}
        before = spark.read.parquet(corpus).count()
        ratios = None
        if args.importance_min is not None:
            if not args.target:
                ap.error("--importance-min requires --target "
                         "(the quality-sample parquet)")
            from muopdb_spark.operators.dsir import dsir_log_ratios

            # durable in a production deployment; rebuilt here from the
            # current corpus (raw) vs the quality sample (target)
            ratios = dsir_log_ratios(
                spark.read.parquet(corpus),
                spark.read.parquet(args.target),
            ).localCheckpoint(eager=True)
        bench_sig = None
        if args.fuzzy_target:
            # w9: fuzzy benchmark gate — near-dups of eval docs reject
            # before dedup, reusing the batch's one signing pass
            from muopdb_spark.operators.dedup import minhash_signature_df

            bench_sig = minhash_signature_df(
                spark.read.parquet(args.fuzzy_target).select(
                    "doc_id", "text")
            ).localCheckpoint(eager=True)
        blockwords = (
            [w for w in args.blocklist.split(",") if w]
            if args.blocklist else None
        )
        admit_batch(batch, args.batch_id, corpus, sigs, rejected,
                    threshold=args.threshold, quality_min=args.quality_min,
                    dsir_ratios=ratios, dsir_min=args.importance_min,
                    benchmark_sig=bench_sig,
                    benchmark_jaccard=args.threshold,
                    blocklist=blockwords,
                    blocklist_max_frac=args.max_frac)
        after = spark.read.parquet(corpus).count()
        audit = {}
        if os.path.isdir(rejected):
            from pyspark.sql import functions as F

            # distinct docs per reason (the dedup reasons record one
            # row PER MATCHED PAIR, so a doc matching two corpus docs
            # has two audit rows)
            audit = {
                r["reason"]: r["n"]
                for r in spark.read.parquet(rejected)
                .filter(F.col("batch_id") == args.batch_id)
                .groupBy("reason")
                .agg(F.countDistinct("new_id").alias("n")).collect()
            }
        return {"batch": batch.count(), "admitted": after - before,
                "rejected_by_reason": audit, "corpus_docs": after}
    else:  # shard
        from muopdb_spark.operators.export import shard_assignment, write_shards

        if args.output:
            write_shards(df, args.output, n_shards=args.n_shards)
            result = {"shards_written": args.n_shards, "path": args.output}
            return result
        out = shard_assignment(df, n_shards=args.n_shards)
        result = {"docs": out.count(), "n_shards": args.n_shards}
    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        result["path"] = args.output
    return result


def main(argv=None) -> int:
    from muopdb_spark.index.quantizer import NAMES as QUANTIZER_NAMES

    ap = argparse.ArgumentParser(prog="muopdb-spark-query")
    ap.add_argument("command", choices=sorted(COLLECTION_CMDS | PIPELINE_CMDS))
    ap.add_argument("--root")
    ap.add_argument("--name")
    ap.add_argument("--users", type=int, nargs="*", default=None)
    ap.add_argument("--vector", help="comma-separated floats")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--filter", dest="filter_json", help="DocumentFilter JSON tree")
    ap.add_argument("--limit", type=int, default=10)
    ap.add_argument("--input", help="pipeline commands: input parquet path")
    ap.add_argument("--output", help="pipeline commands: output parquet path")
    ap.add_argument("--method",
                    choices=["exact", "minhash", "jaccard", "substring",
                             "line", "soft", "keep-best", "spans", "fuzzy",
                             "embedding", "phash", "audio"],
                    default="minhash",
                    help="dedup: exact|minhash|jaccard|substring|line|"
                         "soft|keep-best|embedding (RP-LSH + exact "
                         "verify; --exact for the all-pairs referee)|"
                         "phash (image dHash over a binary PNG column)|"
                         "audio (spectral fingerprint over a binary WAV "
                         "column); decontaminate: spans (cut shared "
                         ">=k-token windows) | fuzzy (drop MinHash-LSH "
                         "near-dups of --target)")
    ap.add_argument("--content-col", default="content",
                    help="dedup --method phash/audio: binary payload "
                         "column name")
    ap.add_argument("--every-n", type=int, default=1,
                    help="frames: keep every n-th video frame")
    ap.add_argument("--max-per-domain", type=int, default=0,
                    help="urls: cap docs per registered domain (0 = off)")
    ap.add_argument("--psl", action="store_true",
                    help="urls: group the per-domain cap by the FULL "
                         "Mozilla Public Suffix List (operators/psl) "
                         "instead of the cc-2LD heuristic")
    ap.add_argument("--robots",
                    help="robots: parquet of (host, robots_txt) rules")
    ap.add_argument("--user-agent", default="*",
                    help="robots: crawler product token for group "
                         "selection (default '*')")
    ap.add_argument("--sitemap-col",
                    help="robots: extract sitemap <loc> rows from "
                         "this XML column of --input instead of gating")
    ap.add_argument("--html-col", default="html",
                    help="extract-text: column holding the page HTML")
    ap.add_argument("--main-content", action="store_true",
                    help="extract-text: density-based block "
                         "classification (html2) — drop menus/link "
                         "farms/footers by text/link density instead "
                         "of tag suppression alone")
    ap.add_argument("--pdf-col",
                    help="extract-text: binary PDF column — extract "
                         "the text layer (one row per page) instead "
                         "of HTML")
    ap.add_argument("--pdf-images", action="store_true",
                    help="extract-text --pdf-col: extract embedded "
                         "raster images (dims/format/dHash per image) "
                         "instead of the text layer")
    ap.add_argument("--wet", action="store_true",
                    help="warc: read conversion (WET) records as text")
    ap.add_argument("--cdx",
                    help="warc: build the CDXJ capture index for the "
                         "archives into this directory (sorted "
                         "part-*.cdxj shards + cluster.idx)")
    ap.add_argument("--warc-text", action="store_true",
                    help="warc: run the crawl->text head (response "
                         "HTML through the boilerplate-aware extractor)")
    ap.add_argument("--max-hamming", type=int, default=3,
                    help="dedup --method phash/audio: fingerprint "
                         "hamming-distance threshold")
    ap.add_argument("--threshold", type=float, default=0.8)
    ap.add_argument("--k-tokens", type=int, default=10,
                    help="substring: duplicated-span length threshold")
    ap.add_argument("--size", type=int, default=32)
    ap.add_argument("--overlap", type=int, default=8)
    ap.add_argument("--n-shards", type=int, default=8)
    ap.add_argument("--keep-frac", type=float, default=0.7)
    ap.add_argument("--approx", action="store_true",
                    help="quality: two-pass approx-percentile scale path")
    ap.add_argument("--blocklist",
                    help="quality: comma-separated wordlist gate (the "
                         "C4 bad-words stage) instead of the "
                         "percentile path")
    ap.add_argument("--max-frac", type=float, default=0.0,
                    help="quality --blocklist: max blocked-token "
                         "fraction to keep (0.0 = any-hit drop)")
    ap.add_argument("--exact", action="store_true",
                    help="dedup --method embedding: run the all-pairs "
                         "O(n^2) referee instead of the RP-LSH default "
                         "(fixture/recall-measurement scale only)")
    ap.add_argument("--state", help="admit: admission state directory")
    ap.add_argument("--target", help="dsir: target-corpus parquet path")
    ap.add_argument("--n-sample", type=int, default=1000,
                    help="dsir: sample size")
    ap.add_argument("--top-k", type=int, default=None,
                    help="vocab: budget for each table")
    ap.add_argument("--min-count", type=int, default=1,
                    help="vocab: hapax-tail cut before ranking")
    ap.add_argument("--train-frac", type=float, default=0.9,
                    help="split: train-side fraction (cluster-keyed)")
    ap.add_argument("--num-merges", type=int, default=200,
                    help="bpe: merge-list length to learn")
    ap.add_argument("--model", default="bpe",
                    choices=("bpe", "unigram"),
                    help="bpe: subword model family — Sennrich BPE "
                         "(default) or the SentencePiece unigram LM")
    ap.add_argument("--vocab-size", type=int, default=200,
                    help="bpe --model unigram: piece-vocabulary size")
    ap.add_argument("--budget-tokens", type=int, default=10_000,
                    help="select: expected-kept-token budget")
    ap.add_argument("--fertility-merges", type=int, default=None,
                    help="report: add a tokenizer-fertility column "
                         "(BPE subwords per word) under a corpus-"
                         "trained merge list of this size")
    ap.add_argument("--fuzzy-target", default=None,
                    help="admit: benchmark parquet; docs whose shingle "
                         "Jaccard vs any benchmark doc reaches "
                         "--threshold reject reason=contaminated_fuzzy "
                         "(w9)")
    ap.add_argument("--anneal-budget", type=int, default=None,
                    help="select: add a quality-upweighted annealing "
                         "phase of this many tokens after the main "
                         "budget (smp10 phase schedule)")
    ap.add_argument("--fill", action="store_true",
                    help="select: water-filling (re-level cap surplus "
                         "over uncapped rows, 3 rounds)")
    ap.add_argument("--quality-min", type=float, default=None,
                    help="admit: composite-quality gate threshold")
    ap.add_argument("--importance-min", type=float, default=None,
                    help="admit: DSIR mean-log-ratio gate (needs --target)")
    ap.add_argument("--batch-id", type=int, default=0,
                    help="admit: batch id recorded in the audit trail")
    ap.add_argument("--num-features", type=int, default=4)
    ap.add_argument("--quantizer", default="none", choices=QUANTIZER_NAMES,
                    help="create: collection quantizer")
    ap.add_argument("--metric", default="l2",
                    choices=["l2", "l2_squared", "dot", "cosine"])
    ap.add_argument("--ids", type=int, nargs="*", default=None)
    args = ap.parse_args(argv)

    from muopdb_spark.session import get_spark

    spark = get_spark("muopdb-query")
    spark.sparkContext.setLogLevel("ERROR")

    if args.command in PIPELINE_CMDS:
        if not args.input:
            ap.error(f"{args.command} requires --input")
        print(json.dumps(_pipeline(spark, args, ap)))
        spark.stop()
        return 0

    if not args.root or not args.name:
        ap.error(f"{args.command} requires --root and --name")

    from muopdb_spark.catalog import Collection, CollectionConfig

    if args.command == "create":
        col = Collection.create(spark, args.root, CollectionConfig(
            name=args.name, num_features=args.num_features,
            quantizer=args.quantizer, metric=args.metric,
        ))
        print(json.dumps({"created": args.name, "root": args.root,
                          "num_features": args.num_features,
                          "quantizer": args.quantizer,
                          "metric": args.metric}))
        spark.stop()
        return 0

    col = Collection.open(spark, args.root, args.name)

    if args.command == "insert":
        if not args.input:
            ap.error("insert requires --input (parquet with user_id, doc_id, vector)")
        seq = col.insert(spark.read.parquet(args.input))
        print(json.dumps({"inserted_seq_no": seq}))
    elif args.command == "remove":
        if args.users is None or not args.ids:
            ap.error("remove requires --users and --ids")
        seq = col.remove(args.users, args.ids)
        print(json.dumps({"tombstone_seq_no": seq}))
    elif args.command == "search":
        if not args.vector:
            ap.error("search requires --vector")
        qv = [float(x) for x in args.vector.split(",")]
        rows = col.search(args.users, qv, args.k).collect()
        print(json.dumps({"hits": [
            {"doc_id": r["doc_id"], "score": r["score"]} for r in rows
        ]}))
    elif args.command == "term-search":
        if not args.filter_json:
            ap.error("term-search requires --filter")
        rows = col.term_search(args.users, json.loads(args.filter_json), args.limit).collect()
        print(json.dumps({"doc_ids": [r["doc_id"] for r in rows]}))
    elif args.command == "stats":
        print(json.dumps({"toc": col.toc(), "segments": col.stats()}))
    elif args.command == "inspect":
        # index-internals dump (the reference's cli/index_viewer.rs
        # analog): per segment — quantizer, per-user centroid counts,
        # posting-list size distribution. One aggregate job per table.
        from pyspark.sql import functions as F

        toc = col.toc()
        report = {}
        for seg in toc.get("indexes", {}):
            if "ivf" not in toc["indexes"].get(seg, []):
                continue
            idx = col.load_segment_index(seg)
            cents = {
                str(r.user_id): r.n
                for r in idx.centroids.groupBy("user_id")
                .agg(F.count("*").alias("n")).collect()
            }
            psizes = (
                idx.postings.groupBy("user_id", "centroid_id")
                .agg(F.count("*").alias("n"))
                .agg(
                    F.count("*").alias("lists"),
                    F.sum("n").alias("points"),
                    F.round(F.avg("n"), 1).alias("avg_len"),
                    F.max("n").alias("max_len"),
                ).collect()[0]
            )
            report[seg] = {
                "quantizer": idx.quantizer,
                "centroids_per_user": cents,
                "posting_lists": int(psizes["lists"]),
                "points": int(psizes["points"]),
                "avg_posting_len": float(psizes["avg_len"]),
                "max_posting_len": int(psizes["max_len"]),
            }
        print(json.dumps({"version": toc.get("version"), "segments": report}))
    elif args.command == "optimize":
        print(json.dumps(col.auto_optimize()))
    elif args.command == "flush":
        print(json.dumps({"flushed_segment": col.flush()}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
