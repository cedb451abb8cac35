"""Inverted term index as a derived table — the reference's TermIndex
(rs/index/src/terms/index.rs:17-40: per-user map term -> Elias-Fano
posting list; built by rs/index/src/terms/builder.rs, key format
"{field}:{stemmed_token}" per mutable_segment.rs:92).

Spark-first: the index IS a DataFrame
    (field, term, postings array<long>, df long)
produced by explode + groupBy + sort_array (A5). Elias-Fano compression
is replaced by parquet's delta/RLE encodings on the sorted posting
arrays (built-in, §4.2). Term lookup (J2: on-disk ordered map probe)
becomes a broadcast hash join against this small table; a TermSearch
over the index is a semi-join instead of a corpus scan — at 100 TB the
term table is ~vocabulary-sized and the postings touched are only the
queried terms'.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from muopdb_spark.functions.text import simple_tokens, stemmed_tokens


def build_term_index(
    df: DataFrame,
    fields: dict[str, str | tuple[str, str]],
    *,
    id_col: str = "doc_id",
    user_col: str | None = None,
    stem: bool = True,
) -> DataFrame:
    """fields: {column: "text"|"keyword"} or {column: (kind, language)}.
    TEXT columns are tokenized (+stemmed with the field's language —
    en=Porter, de/es/fr=Snowball, stemming_tokenizer.rs:22-44); KEYWORD
    columns index the whole value (mutable_segment.rs:74-99). Returns
    (field, term, postings, df) — plus a leading user_id column when
    `user_col` is given, making each user's term index independent (the
    MultiTermBuilder analog, rs/index/src/multi_terms/builder.rs;
    postings never mix users)."""
    group_prefix = [user_col] if user_col else []
    parts = []
    for fld, spec in fields.items():
        kind, lang = (spec, "english") if isinstance(spec, str) else spec
        if kind == "text":
            toks = stemmed_tokens(F.col(fld), lang) if stem else simple_tokens(F.col(fld))
            staged = df.select(
                *group_prefix, F.col(id_col).alias("id"), toks.alias("_toks")
            )
            parts.append(
                staged.select(
                    *group_prefix,
                    F.lit(fld).alias("field"),
                    F.explode(F.array_distinct("_toks")).alias("term"),
                    F.col("id"),
                )
            )
        else:  # keyword: whole value is the term
            parts.append(
                df.select(
                    *group_prefix,
                    F.lit(fld).alias("field"),
                    F.col(fld).cast("string").alias("term"),
                    F.col(id_col).alias("id"),
                ).filter(F.col("term").isNotNull())
            )
    exploded = parts[0]
    for p in parts[1:]:
        exploded = exploded.unionByName(p)
    return (
        exploded.groupBy(*group_prefix, "field", "term")
        .agg(
            F.sort_array(F.collect_list("id")).alias("postings"),
            F.count("*").cast("long").alias("df"),
        )
    )


def corpus_stats(
    docs: DataFrame, *, tokens_col: str = "toks",
) -> tuple[int, float]:
    """(n_docs, avgdl) in ONE aggregate job — the BM25 corpus statistics
    that belong with the term-index artifact, the way the reference
    keeps per-segment doc counts in the TOC rather than re-scanning
    (segment metadata, rs/index/src/terms/index.rs). Callers persist the
    pair next to the saved index and feed bm25_scores(n_docs=, avgdl=)
    so scoring pays zero stats jobs per query."""
    row = docs.agg(
        F.count("*").alias("n"), F.avg(F.size(tokens_col)).alias("avgdl")
    ).first()
    return int(row["n"]), float(row["avgdl"] or 0.0)


def term_lookup(index: DataFrame, field: str, term: str) -> DataFrame:
    """J2: single-term posting-list fetch."""
    return index.filter((F.col("field") == field) & (F.col("term") == term))


def term_search_indexed(
    index: DataFrame,
    terms: list[tuple[str, str]],
    limit: int,
    *,
    mode: str = "and",
) -> DataFrame:
    """TermSearch via the index: fetch the queried terms' index rows
    (broadcast-sized filter), explode their postings, then AND =
    count-of-distinct-matched-pairs equality (F2's leapfrog intersection as a
    groupBy) or OR = distinct union (F3), sorted + limited
    (snapshot.rs:141-146). Fully distributed — only the queried terms'
    postings are ever materialized."""
    if not terms:
        # empty term list matches nothing (planner.rs:124-148 semantics)
        return index.sparkSession.createDataFrame([], "doc_id long")
    cond = None
    for f, t in terms:
        c = (F.col("field") == f) & (F.col("term") == t)
        cond = c if cond is None else (cond | c)
    matched = index.filter(cond).select(
        "field", "term", F.explode("postings").alias("doc_id")
    )
    if mode == "and":
        hits = (
            matched.groupBy("doc_id")
            .agg(F.countDistinct("field", "term").alias("n_terms"))
            .filter(F.col("n_terms") == len({(f, t) for f, t in terms}))
            .select("doc_id")
        )
    else:
        hits = matched.select("doc_id").distinct()
    return hits.orderBy("doc_id").limit(limit)
