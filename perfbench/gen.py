"""Seeded input generators for the benchmark workloads.

Everything here is pure Python and NumPy: the same seed gives the same
bytes (`digest()` hashes a generated data set so tests can pin that),
and nothing touches Spark. The program under test receives only what
these functions return.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass

import numpy as np

# Title vocabulary for the serve collection: several inflections per
# stem, so a stemmed `contains` filter matches more than its literal
# words ("running searches" must also hit "run" and "searching").
TITLE_WORDS = (
    "run", "runs", "running", "search", "searches", "searching",
    "index", "indexes", "indexing", "vector", "vectors", "jump",
    "jumped", "jumping", "store", "stored", "storing", "query",
    "queries", "engine", "engines", "fast", "faster",
)
TAGS = ("red", "green", "blue", "black", "white")

# serve collection: docs of Zipf-sized users, each user's vectors a
# Gaussian mixture, split over segments; queries sit near a user's doc
SERVE_DOCS, SERVE_DIM, SERVE_USERS, SERVE_SEGMENTS = 3000, 32, 8, 2
CLUSTERS_PER_USER = 8
QUERY_NOISE = 0.5

# The eight Gopher stopwords; curate's clean documents carry some of
# them, so that only the injected short documents fail the quality gate.
STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
LANGS = (("en", 0.6), ("de", 0.25), ("fr", 0.15))

# curate corpus: clean docs after an eval slice of BENCH_DOCS (ids below
# it), each language drawing from its own bank of VOCAB words
CLEAN_DOCS, BENCH_DOCS, VOCAB = 750, 100, 1500


def zipf_users(rng: np.random.Generator, n: int, n_users: int) -> np.ndarray:
    """User id per row, user u drawn with weight 1/(u+1)."""
    w = 1.0 / np.arange(1, n_users + 1)
    return rng.choice(n_users, size=n, p=w / w.sum())


@dataclass
class ServeData:
    users: np.ndarray        # user id per doc (doc id = row index)
    vectors: np.ndarray      # float32 (n_docs, dim)
    titles: list[str]
    tags: list[str]
    segment: np.ndarray      # segment number per doc

    def rows(self, seg: int) -> list[tuple]:
        idx = np.flatnonzero(self.segment == seg)
        return [
            (int(self.users[i]), int(i), self.vectors[i].tolist(),
             self.titles[i], self.tags[i])
            for i in idx
        ]


def serve_data(seed: int) -> ServeData:
    """The serve collection. Users' vectors form Gaussian mixtures, so
    IVF partitions carry real structure."""
    rng = np.random.default_rng([seed, 1])
    n = SERVE_DOCS
    users = zipf_users(rng, n, SERVE_USERS)
    centers = rng.normal(0.0, 4.0, size=(SERVE_USERS, CLUSTERS_PER_USER, SERVE_DIM))
    cl = rng.integers(0, CLUSTERS_PER_USER, n)
    vectors = (centers[users, cl] + rng.normal(0.0, 1.0, (n, SERVE_DIM))).astype(np.float32)
    titles = [" ".join(rng.choice(TITLE_WORDS, 6)) for _ in range(n)]
    tags = [str(t) for t in rng.choice(TAGS, n)]
    segment = rng.permutation(np.arange(n) % SERVE_SEGMENTS)
    return ServeData(users, vectors, titles, tags, segment)


# Request mix: a fixed cycle of 20 slots (11 ann, 3 ann_multi, 4 hybrid,
# 2 term). The first four slots hold one of each kind, so even a short
# run samples every kind; the seed changes only what each request asks.
MIX = ("ann", "hybrid", "ann_multi", "term", "ann", "ann", "hybrid", "ann",
       "ann", "ann_multi", "ann", "hybrid", "ann", "ann", "term", "ann",
       "ann_multi", "hybrid", "ann", "ann")


def serve_requests(seed: int, data: ServeData, n: int) -> list[dict]:
    """`n` requests following MIX. Query vectors sit near a random doc
    of the first requested user, so every query has real neighbours."""
    rng = np.random.default_rng([seed, 2])
    w = np.bincount(data.users, minlength=SERVE_USERS).astype(float)
    w /= w.sum()
    out = []
    for i in range(n):
        kind = MIX[i % len(MIX)]
        n_u = 3 if kind == "ann_multi" else 1
        users = [int(u) for u in rng.choice(SERVE_USERS, size=n_u, replace=False, p=w)]
        own = np.flatnonzero(data.users == users[0])
        base = data.vectors[int(rng.choice(own))].astype(np.float64)
        q = (base + rng.normal(0.0, QUERY_NOISE, base.shape)).tolist()
        w1, w2 = (str(x) for x in rng.choice(TITLE_WORDS, 2, replace=False))
        out.append({
            "kind": kind, "users": users, "query": q,
            "words": [w1, w2], "tag": str(rng.choice(TAGS)),
        })
    return out


@dataclass
class CurateData:
    ids: list[int]
    texts: list[str]
    langs: list[str]
    unique_count: int                  # distinct normalized texts
    contaminated: set[int]
    low_quality: set[int]
    near_pairs: set[tuple[int, int]]   # (lower id, higher id)

    def rows(self) -> list[tuple]:
        return list(zip(self.ids, self.texts, self.langs))


def _word_bank(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    bank: dict[str, None] = {}
    while len(bank) < n:
        bank["".join(rng.choice(letters, int(rng.integers(3, 9))))] = None
    return list(bank)


def curate_data(seed: int) -> CurateData:
    """A corpus with known answers for every curation stage: a benchmark
    slice (ids < BENCH_DOCS), exact copies, one-word-edit near copies,
    documents that embed a benchmark passage, and short documents that
    fail the Gopher word-count rule. Languages have their own word
    banks and Zipf-skewed shares."""
    rng = np.random.default_rng([seed, 3])
    n_bench, n_clean = BENCH_DOCS, CLEAN_DOCS
    banks = {lang: np.array(_word_bank(rng, VOCAB)) for lang, _ in LANGS}
    stops = np.array(STOPWORDS)
    lang_names = [lang for lang, _ in LANGS]
    lang_p = np.array([p for _, p in LANGS])

    def doc(lang: str, n_words: int) -> list[str]:
        words = rng.choice(banks[lang], n_words)
        pos = rng.choice(n_words, max(3, n_words // 10), replace=False)
        picks = rng.choice(stops, len(pos))
        picks[:2] = rng.choice(stops, 2, replace=False)  # Gopher wants >= 2 distinct
        words[pos] = picks
        return words.tolist()

    texts: list[list[str]] = []
    langs: list[str] = []
    for _ in range(n_bench + n_clean):
        lang = str(rng.choice(lang_names, p=lang_p))
        texts.append(doc(lang, int(rng.integers(60, 120))))
        langs.append(lang)
    clean = np.arange(n_bench, n_bench + n_clean)
    kinds: list[str] = ["orig"] * len(texts)

    def add(words: list[str], lang: str, kind: str) -> int:
        texts.append(words)
        langs.append(lang)
        kinds.append(kind)
        return len(texts) - 1

    # disjoint sources, so exact dedup never removes a near pair's original
    picks = rng.permutation(clean)
    dup_src, near_src = picks[: n_clean // 20], picks[n_clean // 20: n_clean // 20 + n_clean // 30]
    # exact copies (case change only: the fingerprint normalizes it away)
    for src in dup_src:
        add([w.upper() if i == 0 else w for i, w in enumerate(texts[src])],
            langs[src], f"dup:{src}")
    # near copies: one word replaced
    for src in near_src:
        words = list(texts[src])
        words[int(rng.integers(0, len(words)))] = "zqx"
        add(words, langs[src], f"near:{src}")
    # contaminated: a 40-word benchmark passage inside a fresh document
    for _ in range(n_clean // 30):
        b = int(rng.integers(0, n_bench))
        start = int(rng.integers(0, len(texts[b]) - 40))
        lang = langs[b]
        add(doc(lang, 30) + texts[b][start:start + 40] + doc(lang, 30), lang, "contam")
    # low quality: too short for the Gopher n_words >= 50 rule
    for _ in range(n_clean // 20):
        lang = str(rng.choice(lang_names, p=lang_p))
        add(doc(lang, 25), lang, "short")

    # shuffle positions so ids carry no structure beyond the bench slice
    order = np.concatenate([np.arange(n_bench),
                            n_bench + rng.permutation(len(texts) - n_bench)])
    new_id = {int(old): i for i, old in enumerate(order)}
    ids = list(range(len(texts)))
    out_texts = [" ".join(texts[int(old)]) for old in order]
    out_langs = [langs[int(old)] for old in order]
    out_kinds = [kinds[int(old)] for old in order]
    near_pairs = set()
    for i, k in enumerate(out_kinds):
        if k.startswith("near:"):
            a = new_id[int(k.split(":")[1])]
            near_pairs.add((min(a, i), max(a, i)))
    return CurateData(
        ids=ids, texts=out_texts, langs=out_langs,
        unique_count=len({" ".join(t.lower().split()) for t in out_texts}),
        contaminated={i for i, k in enumerate(out_kinds) if k == "contam"},
        low_quality={i for i, k in enumerate(out_kinds) if k == "short"},
        near_pairs=near_pairs,
    )


def digest(obj) -> str:
    """sha256 over a canonical JSON rendering of generated data."""
    def conv(o):
        if isinstance(o, np.ndarray):
            return {"dtype": str(o.dtype), "shape": o.shape, "hex": o.tobytes().hex()}
        if isinstance(o, (set, frozenset)):
            return sorted(o)
        if hasattr(o, "__dataclass_fields__"):
            return {k: getattr(o, k) for k in o.__dataclass_fields__}
        raise TypeError(type(o))
    return hashlib.sha256(json.dumps(obj, default=conv, sort_keys=True).encode()).hexdigest()
