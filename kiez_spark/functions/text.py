"""Text primitives as Spark SQL column expressions.

Shared by the text-analysis / curation operators and the ER blocking keys
([ext] training-data-pipeline set). Everything here has an exact DuckDB-SQL
counterpart (same md5-based token hashing: Spark
``conv(substr(md5(s),1,15),16,10)`` equals DuckDB
``('0x'||substr(md5(s),1,15))::bigint`` — verified bit-for-bit), so every
operator built on these is oracle-checkable. The dedup kernels
(operators/dedup.py) compute the same token hash worker-side.

Hash family for MinHash: h_i(x) = (a_i * (x mod p) + b_i) mod p over the
60-bit md5 token hash of the shingle, p = 2^31-ish prime 1_000_000_007;
(a_i, b_i) are seeded odd constants. All arithmetic stays < 2^63 (ANSI-safe).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MINHASH_P = 1_000_000_007


def minhash_params(n_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs; a odd, both < 2^21 to bound products."""
    params = []
    state = seed
    for _ in range(n_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        a = (state >> 20) % 1_000_000 * 2 + 1
        b = state % 1_000_000
        params.append((a, b))
    return params


def tokens(col: Column) -> Column:
    """Whitespace tokens of lowercased, whitespace-normalized text."""
    return F.split(
        F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")), " "
    )


def shingles(tok: Column, n: int = 3) -> Column:
    """Word n-gram shingle strings; empty array when fewer than n tokens."""
    return F.when(
        F.size(tok) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(tok) - n),
            lambda i: F.concat_ws(" ", F.slice(tok, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def token_hash(s: Column) -> Column:
    """60-bit integer hash of a string via md5 (cross-engine stable)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def rolling_fingerprint(tok: Column, p: int = MINHASH_P) -> Column:
    """Order-sensitive polynomial rolling hash over token hashes:
    acc = (acc * 31 + H(t)) mod p."""
    return F.aggregate(
        tok,
        F.lit(0).cast("bigint"),
        lambda acc, t: (acc * 31 + (token_hash(t) % F.lit(p))) % F.lit(p),
    )


# Minimal deterministic stopword lists for the lang-id heuristic.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "a", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "se", "del", "las"],
    "de": ["der", "die", "und", "das", "ist", "von", "den", "mit", "nicht", "ein"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "du", "que"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "他", "这", "不"],
}


def stopword_hits(tok: Column, lang: str) -> Column:
    """Number of tokens that are stopwords of ``lang`` (multiplicity counts)."""
    wl = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tok, lambda t: F.array_contains(wl, t)))
