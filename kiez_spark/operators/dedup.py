"""Deduplication operators over a documents table ([ext] training-data set).

The standard large-corpus dedup ladder, cheapest-first:

- exact:        groupBy sha256(text); one shuffle of (hash, id)
- minhash-LSH:  shingle -> minhash signature -> banded bucket join ->
                exact-Jaccard verification of surviving pairs only
- simhash:      60-bit fingerprints, banded join, Hamming filter
- ngram-jaccard: inverted-index join on shingles (exact, quadratic within
                a shingle's posting list — document-frequency cap bounds
                hot shingles, the classic skew guard); or the LOSSLESS
                prefix-filtered variant (jaccard_prefix_pairs, AllPairs/
                PPJoin) when completeness matters more than the cap
- winnowing:    MOSS character k-gram fingerprints, inverted-index join
- embedding:    cosine near-dup via the LSH tier (operators/lsh.py)

Each text operator has one Spark implementation: an Arrow ``mapInPandas``
kernel (shingle+MinHash, SimHash, winnow) that hashes byte spans with the
vectorized MD5 of functions/md5vec. The shingle and SimHash kernels share
one normalization and token-span helper (_normalized_token_spans). Their
references are the DuckDB oracle rows (driver_queries.py) and the
pure-Python references in the tests.

Scale notes: every operator is join+agg only (no driver collect); banded
joins shuffle on the band key so AQE skew-split applies; the df-cap on the
inverted index keeps the worst posting list O(cap^2).
"""

from __future__ import annotations

import re
import warnings

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kiez_spark.functions import text as T


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(dup_hash, n_docs, keep_id, doc_ids) for groups with >1 member;
    keep_id = min id (the canonical survivor)."""
    h = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.sha2(F.col(text_col), 256).alias("dup_hash"),
    )
    return (
        h.groupBy("dup_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def _spread(df: DataFrame) -> DataFrame:
    """Repartition an under-partitioned batch input (a scan with few file
    splits) to the cluster's parallelism, so a kernel stage does not run
    on a couple of cores; a no-op on well-partitioned inputs (the same
    guard knn_join_pandas uses). Streaming inputs pass through: ``.rdd``
    raises on them."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


_WS = re.compile(r"\s+", re.ASCII)


def _normalized_token_spans(texts):
    """(buf, starts, ends, tok_per_doc) — the token byte spans of a batch
    of texts under the one normalization the shingle and simhash kernels
    share, the worker-side twin of ``T.tokens``: lowercase, ``\\s+`` ->
    " ", trim.

    ``buf`` is the batch's normalized texts concatenated as utf-8 bytes;
    token i of the batch is ``buf[starts[i]:ends[i]]``, in document order,
    and document d owns ``tok_per_doc[d]`` consecutive tokens. A token is
    the byte span between 0x20s, exact for ANY unicode text because 0x20
    never occurs inside a multi-byte utf-8 sequence. Null text has no
    tokens (``tok_per_doc == 0`` is the null mask); non-null text that
    normalizes to "" is one empty token, as Spark's ``split("") ==
    [""]``.

    Cross-engine normalization pins: Python ``\\s`` is pinned to
    re.ASCII (Java's class); ``str.lower()`` twins UTF8String.toLowerCase
    — identical on ASCII, and elsewhere the JVM's en-US mapping, which
    session.get_spark pins; Spark's ``trim`` strips 0x20 only, =
    ``.strip(" ")``."""
    nd = len(texts)
    encs = []
    nonnull = np.ones(nd, bool)
    for i, t in enumerate(texts):
        if t is None:
            nonnull[i] = False
            encs.append(b"")
            continue
        s = t.lower()
        # the \s+ -> " " collapse is an identity unless the text holds a
        # non-space whitespace char or a double space — C-speed `in`
        # scans skip the 14 us/doc regex for the (overwhelmingly common)
        # already-normalized case
        if (
            "\t" in s
            or "\n" in s
            or "\x0b" in s
            or "\x0c" in s
            or "\r" in s
            or "  " in s
        ):
            s = _WS.sub(" ", s)
        encs.append(s.strip(" ").encode("utf-8"))
    off = np.zeros(nd + 1, np.int64)
    np.cumsum(np.fromiter(map(len, encs), np.int64, nd), out=off[1:])
    buf = np.frombuffer(b"".join(encs), dtype=np.uint8)
    sp = np.flatnonzero(buf == 0x20)
    # normalized docs have no leading/trailing/double spaces, so tokens
    # per doc = spaces-in-doc + 1; sorting the boundary streams gives
    # per-doc order because each doc's spans lie inside its own bytes
    tok_per_doc = np.where(
        nonnull,
        np.bincount(np.searchsorted(off[1:], sp, side="right"), minlength=nd)
        + 1,
        0,
    )
    starts = np.sort(np.concatenate([off[:-1][nonnull], sp + 1]))
    ends = np.sort(np.concatenate([sp, off[1:][nonnull]]))
    return buf, starts, ends, tok_per_doc


def _md5_spans_60bit(buf, starts, lens):
    """60-bit md5 (``T.token_hash``) of each byte span
    ``buf[starts[i]:starts[i] + lens[i]]``. Spans are grouped by length
    and each group's stacked matrix is hashed with the vectorized
    single-block MD5 (functions/md5vec.md5_rows_60bit); empty spans and
    spans over 55 bytes (multi-block MD5) fall back to hashlib per span,
    bit-identical by construction."""
    import hashlib

    from kiez_spark.functions.md5vec import md5_rows_60bit

    out = np.empty(len(starts), np.int64)
    if not len(starts):
        return out
    order = np.argsort(lens, kind="stable")
    sl = lens[order]
    cuts = [0, *(np.flatnonzero(np.diff(sl)) + 1), len(sl)]
    mv = memoryview(buf)
    for lo, hi in zip(cuts[:-1], cuts[1:]):
        idx = order[lo:hi]
        ln = int(sl[lo])
        if 0 < ln <= 55:
            out[idx] = md5_rows_60bit(buf[starts[idx][:, None] + np.arange(ln)])
        else:
            out[idx] = [
                int.from_bytes(hashlib.md5(mv[s0 : s0 + ln]).digest()[:8], "big")
                >> 4
                for s0 in starts[idx]
            ]
    return out


def _shingle_sig_kernel(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    n_hashes: int = 0,
    seed: int = 42,
) -> DataFrame:
    """(doc_id, sh ARRAY<BIGINT>[, sig ARRAY<BIGINT>]) — the distinct
    60-bit-hashed word n-gram shingle set, optionally fused with its
    ``n_hashes`` minhash signature, in one Arrow ``mapInPandas`` pass.

    Shingles are hashed (md5-based token_hash, cross-engine stable) at
    creation: every downstream consumer — minhash signatures, exact
    Jaccard verification, inverted-index posting lists — then moves
    8-byte ints instead of ~20-byte shingle strings, shrinking the
    verification shuffle (the dominant byte-mover of the dedup ladder at
    scale) ~2.5x and making set intersections integer compares. Two
    shingles colliding at 60 bits would merge a set element (P ~
    n_shingles^2 / 2^61 per doc, ~4e-15 at 100 shingles); the DuckDB
    oracles apply the same hash, so cross-engine parity is exact.

    Why it is fast (guide §4.2): a word n-gram shingle string is exactly
    a BYTE SUBSTRING of the normalized text (tokens joined by single
    spaces), so the kernel never builds a shingle string — it hashes the
    span from the first token's start to the last token's end
    (_normalized_token_spans, _md5_spans_60bit); per-doc
    first-occurrence distinct (array_distinct's order) and the signature
    minima (np.minimum.reduceat over (a*h+b) % p) are vectorized over
    the whole batch. At shingle_n=1, text that normalizes to "" is one
    md5('') shingle. a*h+b stays < 2^51 (a < 2^21, h mod p < 2^30), so
    int64 signature arithmetic cannot overflow. Checked against a
    pure-Python reference in tests/test_dedup_text.py and by every
    shingle-consuming DuckDB oracle row."""
    n = int(shingle_n)
    if n < 1:
        raise ValueError(f"shingle_n must be >= 1, got {shingle_n}")
    params = T.minhash_params(n_hashes, seed) if n_hashes else []
    out_schema = "doc_id bigint, sh array<bigint>"
    if n_hashes:
        out_schema += ", sig array<bigint>"
    d0 = df.select(
        F.col(id_col).cast("bigint").alias("_id"), F.col(text_col).alias("_txt")
    )

    def kernel(batches):
        import pandas as pd

        p = T.MINHASH_P
        for pdf in batches:
            nd = len(pdf)
            buf, starts, ends, tok_per_doc = _normalized_token_spans(
                pdf["_txt"]
            )
            # m shingles per doc; shingle spans never cross docs because
            # each doc only indexes its own tokens
            m = np.where(tok_per_doc >= n, tok_per_doc - (n - 1), 0)
            total_m = int(m.sum())
            m_off = np.zeros(nd + 1, np.int64)
            np.cumsum(m, out=m_off[1:])
            tok_off = np.zeros(nd + 1, np.int64)
            np.cumsum(tok_per_doc, out=tok_off[1:])
            tidx = np.repeat(tok_off[:-1] - m_off[:-1], m) + np.arange(total_m)
            sh_start = starts[tidx]
            hashes = _md5_spans_60bit(
                buf, sh_start, ends[tidx + (n - 1)] - sh_start
            )
            doc_of_sh = np.repeat(np.arange(nd), m)
            keep = (
                ~pd.DataFrame({"d": doc_of_sh, "h": hashes})
                .duplicated()
                .to_numpy()
            )
            kept = hashes[keep]
            k_off = np.zeros(nd + 1, np.int64)
            np.cumsum(np.bincount(doc_of_sh[keep], minlength=nd), out=k_off[1:])
            cols = {
                "doc_id": pdf["_id"].to_numpy(),
                "sh": [kept[k_off[i] : k_off[i + 1]] for i in range(nd)],
            }
            if n_hashes:
                # min over the multiset == min over the distinct set, so
                # the signature reduces the pre-distinct hash stream
                sig = np.full((nd, n_hashes), p, np.int64)
                if total_m:
                    hmod = hashes % p
                    ne = m > 0
                    for j, (a, b) in enumerate(params):
                        sig[ne, j] = np.minimum.reduceat(
                            (a * hmod + b) % p, m_off[:-1][ne]
                        )
                cols["sig"] = list(sig)
            yield pd.DataFrame(cols)

    return _spread(d0).mapInPandas(kernel, schema=out_schema)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(doc_id, sig ARRAY<BIGINT>[n_hashes]) — shingling and the
    signature minima fused in one Arrow pass (_shingle_sig_kernel); an
    empty shingle set signs as p, an impossible real value."""
    return _shingle_sig_kernel(
        df, id_col, text_col, shingle_n, n_hashes, seed
    ).select("doc_id", "sig")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs (src_id, tgt_id, jaccard) with exact-Jaccard
    verification: banding surfaces candidates (any band equal), the
    shingle-set join verifies. src_id < tgt_id."""
    assert n_hashes % bands == 0
    # the (sh, sig) table feeds the banding AND both verification sides —
    # persist so the shingle kernel runs once, not three times. Lifetime:
    # the cache entry must outlive the returned LAZY plan, so it is not
    # unpersisted here; it is MEMORY_AND_DISK-LRU-evicted under pressure,
    # and batch drivers that chain many dedup jobs should
    # spark.catalog.clearCache() between them.
    shingled = _shingle_sig_kernel(
        df, id_col, text_col, shingle_n, n_hashes, seed
    ).persist()
    banded = _banded_keys(shingled, n_hashes, bands)
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("src_id"), F.col("b.doc_id").alias("tgt_id")
        )
        .distinct()
    )
    a = shingled.select(F.col("doc_id").alias("src_id"), F.col("sh").alias("sha_"))
    b = shingled.select(F.col("doc_id").alias("tgt_id"), F.col("sh").alias("shb_"))
    inter = F.size(F.array_intersect(F.col("sha_"), F.col("shb_")))
    union = F.size(F.col("sha_")) + F.size(F.col("shb_")) - inter
    return (
        cand.join(a, "src_id")
        .join(b, "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            F.when(union > 0, inter.cast("double") / union)
            .otherwise(F.lit(0.0))
            .alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _banded_keys(sigs: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """(doc_id, band, band_key) — one row per band of the signature."""
    rows_per_band = n_hashes // bands
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            "_",
                            *[
                                F.col("sig")[b * rows_per_band + r].cast("string")
                                for r in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_key"),
    )


def build_minhash_index(
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(doc_id, sh, sig) — the reusable corpus-side dedup index: distinct
    shingle sets (the verification side) plus the minhash signature (the
    banding side). Write it with ``save_minhash_index`` once per corpus
    version; every increment then joins against the stored table instead
    of re-shingling the corpus (the S6 index-persistence pattern,
    operators/lsh.py save_index, applied to the dedup ladder)."""
    return _shingle_sig_kernel(
        corpus_df, id_col, text_col, shingle_n, n_hashes, seed
    )


def save_minhash_index(index_df: DataFrame, path: str) -> None:
    index_df.write.mode("overwrite").parquet(path)


def load_minhash_index(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def minhash_lsh_join(
    new_df: DataFrame,
    corpus_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric near-dup join: (new_id, corpus_id, jaccard >= threshold).

    The daily-increment dedup pattern — a new document batch is checked
    against an existing corpus WITHOUT re-pairing the corpus with itself:
    candidates are banded-signature equi-join hits between the two sides
    only (corpus x corpus never materializes), then exact-Jaccard
    verified. At scale the corpus side's banded keys are the persisted
    signature index (operators/lsh.py stores signatures the same way);
    the corpus shuffle is the index build, paid once per corpus version,
    while each increment shuffles only its own batch to the band keys.
    Ids may overlap between sides (separate namespaces) — pairs are NOT
    id-ordered, and a doc appearing verbatim on both sides joins to
    itself (jaccard 1.0); filter on ids upstream if that is unwanted.

    Pass ``corpus_index`` (a ``build_minhash_index`` table, possibly
    ``load_minhash_index``-ed from parquet) instead of ``corpus_df`` to
    skip the corpus-side shingling + signature work entirely — the
    corpus pays its scan once per version, each increment only its own.
    ``n_hashes``/``shingle_n``/``seed`` must match the index build.

    Cache lifetime (the minhash_lsh_pairs convention): each side's
    freshly built index is persisted because it feeds both the banding
    and the verification join of the returned LAZY plan, so it cannot be
    unpersisted here. Entries are MEMORY_AND_DISK LRU-evicted under
    pressure, but a driver looping many increments in one session should
    ``spark.catalog.clearCache()`` between them — note Spark also REUSES
    a persisted frame for any canonically-equal plan, so an un-cleared
    cache can silently serve a previous increment's index to a re-built
    (identical) plan.
    """
    assert n_hashes % bands == 0
    assert (corpus_df is None) != (corpus_index is None), (
        "pass exactly one of corpus_df / corpus_index"
    )

    def side(df: DataFrame) -> tuple[DataFrame, DataFrame]:
        idx = build_minhash_index(
            df, id_col, text_col, n_hashes, shingle_n, seed
        ).persist()
        return idx, _banded_keys(idx, n_hashes, bands)

    new_sh, new_banded = side(new_df)
    if corpus_index is not None:
        corp_sh = corpus_index
        corp_banded = _banded_keys(corpus_index, n_hashes, bands)
    else:
        corp_sh, corp_banded = side(corpus_df)
    cand = (
        new_banded.alias("a")
        .join(corp_banded.alias("b"), ["band", "band_key"])
        .select(
            F.col("a.doc_id").alias("new_id"), F.col("b.doc_id").alias("corpus_id")
        )
        .distinct()
    )
    a = new_sh.select(F.col("doc_id").alias("new_id"), F.col("sh").alias("sha_"))
    b = corp_sh.select(
        F.col("doc_id").alias("corpus_id"), F.col("sh").alias("shb_")
    )
    inter = F.size(F.array_intersect(F.col("sha_"), F.col("shb_")))
    union = F.size(F.col("sha_")) + F.size(F.col("shb_")) - inter
    return (
        cand.join(a, "new_id")
        .join(b, "corpus_id")
        .select(
            "new_id",
            "corpus_id",
            F.when(union > 0, inter.cast("double") / union)
            .otherwise(F.lit(0.0))
            .alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.7,
    max_doc_freq: int = 1000,
) -> DataFrame:
    """Exact Jaccard >= threshold pairs via an inverted-index self-join.

    Shingles appearing in more than ``max_doc_freq`` docs are dropped from
    the index (not from the denominator) — the classic df-cap that bounds
    the hottest posting list's quadratic blowup; with threshold t, a pair
    sharing ONLY capped shingles is unreachable, which is acceptable for
    near-dup mining (capped shingles are boilerplate by definition).
    """
    shingled = _shingle_sig_kernel(
        df, id_col, text_col, shingle_n
    ).withColumn("n_sh", F.size("sh"))
    posting = shingled.select(
        "doc_id", "n_sh", F.explode("sh").alias("shingle")
    )
    df_counts = posting.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    posting = posting.join(
        df_counts.filter(F.col("df") <= max_doc_freq), "shingle"
    )
    common = (
        posting.alias("a")
        .join(posting.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("src_id"),
            F.col("b.doc_id").alias("tgt_id"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac = F.col("common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("common")
    )
    return common.select(
        "src_id", "tgt_id", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """(src_id, tgt_id, jaccard) — EXACT Jaccard >= threshold pairs via
    LOSSLESS prefix filtering (AllPairs/PPJoin family, Bayardo et al.,
    WWW 2007): provably the same output as the brute-force inverted-
    index join with NO df-cap (the DuckDB oracle row re-certifies
    losslessness every round), at a fraction of the candidate pairs.

    Principle: order every shingle set by a global canonical order
    (ascending document frequency, rarest first — ties on the shingle
    hash), and index only each set's PREFIX of length
    n - ceil(t*n) + 1. If J(A,B) >= t then |A∩B| >= t*max(|A|,|B|), so
    fewer than that many elements of either set can be skipped — two
    qualifying sets MUST collide on at least one prefix token. Rarest-
    first ordering makes prefix posting lists the shortest ones, which
    is what collapses the candidate count vs. full-posting joins.
    A size filter (min(n) >= t*max(n), another J>=t necessity) prunes
    candidates before verification; survivors are verified with the
    exact set intersection.

    vs ``ngram_jaccard_pairs``: that operator bounds the hottest posting
    list with a df-cap — cheap but LOSSY (pairs sharing only capped
    shingles are unreachable). This one is exact at any scale: the cap
    is replaced by the mathematics of the prefix bound. The extra cost
    is one global df aggregation and a per-doc sort of the shingle set
    (a window over the exploded postings).

    100 TB shape: df agg and per-doc rank are map-side-combinable /
    single-exchange; the candidate join shuffles only prefix postings
    (sum over docs of (1-t)*|set|+1 entries). Measured on the sf0.01
    driver corpus + mutated twins at t=0.6: 45975 full-posting
    candidate pairs -> 910 after prefix+size filtering (98% fewer
    verifications), output identical."""
    from pyspark.sql import Window

    t = float(threshold)
    if not 0.0 < t <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    # persisted because the shingle table feeds the posting/df/prefix
    # chain AND both verification sides. Lifetime (the minhash_lsh_pairs
    # cache convention): the entry must outlive the returned LAZY plan,
    # so it is not unpersisted here — MEMORY_AND_DISK-LRU-evicted under
    # pressure; drivers chaining many dedup jobs should
    # spark.catalog.clearCache() between them.
    shingled = (
        _shingle_sig_kernel(df, id_col, text_col, shingle_n)
        .withColumn("n_sh", F.size("sh"))
        .persist()
    )
    posting = shingled.select(
        "doc_id", "n_sh", F.explode("sh").alias("shingle")
    )
    dfreq = posting.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    # canonical rank of each shingle within its doc: rarest-first
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    ranked = posting.join(dfreq, "shingle").withColumn(
        "pos", F.row_number().over(w)
    )
    # prefix length n - ceil(t*n) + 1, computed as -floor(-(t*n) + eps):
    # fp(t*n) can land a hair ABOVE the true rational (e.g.
    # fp(0.55*100) = 55.000000000000007), which would overshoot the ceil
    # and shorten the prefix below the provable bound — the 1e-9 pad
    # (the er._jw_upper_bound epsilon convention) errs toward a LONGER
    # prefix; extra candidates are exactly verified downstream, so the
    # pad can only add work, never results
    prefix_len = (
        F.col("n_sh")
        + F.lit(1)
        - (-F.floor(F.lit(-t) * F.col("n_sh") + F.lit(1e-9))).cast("int")
    )
    prefix = ranked.filter(F.col("pos") <= prefix_len).select(
        "doc_id", "n_sh", "shingle"
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        # size filter: J >= t forces min(|A|,|B|) >= t * max(|A|,|B|);
        # padded by the same 1e-9: an exact-boundary pair (t=0.55,
        # |A|=55, |B|=100) must not be pruned because fp(t*max) rounded
        # up — survivors are exactly verified, so the pad is lossless
        .filter(
            F.least("a.n_sh", "b.n_sh").cast("double")
            >= F.lit(t) * F.greatest("a.n_sh", "b.n_sh") - F.lit(1e-9)
        )
        .select(
            F.col("a.doc_id").alias("src_id"),
            F.col("b.doc_id").alias("tgt_id"),
        )
        .distinct()
    )
    a = shingled.select(F.col("doc_id").alias("src_id"), F.col("sh").alias("sha_"))
    b = shingled.select(F.col("doc_id").alias("tgt_id"), F.col("sh").alias("shb_"))
    inter = F.size(F.array_intersect(F.col("sha_"), F.col("shb_")))
    union = F.size(F.col("sha_")) + F.size(F.col("shb_")) - inter
    return (
        cand.join(a, "src_id")
        .join(b, "tgt_id")
        .select(
            "src_id",
            "tgt_id",
            F.when(union > 0, inter.cast("double") / union)
            .otherwise(F.lit(0.0))
            .alias("jaccard"),
        )
        .filter(F.col("jaccard") >= t)
    )


def _winnow_fps_kernel(
    df, key_col, text_col: str, k: int, window: int, with_counts: bool = False
):
    """(key, fp[, n_fp]) — distinct winnowing fingerprints keyed by an
    arbitrary expression (bigint doc id, string repo/group, ...), one
    row per fingerprint: the md5-based 60-bit hashes of the normalized
    text's character k-grams, computed with a vectorized numpy MD5 over
    the batch's concatenated ASCII bytes (functions/md5vec, ~4x the
    per-gram hashlib rate; non-ASCII docs fall back to hashlib per gram)
    + numpy sliding-window minima in a ``mapInPandas`` kernel.

    Window minima are kept as a distinct VALUE set (no positions), which
    makes the classic rightmost-min tie rule irrelevant: every tie rule
    selects the same minimum value per window, so the set is exactly
    SQL-expressible (the DuckDB oracle replays it with a list
    comprehension). A doc with fewer than ``window`` k-grams yields ONE
    fingerprint (the global min), so short docs stay indexable.

    ``with_counts`` additionally emits each doc's total fingerprint
    count ``n_fp`` — free at generation (len of the minima set), saving
    index builders a full groupBy + self-join over the posting table.

    Cross-engine normalization (DuckDB twin: lower(regexp_replace(
    coalesce(text, ''), '\\s+', '', 'g'))): Python's ``\\s`` is UNICODE
    by default but Java's and DuckDB's are ASCII-only — re.ASCII pins
    the same class; grams are CHARACTER slices (encode each gram, never
    the byte string — the ASCII fast path only engages when chars ==
    bytes); int.from_bytes(digest[:8]) >> 4 equals the first 15 hex
    digits of the md5 (token_hash's 60-bit convention)."""
    d0 = df.select(key_col.alias("_key"), F.col(text_col).alias("_txt"))
    key_dt = d0.schema["_key"].dataType.simpleString()
    out_schema = f"_key {key_dt}, fp bigint"
    if with_counts:
        out_schema += ", n_fp bigint"

    def kernel(batches):
        import hashlib

        import pandas as pd

        from kiez_spark.functions.md5vec import md5_windows_60bit

        md5 = hashlib.md5
        swv = np.lib.stride_tricks.sliding_window_view

        def minima(hs, m):
            if m < window:
                return hs.min(keepdims=True)
            return np.unique(swv(hs, window).min(axis=1))

        for pdf in batches:
            out_keys: list = []   # one entry per DOC; repeated vectorized
            out_counts: list = []
            fps_out: list = []
            # ASCII fast path: concatenate every pure-ASCII normalized
            # doc into ONE byte buffer and hash ALL k-grams in a single
            # vectorized-MD5 pass (md5vec, ~4x the hashlib loop); grams
            # never cross doc boundaries because each doc only reads the
            # window positions inside its own byte span. A doc's k-grams
            # are CHARACTER slices, so any doc whose utf-8 encoding is
            # longer than its char count falls back to the per-gram
            # hashlib loop (bit-identical by construction either way).
            fast_keys: list = []
            fast_lens: list = []
            fast_parts: list = []
            for key, text in zip(pdf["_key"], pdf["_txt"]):
                t = _WS.sub("", (text or "").lower())
                m = len(t) - k + 1
                if m < 1:
                    continue
                bts = t.encode("utf-8")
                if len(bts) == len(t):
                    fast_keys.append(key)
                    fast_lens.append(len(bts))
                    fast_parts.append(bts)
                    continue
                hs = np.fromiter(
                    (
                        int.from_bytes(
                            md5(t[i : i + k].encode("utf-8")).digest()[:8],
                            "big",
                        )
                        >> 4
                        for i in range(m)
                    ),
                    dtype=np.int64,
                    count=m,
                )
                fps = minima(hs, m)
                out_keys.append(key)
                out_counts.append(len(fps))
                fps_out.append(fps)
            if fast_keys:
                buf = np.frombuffer(b"".join(fast_parts), dtype=np.uint8)
                hs_all = md5_windows_60bit(buf, k)
                off = 0
                for key, ln in zip(fast_keys, fast_lens):
                    m = ln - k + 1
                    fps = minima(hs_all[off : off + m], m)
                    out_keys.append(key)
                    out_counts.append(len(fps))
                    fps_out.append(fps)
                    off += ln
            # output assembly is vectorized: per-doc keys/counts repeat
            # via np.repeat instead of building multi-million-element
            # python lists (list.extend of [key]*n was ~a third of the
            # kernel's wall at 6.9M output rows)
            counts = np.asarray(out_counts, dtype=np.int64)
            cols = {
                "_key": pd.Series(
                    np.repeat(np.asarray(out_keys), counts)
                    if out_keys
                    else []
                ),
                "fp": np.concatenate(fps_out)
                if fps_out
                else np.array([], dtype=np.int64),
            }
            if with_counts:
                cols["n_fp"] = np.repeat(counts, counts)
            yield pd.DataFrame(cols)

    return _spread(d0).mapInPandas(kernel, schema=out_schema)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 6,
    with_counts: bool = False,
) -> DataFrame:
    """(doc_id, fp) — distinct winnowing fingerprints per document
    (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the MOSS code-clone
    algorithm): hash every character k-gram of the normalized text
    (lowercase, whitespace stripped), then keep the minimum hash of each
    sliding window of ``window`` consecutive k-grams, deduplicated.

    Guarantee: two documents sharing a normalized substring of length
    >= window + k - 1 share at least one fingerprint; no match shorter
    than k is ever detected. Expected fingerprint density is
    2/(window+1) of the k-gram count, so the posting table this feeds is
    ~3x smaller than a full shingle index at window=6 — the winnowing
    selling point at 10^12-file scale. Documents shorter than k
    normalized characters produce no fingerprints (standard winnowing:
    below the guarantee threshold nothing is detectable anyway).

    Computed by one Arrow ``mapInPandas`` kernel (_winnow_fps_kernel:
    vectorized MD5 per gram + numpy sliding minima). Reference analogue: kiez has no local-fingerprint operator; this
    extends the dedup ladder (exact sha / minhash / simhash / n-gram)
    with the partial-overlap detector the source-code north star
    needs.

    ``with_counts=True`` adds the per-doc fingerprint total ``n_fp`` to
    every row — free at generation (the minima-set size), so index
    builders and pair miners skip a full posting-table groupBy +
    self-join (guide §2.4: remove shuffles outright)."""
    return _winnow_fps_kernel(
        df, F.col(id_col).cast("bigint"), text_col, k, window, with_counts
    ).withColumnRenamed("_key", "doc_id")


def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 6,
    min_common: int = 2,
    min_overlap: float = 0.0,
    max_doc_freq: int = 1000,
) -> DataFrame:
    """(a_id, b_id, common, overlap) — candidate clone pairs sharing
    >= ``min_common`` winnowing fingerprints AND overlap coefficient
    common/min(|A|, |B|) >= ``min_overlap`` (the clone-detection
    containment measure: a small file pasted into a large one still
    scores ~1.0, where Jaccard would dilute it). The overlap filter is
    applied to the UNROUNDED f64 ratio — an exact integer/integer
    divide, so the cross-engine compare has no rounding boundary.

    Same scale discipline as ngram_jaccard_pairs: inverted-index
    self-join with a df-cap — fingerprints appearing in more than
    ``max_doc_freq`` documents (license headers, boilerplate) are
    dropped from the index but NOT from the per-doc totals, bounding
    the hottest posting list's quadratic blowup while keeping overlap
    a true fraction of the full fingerprint set."""
    # the fingerprint table feeds the per-doc totals, the df-cap counts
    # AND both sides of the self-join — persist so the md5 k-gram stage
    # runs once, not four times (the minhash_lsh_pairs cache convention;
    # same lifetime caveat: the entry must outlive the returned lazy
    # plan, MEMORY_AND_DISK LRU handles pressure, and batch drivers
    # chaining many jobs should spark.catalog.clearCache() between them)
    posting = winnow_fingerprints(
        df, id_col, text_col, k, window, with_counts=True
    ).persist()
    df_counts = posting.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    posting = posting.join(
        df_counts.filter(F.col("df") <= max_doc_freq), "fp"
    )
    common = (
        posting.alias("a")
        .join(posting.alias("b"), "fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.col("a.n_fp").alias("na"),
            F.col("b.n_fp").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= min_common)
    )
    overlap = F.col("common").cast("double") / F.least("na", "nb")
    if min_overlap > 0.0:
        common = common.filter(overlap >= F.lit(float(min_overlap)))
    return common.select(
        "a_id", "b_id", "common", F.round(overlap, 6).alias("overlap")
    )


def winnow_group_pairs(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 8,
    window: int = 6,
    min_common: int = 2,
    min_overlap: float = 0.0,
    max_group_freq: int = 1000,
) -> DataFrame:
    """(a_grp, b_grp, common, overlap) — GROUP-level clone pairs (repo
    vs repo, crawl-source vs crawl-source): a group's fingerprint set is
    the distinct union of its documents' winnowing fingerprints, and
    overlap = common / min(|A|, |B|) measures how much of the smaller
    repo's fingerprinted content appears in the other — the
    fork/vendored-copy detector over the north-star source-code table
    (group by repo). Same inverted-index + df-cap discipline as
    winnow_pairs, with the cap on GROUP frequency (a fingerprint present
    in more than ``max_group_freq`` groups is ecosystem boilerplate).

    The distinct-union projection happens BEFORE the self-join, so a
    repo with a million files contributes each fingerprint once — the
    posting table is bounded by unique content, not file count."""
    # persist: feeds sized, the group-frequency cap and both join sides
    # (minhash_lsh_pairs cache convention — see winnow_pairs)
    fp = (
        _winnow_fps_kernel(
            df, F.col(group_col).cast("string"), text_col, k, window
        )
        .select(F.col("_key").alias("grp"), "fp")
        .distinct()
        .persist()
    )
    sized = fp.groupBy("grp").agg(F.count(F.lit(1)).alias("n_fp"))
    posting = fp.join(sized, "grp")
    gf = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("gf"))
    posting = posting.join(
        gf.filter(F.col("gf") <= max_group_freq), "fp"
    )
    common = (
        posting.alias("a")
        .join(posting.alias("b"), "fp")
        .filter(F.col("a.grp") < F.col("b.grp"))
        .groupBy(
            F.col("a.grp").alias("a_grp"),
            F.col("b.grp").alias("b_grp"),
            F.col("a.n_fp").alias("na"),
            F.col("b.n_fp").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= min_common)
    )
    overlap = F.col("common").cast("double") / F.least("na", "nb")
    if min_overlap > 0.0:
        common = common.filter(overlap >= F.lit(float(min_overlap)))
    return common.select(
        "a_grp", "b_grp", "common", F.round(overlap, 6).alias("overlap")
    )


def build_winnow_index(
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 6,
) -> DataFrame:
    """(doc_id, fp, n_fp) — the persisted corpus-side clone index: the
    winnowing posting table with each document's total fingerprint count
    alongside (so increments can compute the overlap coefficient without
    touching corpus text). Write once per corpus version with
    ``save_winnow_index``; each batch then joins against the stored
    postings instead of re-hashing the corpus — the same S6
    index-persistence pattern as build_minhash_index."""
    # n_fp rides along from the fingerprint stage (the minima-set size is
    # known at generation) — the former groupBy + self-join re-derived it
    # with two extra exchanges of the full posting table (guide §2.4)
    return winnow_fingerprints(
        corpus_df, id_col, text_col, k, window, with_counts=True
    )


def save_winnow_index(index_df: DataFrame, path: str) -> None:
    index_df.write.mode("overwrite").parquet(path)


def load_winnow_index(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def winnow_join(
    new_df: DataFrame,
    corpus_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 6,
    min_common: int = 2,
    min_overlap: float = 0.0,
    max_doc_freq: int = 1000,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric clone join: (new_id, corpus_id, common, overlap) for a
    new batch against an existing corpus — the daily-increment clone
    check. corpus x corpus pairs never materialize; each increment
    shuffles only its own batch postings to the fingerprint keys.

    Pass ``corpus_index`` (a ``build_winnow_index`` table, possibly
    ``load_winnow_index``-ed) instead of ``corpus_df`` to skip corpus
    re-hashing entirely. ``k``/``window`` must match the index build.

    The df-cap is computed over the CORPUS side only: corpus document
    frequency is frozen with the index version, so a pair's candidacy
    never depends on what else happens to share the batch — chained
    increments against one index version give identical pairs regardless
    of batch sizing. With corpus-df-capped fingerprints dropped from both
    sides' postings (not from n_fp), a batch x corpus pair is reported
    iff winnow_pairs on the combined corpus would report it under the
    same corpus-side cap.

    Ids may overlap between sides (separate namespaces) — pairs are NOT
    id-ordered; a doc present verbatim on both sides joins to itself
    with overlap 1.0."""
    # argument contract as a real exception, not an assert (stripped
    # under python -O, after which both-None reaches build_winnow_index
    # with an opaque AttributeError)
    if (corpus_df is None) == (corpus_index is None):
        raise ValueError("pass exactly one of corpus_df / corpus_index")
    if corpus_index is None:
        # a freshly built index feeds the hot-fp aggregate AND the corpus
        # join side — persist so the corpus md5 stage runs once (a LOADED
        # index is just a parquet scan and needs no cache)
        corpus_index = build_winnow_index(
            corpus_df, id_col, text_col, k, window
        ).persist()
    hot = (
        corpus_index.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .select("fp")
    )
    corp = corpus_index.join(hot, "fp", "left_anti").select(
        F.col("doc_id").alias("corpus_id"),
        "fp",
        F.col("n_fp").alias("nb"),
    )
    batch = build_winnow_index(new_df, id_col, text_col, k, window).select(
        F.col("doc_id").alias("new_id"), "fp", F.col("n_fp").alias("na")
    )
    common = (
        batch.join(corp, "fp")
        .groupBy("new_id", "corpus_id", "na", "nb")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= min_common)
    )
    overlap = F.col("common").cast("double") / F.least("na", "nb")
    if min_overlap > 0.0:
        common = common.filter(overlap >= F.lit(float(min_overlap)))
    return common.select(
        "new_id", "corpus_id", "common", F.round(overlap, 6).alias("overlap")
    )


def simhash_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
) -> DataFrame:
    """(doc_id, simhash BIGINT) — Charikar's SimHash over the md5 token
    hashes: bit b is set iff more tokens have bit b set than clear.

    One Arrow ``mapInPandas`` pass (no exploded-token shuffle, a plan of
    one node): the tokens of _normalized_token_spans, hashed by
    _md5_spans_60bit, then a per-bit in-place shift/mask/
    ``np.add.reduceat`` vote — deliberately NOT one (n_tokens, bits)
    unpacked matrix, whose first-touch page faults cost more than the
    votes. Null text has no tokens, hence simhash 0; text that
    normalizes to "" is one empty token whose md5('') bits ARE the vote,
    so its simhash is the 60-bit md5('') constant."""
    d0 = df.select(
        F.col(id_col).cast("bigint").alias("_id"), F.col(text_col).alias("_txt")
    )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            buf, starts, ends, tok_per_doc = _normalized_token_spans(
                pdf["_txt"]
            )
            hashes = _md5_spans_60bit(buf, starts, ends - starts)
            simhash = np.zeros(len(pdf), np.int64)
            ne = tok_per_doc > 0
            if ne.any():
                t_off = np.zeros(len(pdf) + 1, np.int64)
                np.cumsum(tok_per_doc, out=t_off[1:])
                ne_starts = t_off[:-1][ne]
                m = tok_per_doc[ne]
                sim_ne = np.zeros(len(m), np.int64)
                scratch = np.empty(len(hashes), np.int64)
                for b in range(bits):
                    np.right_shift(hashes, b, out=scratch)
                    np.bitwise_and(scratch, 1, out=scratch)
                    # bit b set iff the ±1 vote sum is > 0, i.e. ones
                    # outnumber zeros: 2*count_ones > n_tokens
                    sim_ne |= (
                        2 * np.add.reduceat(scratch, ne_starts) > m
                    ).astype(np.int64) << b
                simhash[ne] = sim_ne
            yield pd.DataFrame(
                {"doc_id": pdf["_id"].to_numpy(), "simhash": simhash}
            )

    return _spread(d0).mapInPandas(kernel, schema="doc_id bigint, simhash bigint")


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 6,
    bits: int = 60,
    bands: int | None = None,
) -> DataFrame:
    """(src_id, tgt_id, hamming) — pairs with Hamming(simhash) <=
    max_hamming, found by a banded equi-join on ``bands`` disjoint bit
    slices and verified exactly.

    Recall is complete whenever max_hamming < bands (pigeonhole: fewer
    differing bits than bands leave at least one band equal). The
    default ``bands = max_hamming + 1`` is the fewest bands that keep
    it complete; fewer bands miss pairs whose differing bits touch every
    band (e.g. a 2/2/1/1 split over 4 bands at max_hamming=6) in return
    for wider band keys and fewer candidates."""
    if bands is None:
        bands = max_hamming + 1
    band_bits = bits // bands
    fp = simhash_fingerprints(df, id_col, text_col, bits)
    banded = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), b * band_bits)
                    % F.lit(1 << band_bits)
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_key"),
    )
    return (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("src_id"),
            F.col("b.doc_id").alias("tgt_id"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


EXACT_NEARDUP_MAX_ROWS = 100_000


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str = "id",
    vec_col: str = "vec",
    max_cos_dist: float = 0.05,
    approx: bool | None = None,
    n_rows: int | None = None,
    **lsh_kwargs,
) -> DataFrame:
    """(src_id, tgt_id, cos_dist <= max) — exact expr join or LSH tier.

    ``approx=None`` (default) auto-selects: the exact O(n^2) cross join is
    only taken when the input is provably small (< EXACT_NEARDUP_MAX_ROWS);
    otherwise the LSH-bucketed tier runs (with a warning — recall is high
    but below 1) — the quadratic path must be opted into (approx=False)
    at scale. Auto-selection needs the input size: pass ``n_rows`` when
    you already know it, else an EAGER ``emb.count()`` job runs at
    plan-build time (callers chaining many dedup jobs should pass the
    hint or pin ``approx`` explicitly). The oracle query pins approx=False
    so the exact tier stays hash-checked; the approx tier's recall is
    gated in tests/test_recall_gates.py."""
    if approx is None:
        n = n_rows if n_rows is not None else emb.count()
        approx = n >= EXACT_NEARDUP_MAX_ROWS
        if approx:
            warnings.warn(
                f"embedding_neardup_pairs: input has {n} rows (>="
                f" {EXACT_NEARDUP_MAX_ROWS}); auto-selecting the"
                " approximate LSH tier. Pass approx=False to force the"
                " exact O(n^2) join.",
                stacklevel=2,
            )
    if approx:
        from kiez_spark.operators.lsh import lsh_candidates

        cands = lsh_candidates(
            emb, emb, "cosine", id_col=id_col, vec_col=vec_col,
            exclude_self=True, **lsh_kwargs,
        )
        return (
            cands.filter(F.col("dist") <= max_cos_dist)
            .filter(F.col("query_id") < F.col("cand_id"))
            .select(
                F.col("query_id").alias("src_id"),
                F.col("cand_id").alias("tgt_id"),
                F.col("dist").alias("cos_dist"),
            )
        )
    # per-id norms ride the vector projection so each of the O(n^2)
    # pairs pays ONE interpreted array traversal (the dot), not three;
    # the pair expression keeps cosine_distance's exact operand shape
    # (denom = l2(a)*l2(b), 1 - dot/denom), so the f64 results are
    # bit-identical (the lsh._rescore convention)
    from kiez_spark.functions.vectors import dot, l2_norm

    v = emb.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).withColumn("nrm", l2_norm(F.col("vec")))
    a, b = v.alias("a"), v.alias("b")
    denom = F.col("a.nrm") * F.col("b.nrm")
    cos_dist = F.when(denom == 0.0, F.lit(1.0)).otherwise(
        F.lit(1.0) - dot(F.col("a.vec"), F.col("b.vec")) / denom
    )
    return (
        a.crossJoin(b)
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("src_id"),
            F.col("b.id").alias("tgt_id"),
            cos_dist.alias("cos_dist"),
        )
        .filter(F.col("cos_dist") <= max_cos_dist)
    )
