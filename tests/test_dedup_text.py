"""Dedup + text-analysis operators over the driver-provided documents
table and planted synthetic dups."""

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from kiez_spark import synth
from kiez_spark.functions import text as T
from kiez_spark.operators import dedup as D
from kiez_spark.operators import text_analysis as TA

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def dup_docs(spark):
    """Synthetic docs with known near-dup clusters: reuse repos_files
    content as (doc_id, text)."""
    files = synth.repos_files(spark, n=200, cluster_size=4, dup_fraction=0.6)
    return files.select(
        F.col("row_id").alias("doc_id"), F.col("content").alias("text")
    ).cache(), files


def test_exact_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y"), (4, "a  B c")],
        "doc_id bigint, text string",
    )
    groups = D.exact_duplicates(df).collect()
    assert len(groups) == 1
    assert groups[0].doc_ids == [1, 2]  # 4 differs (case/whitespace kept)


def test_minhash_lsh_finds_planted_dups(spark, dup_docs):
    docs, files = dup_docs
    pairs = D.minhash_lsh_pairs(docs, threshold=0.5, n_hashes=16, bands=8)
    got = {(r.src_id, r.tgt_id) for r in pairs.collect()}
    gold = {(r.src_id, r.tgt_id) for r in synth.gold_pairs(files).collect()}
    recall = len(got & gold) / len(gold)
    precision = len(got & gold) / max(1, len(got))
    assert recall > 0.95, f"minhash recall {recall}"
    assert precision > 0.95, f"minhash precision {precision}"


_EDGE_TEXTS = [
    (1, None),
    (2, ""),
    (3, "   "),
    (4, "a"),
    (5, "a b"),
    (6, "a b c"),
    (7, "a  b\tc\nd e"),
    (8, " x y z "),
    (10, "ümlaut ünïcode tökens hërę extra words"),
    (11, "\x0bv\x0c f\r n q r"),
    (12, ("w" * 30 + " ") * 6),  # >55-byte shingles
    (13, "İstanbul CASE ſtraße test here now"),
    (14, "w" * 80),  # one >55-byte token
    (15, "dup dup dup dup dup dup"),
]


def py_tokens(text):
    """Reference tokenizer: lowercase, ASCII ``\\s+`` -> " ", trim
    spaces, split on " " — so text that normalizes to "" is [""]."""
    return (
        re.sub(r"\s+", " ", text.lower(), flags=re.ASCII).strip(" ").split(" ")
    )


def py_hash(s):
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def py_shingles(text, n):
    """Distinct hashed word n-gram shingles in first-occurrence order."""
    if text is None:
        return []
    tok = py_tokens(text)
    grams = [" ".join(tok[i : i + n]) for i in range(len(tok) - n + 1)]
    return list(dict.fromkeys(py_hash(g) for g in grams))


def py_minhash(sh, n_hashes=16, seed=42):
    p = T.MINHASH_P
    return [
        min(((a * (h % p) + b) % p for h in sh), default=p)
        for a, b in T.minhash_params(n_hashes, seed)
    ]


def py_simhash(text, bits=60):
    if text is None:
        return 0
    hs = [py_hash(t) for t in py_tokens(text)]
    return sum(
        1 << b
        for b in range(bits)
        if 2 * sum((h >> b) & 1 for h in hs) > len(hs)
    )


def test_shingle_kernel_tier_parity(spark, dup_docs):
    """The shingle/signature kernel equals the pure-Python reference:
    same distinct shingle hash sets in the same (first-occurrence)
    order and same minhash signatures — on planted near-dups AND the
    normalization edge cases (nulls, empties, unicode, exotic
    whitespace, shingles >55 utf-8 bytes) — at shingle_n=3 and at
    shingle_n=1, where text that normalizes to "" is one md5('')
    shingle. The reference tokenizer itself is pinned to the JVM's
    ``T.tokens`` on the edge set."""
    docs, _ = dup_docs
    edge = spark.createDataFrame(_EDGE_TEXTS, "doc_id long, text string")
    jvm_tokens = edge.select("doc_id", T.tokens(F.col("text")).alias("t"))
    for r in jvm_tokens.collect():
        text = dict(_EDGE_TEXTS)[r.doc_id]
        assert r.t == (None if text is None else py_tokens(text)), r
    for n, src in ((3, docs), (3, edge), (1, edge)):
        texts = {r.doc_id: r.text for r in src.collect()}
        got = D.build_minhash_index(src, n_hashes=16, shingle_n=n).collect()
        assert sorted(r.doc_id for r in got) == sorted(texts)
        for r in got:
            want = py_shingles(texts[r.doc_id], n)
            assert list(r.sh) == want, (n, r.doc_id)
            assert list(r.sig) == py_minhash(want), (n, r.doc_id)


def test_simhash_kernel_tier_parity(spark, dup_docs):
    """The simhash kernel equals the pure-Python reference — including
    null text (simhash 0) and empty-after-normalization text (one empty
    token: the 60-bit md5('') constant)."""
    docs, _ = dup_docs
    edge = spark.createDataFrame(_EDGE_TEXTS, "doc_id long, text string")
    for src in (docs, edge):
        texts = {r.doc_id: r.text for r in src.collect()}
        got = {
            r.doc_id: r.simhash for r in D.simhash_fingerprints(src).collect()
        }
        assert got == {d: py_simhash(t) for d, t in texts.items()}


def test_simhash_pairs_default_bands_find_every_pair(spark):
    """With the default bands (max_hamming + 1) the banded join returns
    exactly the brute-force Hamming <= max_hamming pairs; 4 bands at
    max_hamming=6 missed pairs whose differing bits touched every band."""
    files = synth.repos_files(spark, n=400)
    docs = files.select(
        F.col("row_id").alias("doc_id"), F.col("content").alias("text")
    )
    fp = {r.doc_id: r.simhash for r in D.simhash_fingerprints(docs).collect()}
    ids = sorted(fp)
    want = {
        (a, b): bin(fp[a] ^ fp[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(fp[a] ^ fp[b]).count("1") <= 6
    }
    got = {
        (r.src_id, r.tgt_id): r.hamming
        for r in D.simhash_pairs(docs, max_hamming=6).collect()
    }
    assert want and got == want


def test_minhash_vs_ngram_jaccard_agree(spark, dup_docs):
    """The LSH-verified pairs must be a subset of exact inverted-index
    Jaccard pairs at the same threshold (both verify exactly)."""
    docs, _ = dup_docs
    lsh = {
        (r.src_id, r.tgt_id)
        for r in D.minhash_lsh_pairs(docs, threshold=0.6, n_hashes=16, bands=8).collect()
    }
    exact = {
        (r.src_id, r.tgt_id)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.6).collect()
    }
    assert lsh <= exact
    assert len(lsh) / max(1, len(exact)) > 0.9  # high recall at 8 bands


def test_simhash_near_dups(spark, dup_docs):
    docs, files = dup_docs
    pairs = D.simhash_pairs(docs, max_hamming=12, bands=6)
    got = {(r.src_id, r.tgt_id) for r in pairs.collect()}
    gold = {(r.src_id, r.tgt_id) for r in synth.gold_pairs(files).collect()}
    # one-token edits flip few simhash bits; most gold pairs are caught
    assert len(got & gold) / len(gold) > 0.8


def test_embedding_neardup_exact_vs_approx(spark, dup_docs):
    docs, files = dup_docs
    emb = synth.derive_embeddings(files, dim=32)
    exact = {
        (r.src_id, r.tgt_id)
        for r in D.embedding_neardup_pairs(emb, max_cos_dist=0.05).collect()
    }
    approx = {
        (r.src_id, r.tgt_id)
        for r in D.embedding_neardup_pairs(
            emb, max_cos_dist=0.05, approx=True, n_tables=8, n_bits=12
        ).collect()
    }
    assert approx <= exact
    assert len(approx & exact) / max(1, len(exact)) > 0.9


def test_text_analysis_ops(spark, docs):
    n = docs.count()
    tc = TA.token_counts(docs, "doc_id", "text")
    assert tc.count() == n
    row = tc.filter("n_tokens <= 0").count()
    assert row == 0
    q = TA.quality_features(docs, "doc_id", "text")
    stats = q.agg(F.min("quality"), F.max("quality")).first()
    assert 0.0 <= stats[0] and stats[1] <= 1.0
    li = TA.lang_id(docs, "doc_id", "text")
    assert li.count() == n
    fp = TA.fingerprints(docs, "doc_id", "text")
    # order sensitivity: permuted tokens give a different fingerprint
    two = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha")],
        "doc_id bigint, text string",
    )
    f2 = TA.fingerprints(two).collect()
    assert f2[0].fingerprint != f2[1].fingerprint
    assert fp.count() == n


def test_jaccard_prefix_pairs_lossless(spark, dup_docs):
    """The AllPairs/PPJoin prefix+size filters must be LOSSLESS: output
    identical to the uncapped brute-force inverted-index join at every
    threshold (value-identical, not just pair-identical)."""
    docs, _ = dup_docs
    for t in (0.5, 0.7, 0.9):
        brute = {
            (r.src_id, r.tgt_id, round(r.jaccard, 9))
            for r in D.ngram_jaccard_pairs(
                docs, threshold=t, max_doc_freq=10_000_000
            ).collect()
        }
        pref = {
            (r.src_id, r.tgt_id, round(r.jaccard, 9))
            for r in D.jaccard_prefix_pairs(docs, threshold=t).collect()
        }
        assert brute == pref, t
    assert pref is not None and len(brute) > 0


def test_bm25_topk(spark, docs):
    """BM25 retrieval: rank/score contracts on the real corpus, then the
    two defining behaviors on a constructed one — term-stuffing wins on
    tf saturation, and at equal tf the SHORTER document outranks the
    longer (length normalization)."""
    top = TA.bm25_topk(docs, "the and data", k=10).collect()
    assert 0 < len(top) <= 10
    assert [r.rank for r in top] == list(range(1, len(top) + 1))
    scores = [r.bm25 for r in top]
    assert all(s > 0 for s in scores)
    assert scores == sorted(scores, reverse=True)

    corpus = spark.createDataFrame(
        [
            (1, "needle needle needle in a stack"),
            (2, "needle in a very very long hay stack full of other words"),
            (3, "needle in stack"),
            (4, "nothing relevant here at all"),
        ],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r for r in TA.bm25_topk(corpus, "needle", k=4).collect()}
    assert 4 not in got  # no query term -> no row
    assert got[1].rank == 1  # highest tf wins
    # docs 2 and 3 tie on tf=1: shorter doc 3 must outrank longer doc 2
    assert got[3].bm25 > got[2].bm25


def test_minhash_lsh_join_incremental(spark, dup_docs):
    """Asymmetric new-batch x corpus join: each mutated doc must hit its
    source, and corpus x corpus pairs must never appear."""
    docs, _ = dup_docs
    corpus = docs.select("doc_id", "text")
    new = corpus.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.regexp_replace(F.col("text"), r"^\S+", "qqq").alias("text"),
    )
    pairs = D.minhash_lsh_join(new, corpus, threshold=0.5).collect()
    assert len(pairs) >= corpus.count()  # every mutant finds its source
    hits = {(r.new_id, r.corpus_id) for r in pairs}
    n = corpus.count()
    for cid in [r.doc_id for r in corpus.limit(5).collect()]:
        assert (cid + 10000, cid) in hits
    # side namespaces respected: new ids only on the left, corpus on right
    assert all(r.new_id >= 10000 and r.corpus_id < 10000 for r in pairs)
    assert all(r.jaccard >= 0.5 for r in pairs)


def test_tfidf_top_terms(spark):
    df = spark.createDataFrame(
        [
            (1, "apple apple banana common"),
            (2, "banana cherry common common"),
            (3, "cherry date common"),
        ],
        "doc_id bigint, text string",
    )
    out = TA.tfidf_top_terms(df, top_m=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {1, 2, 3}
    for rows in by_doc.values():
        assert [r.term_rank for r in sorted(rows, key=lambda r: r.term_rank)] == [1, 2]
    # doc 1: 'apple' (tf=2, df=1) must outrank the shared 'common'
    top1 = min(by_doc[1], key=lambda r: r.term_rank)
    assert top1.term == "apple" and top1.tf == 2 and top1.df_t == 1
    # 'common' appears in all 3 docs -> lowest idf
    common = [r for r in out if r.term == "common"]
    assert all(r.df_t == 3 for r in common)


def test_minhash_index_roundtrip(spark, dup_docs, tmp_path_factory):
    """Joining against a saved corpus index must equal the direct join."""
    docs, _ = dup_docs
    corpus = docs.select("doc_id", "text")
    new = corpus.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.regexp_replace(F.col("text"), r"^\S+", "qqq").alias("text"),
    )
    path = str(tmp_path_factory.mktemp("mhidx") / "corpus_index")
    D.save_minhash_index(D.build_minhash_index(corpus), path)
    idx = D.load_minhash_index(spark, path)
    direct = {
        (r.new_id, r.corpus_id, round(r.jaccard, 9))
        for r in D.minhash_lsh_join(new, corpus, threshold=0.5).collect()
    }
    via_index = {
        (r.new_id, r.corpus_id, round(r.jaccard, 9))
        for r in D.minhash_lsh_join(
            new, corpus_index=idx, threshold=0.5
        ).collect()
    }
    assert direct == via_index and len(direct) > 0


def test_curation_ops(spark):
    from kiez_spark.operators import curation as CUR

    df = spark.createDataFrame(
        [
            (1, "go to https://a.io/x and http://b.c/y now"),
            (2, "mail a.b@c.de or x@y.org"),
            (3, "plain text only"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in CUR.scrub_text(df).collect()}
    assert out[1].n_urls == 2 and "<URL>" in out[1].clean_text
    assert "https" not in out[1].clean_text
    assert out[2].n_emails == 2 and out[2].clean_text.count("<EMAIL>") == 2
    assert out[3].clean_text == "plain text only"
    assert out[3].n_urls == 0 and out[3].n_emails == 0

    big = spark.range(5000).select(F.col("id").alias("doc_id"))
    s1 = CUR.sample_by_hash(big, 0.3, seed=1)
    s1_again = CUR.sample_by_hash(big.repartition(13), 0.3, seed=1)
    ids1 = {r.doc_id for r in s1.collect()}
    assert ids1 == {r.doc_id for r in s1_again.collect()}  # layout-invariant
    assert 0.25 < len(ids1) / 5000 < 0.35
    # complement partitions exactly; different seed gives a different set
    s2 = {r.doc_id for r in CUR.sample_by_hash(big, 0.3, seed=2).collect()}
    assert s2 != ids1
    # samples are NESTED across rates (bucket < cut is monotone in cut):
    # growing a sample never drops previously selected rows
    ids_small = {r.doc_id for r in CUR.sample_by_hash(big, 0.1, seed=1).collect()}
    assert ids_small < ids1
    with pytest.raises(ValueError):
        CUR.sample_by_hash(big, 1.5)


def test_hash_split_partitions_exactly(spark):
    """hash_split: the labels partition the corpus exactly, reproduce
    under repartitioning, and land near the requested ratios; the
    'train' rows are exactly the sample_by_hash(rate=0.8) rows (same
    hash, same cut — split nests with sampling)."""
    from kiez_spark.operators import curation as CUR

    big = spark.range(4000).select(F.col("id").alias("doc_id"))
    s = CUR.hash_split(big, {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r.cnt for r in
              s.groupBy("split").agg(F.count("*").alias("cnt")).collect()}
    assert sum(counts.values()) == 4000
    assert abs(counts["train"] / 4000 - 0.8) < 0.03
    assert abs(counts["val"] / 4000 - 0.1) < 0.03
    # stable under physical layout
    s2 = CUR.hash_split(big.repartition(13), {"train": 0.8, "val": 0.1,
                                              "test": 0.1})
    assert s.exceptAll(s2).count() == 0
    # train == the 0.8 hash sample (identical bucket cut)
    train = {r.doc_id for r in s.filter("split = 'train'").collect()}
    sample = {r.doc_id for r in CUR.sample_by_hash(big, 0.8).collect()}
    assert train == sample
    with pytest.raises(ValueError):
        CUR.hash_split(big, {})
    with pytest.raises(ValueError):
        CUR.hash_split(big, {"a": -1.0, "b": 2.0})
