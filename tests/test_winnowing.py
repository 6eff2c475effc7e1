"""Winnowing (MOSS) fingerprints + clone-pair mining.

Covers: exact parity with a pure-Python reference winnow (value-set
semantics) for fingerprints and mined pairs, the winnowing match
guarantee, whitespace/case invariance, planted-clone recovery through
winnow_pairs, the df-cap, the persisted index and the repo rollup."""

import hashlib
import re

from pyspark.sql import functions as F

from kiez_spark import synth
from kiez_spark.operators import dedup as D

K, W = 8, 6


def py_winnow(text: str, k: int = K, w: int = W) -> set[int]:
    """Reference winnow: distinct window-min 60-bit md5 hashes of char
    k-grams of the normalized text (tie-rule-free value-set form)."""
    t = re.sub(r"\s+", "", (text or "").lower())
    hs = [
        int(hashlib.md5(t[i : i + k].encode()).hexdigest()[:15], 16)
        for i in range(len(t) - k + 1)
    ]
    if not hs:
        return set()
    if len(hs) < w:
        return {min(hs)}
    return {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}


def _collect_fps(df) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in df.collect():
        out.setdefault(r["doc_id"], set()).add(r["fp"])
    return out


def test_winnow_parity_python_reference(spark):
    rows = [
        (1, "def foo(x):\n    return x + 1\n"),
        (2, "def foo( x ):\n\treturn x+1\n"),  # whitespace variant of 1
        (3, "class Bar:\n    pass\n" * 5),  # repeated block -> few fps
        (4, "ab"),  # shorter than k -> no fingerprints
        (5, None),  # null text -> no fingerprints
        (6, "exactly8!"),  # one gram past k -> single fingerprint
        (7, "Ünïcode ÇhärÅcters in the grám stream, ÜNÏCODE too"),
    ]
    got = _collect_fps(D.winnow_fingerprints(
        spark.createDataFrame(rows, "doc_id long, text string"), k=K, window=W
    ))
    for doc_id, text in rows:
        assert got.get(doc_id, set()) == py_winnow(text or ""), doc_id
    # whitespace/case-only variants fingerprint identically
    assert got[1] == got[2] and got[1]


def test_winnow_parity_randomized(spark):
    """150 seeded random strings — mixed alphabets (ascii, digits,
    unicode, whitespace runs, repeats), lengths straddling every edge
    (0, <k, ==k, <k+w-1, long) — must fingerprint identically to the
    Python reference in ONE Spark job."""
    import random

    rng = random.Random(0xC10E5)
    alphabets = [
        "ab",  # heavy collisions / repeats
        "abcdefghijklmnopqrstuvwxyz0123456789",
        "aA \t\n",  # case + whitespace runs
        "äöüß漢字かなαβγ ",  # multi-byte
    ]
    rows = []
    for i in range(150):
        alpha = alphabets[i % len(alphabets)]
        length = [0, K - 1, K, K + W - 2, K + W - 1, 40, 200][i % 7]
        rows.append(
            (i, "".join(rng.choice(alpha) for _ in range(length)))
        )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = _collect_fps(D.winnow_fingerprints(df, k=K, window=W))
    for doc_id, text in rows:
        assert got.get(doc_id, set()) == py_winnow(text), (doc_id, text)


def test_winnow_guarantee_and_no_short_matches(spark):
    # guarantee: a shared normalized substring of length >= w + k - 1
    # (13 chars here) forces >= 1 shared fingerprint
    shared = "SHAREDsubstringBLOCK"  # 20 chars, no whitespace
    rows = [
        (1, "prefix_one_%s_tail_one" % shared),
        (2, "other start %s different end" % shared),
        (3, "completely unrelated content with nothing in common at all"),
    ]
    got = _collect_fps(D.winnow_fingerprints(
        spark.createDataFrame(rows, "doc_id long, text string"), k=K, window=W
    ))
    assert got[1] & got[2]
    assert not (got[1] & got[3])


def test_winnow_pairs_recovers_planted_clones(spark):
    files = synth.repos_files(spark, n=120, cluster_size=4, dup_fraction=0.5)
    docs = files.select(
        F.col("row_id").alias("doc_id"), F.col("content").alias("text")
    )
    pairs = D.winnow_pairs(
        docs, k=K, window=W, min_common=2, min_overlap=0.5,
        max_doc_freq=10_000_000,
    )
    got = {(r.a_id, r.b_id) for r in pairs.collect()}
    gold = files.filter("is_clustered").select("row_id", "cluster_id").collect()
    by_cluster: dict[int, list[int]] = {}
    for r in gold:
        by_cluster.setdefault(r["cluster_id"], []).append(r["row_id"])
    planted = {
        (min(a, b), max(a, b))
        for ids in by_cluster.values()
        for a in ids
        for b in ids
        if a < b
    }
    assert planted, "synth must plant clone clusters"
    recall = len(got & planted) / len(planted)
    assert recall >= 0.95, f"clone recall {recall}"
    # overlap is a valid containment fraction everywhere
    bad = pairs.filter(
        (F.col("overlap") < 0.5) | (F.col("overlap") > 1.0)
        | (F.col("common") < 2)
    ).count()
    assert bad == 0


def test_winnow_pairs_match_python_reference(spark):
    """Mined pairs equal the pairs of the pure-Python reference
    fingerprints (same md5 60-bit hashes, same window minima — hence the
    same common counts and overlaps, not just the same pairs)."""
    files = synth.repos_files(spark, n=60, cluster_size=4, dup_fraction=0.5)
    docs = files.select(
        F.col("row_id").alias("doc_id"), F.col("content").alias("text")
    )
    fps = {r.doc_id: py_winnow(r.text) for r in docs.collect()}
    want = {}
    for a in fps:
        for b in fps:
            common = len(fps[a] & fps[b])
            if a < b and common:
                want[(a, b, common)] = common / min(len(fps[a]), len(fps[b]))
    got = {
        (r.a_id, r.b_id, r.common): r.overlap
        for r in D.winnow_pairs(
            docs, k=K, window=W, min_common=1, max_doc_freq=10_000_000,
        ).collect()
    }
    assert want and got.keys() == want.keys()
    assert all(abs(got[key] - want[key]) <= 5e-7 for key in want)


def test_winnow_with_counts_matches_posting_groupby(spark):
    """with_counts=True (n_fp emitted at fingerprint generation — the
    optimization that removed the index build's posting groupBy +
    self-join) must agree exactly with re-deriving n_fp by counting the
    posting table; rows without counts are unchanged."""
    files = synth.repos_files(spark, n=40, cluster_size=4, dup_fraction=0.5)
    docs = files.select(
        F.col("row_id").alias("doc_id"), F.col("content").alias("text")
    )
    fp = D.winnow_fingerprints(docs, k=K, window=W)
    derived = {
        (r.doc_id, r.fp, r.n_fp)
        for r in fp.join(
            fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp")),
            "doc_id",
        ).collect()
    }
    emitted = {
        (r.doc_id, r.fp, r.n_fp)
        for r in D.winnow_fingerprints(
            docs, k=K, window=W, with_counts=True
        ).collect()
    }
    assert emitted == derived and emitted


def test_winnow_pairs_df_cap_drops_boilerplate(spark):
    # two docs whose ONLY shared content is a boilerplate block present
    # in every doc: with the cap at 3 the boilerplate fingerprints are
    # df-capped out of the index and the pair disappears
    boiler = "thisisaboilerplatelicenseheaderblock"
    rows = [(i, boiler + f"unique content number {i} " * 3) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = D.winnow_pairs(
        df, k=K, window=W, min_common=1, max_doc_freq=10_000_000
    ).count()
    capped = D.winnow_pairs(
        df, k=K, window=W, min_common=1, max_doc_freq=3
    ).count()
    assert uncapped > 0 and capped == 0


def test_winnow_join_matches_union_rerun(spark, tmp_path):
    """Batch x corpus via the persisted index == the cross-side subset of
    winnow_pairs on the combined corpus (same cap), and the index
    roundtrips through parquet."""
    files = synth.repos_files(spark, n=80, cluster_size=4, dup_fraction=0.5)
    docs = files.select(
        F.col("row_id").alias("doc_id"), F.col("content").alias("text")
    )
    corpus = docs.filter("doc_id % 2 = 0")
    batch = docs.filter("doc_id % 2 = 1")

    idx_path = str(tmp_path / "winnow_idx")
    D.save_winnow_index(D.build_winnow_index(corpus, k=K, window=W), idx_path)
    idx = D.load_winnow_index(spark, idx_path)
    inc = D.winnow_join(
        batch, corpus_index=idx, k=K, window=W,
        min_common=2, min_overlap=0.5, max_doc_freq=10_000_000,
    )
    got = {
        (r.new_id, r.corpus_id, r.common, r.overlap) for r in inc.collect()
    }

    full = D.winnow_pairs(
        docs, k=K, window=W, min_common=2, min_overlap=0.5,
        max_doc_freq=10_000_000,
    )
    want = set()
    for r in full.collect():
        lo, hi = r.a_id, r.b_id
        if lo % 2 != hi % 2:  # cross-side pairs only
            new_id, corpus_id = (lo, hi) if lo % 2 == 1 else (hi, lo)
            want.add((new_id, corpus_id, r.common, r.overlap))
    assert got == want and got


def test_winnow_group_pairs_repo_rollup(spark):
    """Repo-level rollup: mutated twin repos pair at high containment,
    and a group's fingerprint set is its documents' DISTINCT union — a
    repo holding 10 copies of one file scores exactly like a repo
    holding one copy (posting bounded by unique content, not by file
    count)."""
    base = "def shared_function(): return compute(alpha, beta, gamma)"
    rows = (
        # repo_many: the same file 10 times; repo_one: a single copy
        [(i, base, "repo_many") for i in range(10)]
        + [(100, base, "repo_one")]
        # unrelated repo
        + [(200, "totally unrelated content with its own tokens", "repo_x")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    pairs = {
        (r.a_grp, r.b_grp): (r.common, r.overlap)
        for r in D.winnow_group_pairs(
            df, group_col="source", k=K, window=W, min_common=1,
            max_group_freq=10_000_000,
        ).collect()
    }
    assert ("repo_many", "repo_one") in pairs
    common, overlap = pairs[("repo_many", "repo_one")]
    assert overlap == 1.0
    assert common == len(py_winnow(base))  # distinct union == one copy
    assert not any("repo_x" in k for k in pairs)

