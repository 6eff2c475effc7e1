"""Stratified sampling and benchmark decontamination (curation
operators)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kiez_spark.operators import curation as CUR


@pytest.fixture(scope="module")
def docs(spark):
    # deterministic mini-corpus: 3 language strata, token counts 1..29
    rows = []
    did = 0
    for lang, n_docs in [("en", 13), ("de", 7), ("fr", 1)]:
        for i in range(n_docs):
            n_tok = (did * 7) % 29 + 1  # 1..29 tokens, varied
            rows.append((did, " ".join(f"w{did}t{j}" for j in range(n_tok)), lang))
            did += 1
    return spark.createDataFrame(rows, "doc_id bigint, text string, lang string")


def test_stratified_sample_quotas_and_prefix_stability(spark, docs):
    quotas = {"en": 5, "de": 3}  # fr absent -> dropped
    out = CUR.stratified_sample(docs, quotas, key_col="doc_id", seed=3)
    counts = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"en": 5, "de": 3}
    # quota-n is a PREFIX of quota-(n+2): ranks are stable, so growing a
    # stratum's quota only appends — the recipe-resize invariant
    bigger = CUR.stratified_sample(
        docs, {"en": 7, "de": 3}, key_col="doc_id", seed=3
    )
    small_ids = {r["doc_id"] for r in out.collect()}
    big_ids = {r["doc_id"] for r in bigger.collect()}
    assert small_ids <= big_ids and len(big_ids) == 10
    # int quota applies to every stratum, clamped by stratum size
    all3 = CUR.stratified_sample(docs, 6, key_col="doc_id", seed=3)
    c3 = {
        r["lang"]: r["n"]
        for r in all3.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert c3 == {"en": 6, "de": 6, "fr": 1}


def test_decontaminate_planted_overlap(spark):
    mk = lambda i, t: (i, t)
    eval_text = "alpha beta gamma delta epsilon zeta"
    corpus = spark.createDataFrame(
        [
            mk(1, "x " + eval_text),          # contains both eval 5-grams
            mk(2, "alpha beta gamma delta"),  # only 4 shared tokens: clean
            mk(3, "totally unrelated words here okay fine"),
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame([(0, eval_text)], "doc_id bigint, text string")
    got = {r["doc_id"]: r["n_hits"] for r in
           CUR.decontaminate(corpus, bench, ngram=5).collect()}
    # eval text has two 5-grams; doc 1 contains both
    assert got == {1: 2}
