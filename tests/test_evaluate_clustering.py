"""hits@k (reference fixture values, tests/evaluate/test_eval_metrics.py)
and connected-components correctness."""

import numpy as np
import pytest

from kiez_spark.operators import clustering as C
from kiez_spark.operators import evaluate as E


def test_hits_reference_fixture(spark):
    """nn=[[1,2,3],[2,3,4],[3,4,5],[4,5,6]], gold={0:2,1:4,2:3,3:4}
    => hits {1: 0.5, 2: 0.75, 3: 1.0} (test_eval_metrics.py:6-48)."""
    nn = [[1, 2, 3], [2, 3, 4], [3, 4, 5], [4, 5, 6]]
    rows = [(i, r + 1, v) for i, lst in enumerate(nn) for r, v in enumerate(lst)]
    nn_df = spark.createDataFrame(rows, "query_id bigint, rank int, cand_id bigint")
    gold = spark.createDataFrame(
        [(0, 2), (1, 4), (2, 3), (3, 4)], "src_id bigint, tgt_id bigint"
    )
    got = {r.k: r.hits for r in E.hits_at_k(nn_df, gold, ks=(1, 2, 3)).collect()}
    assert got == {1: 0.5, 2: 0.75, 3: 1.0}

    disjoint = spark.createDataFrame(
        [(0, 5), (1, 6), (2, 7), (3, 8)], "src_id bigint, tgt_id bigint"
    )
    got0 = {r.k: r.hits for r in E.hits_at_k(nn_df, disjoint, ks=(1, 2, 3)).collect()}
    assert got0 == {1: 0.0, 2: 0.0, 3: 0.0}


def test_pairwise_f1(spark):
    pred = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "src_id bigint, tgt_id bigint"
    )
    gold = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 5)], "src_id bigint, tgt_id bigint"
    )
    row = E.pairwise_f1(pred, gold).first()
    assert row.tp == 2 and row.fp == 1 and row.fn == 1
    assert row.f1 == (2 * (2 / 3) * (2 / 3)) / (4 / 3)


def test_connected_components_chain_and_singletons(spark):
    # components: {0,1,2,3} (chain), {10,11}, singleton {20}
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11)], "src_id bigint, tgt_id bigint"
    )
    nodes = spark.createDataFrame([(i,) for i in [0, 1, 2, 3, 10, 11, 20]], "id bigint")
    got = {
        r.id: r.component
        for r in C.connected_components(pairs, nodes).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 20: 20}


def _cc_graphs():
    """(name, edges, nodes) covering the shapes the star rounds and the
    driver finish must label alike."""
    rng = np.random.RandomState(3)
    rand = [(int(a), int(b)) for a, b in rng.randint(0, 120, size=(100, 2)) if a != b]
    shapes = (
        [(i, i + 1) for i in range(40)]  # chain 0..40
        + [(69, i) for i in range(50, 69)]  # star, center is the max id
        + [(200 + i, 200 + (i + 7) % 30) for i in range(30)]  # 30-cycle
    )
    shape_nodes = sorted({x for e in shapes for x in e} | {300, 301, 302})
    messy = shapes + [(b, a) for a, b in shapes[::3]] + shapes[::5] + [
        (i, i) for i in (0, 69, 300)
    ]
    return [
        ("random", rand, list(range(120))),
        ("shapes+isolated", shapes, shape_nodes),
        ("duplicate/reversed/self", messy, shape_nodes),
        ("no edges", [], [1, 2, 3]),
        ("self loops only", [(i, i) for i in range(5)], list(range(7))),
        ("nodes=None", messy, None),
    ]


def test_connected_components_random_vs_numpy(spark, monkeypatch):
    """Every graph, three ways, vs the union-find reference: the driver
    finish at the default ``_LOCAL_EDGES`` and at a limit equal to the
    input's edge count, and the Spark star rounds at one edge less."""
    from kiez_spark.oracle import numpy_oracle as O

    default, calls = C._LOCAL_EDGES, []
    for fn in ("_star_rounds", "_finish_locally"):
        orig = getattr(C, fn)
        monkeypatch.setattr(
            C, fn, lambda *a, _f=orig, _n=fn: calls.append(_n) or _f(*a)
        )
    for name, edges, nodes in _cc_graphs():
        expected = O.components(edges, nodes)
        n_in = sum(a != b for a, b in edges)
        pairs = spark.createDataFrame(edges, "src_id bigint, tgt_id bigint")
        node_df = (
            None if nodes is None
            else spark.createDataFrame([(i,) for i in nodes], "id bigint")
        )
        for mode, limit, path in (
            ("default", default, "_finish_locally"),
            ("at the limit", n_in, "_finish_locally"),
            ("one edge above", n_in - 1, "_star_rounds"),
        ):
            monkeypatch.setattr(C, "_LOCAL_EDGES", limit)
            calls.clear()
            got = {
                r.id: r.component
                for r in C.connected_components(pairs, node_df).collect()
            }
            assert got == expected, (name, mode)
            assert calls == [path], (name, mode, calls)


def test_connected_components_spark_path_runs_pairs_once(spark, monkeypatch):
    """Above the threshold the pass that counts the pairs is the one the
    star rounds start from: every pair row is produced once, not once
    for the size test and again for the rounds."""
    from pyspark.sql import functions as F

    seen = spark.sparkContext.accumulator(0)

    def count(x):
        seen.add(1)
        return x

    # nondeterministic, so the optimizer cannot evaluate it twice per row
    # (once for the self-edge filter, once for the projection)
    counted = F.udf(count, "bigint").asNondeterministic()
    edges = [(i, i + 1) for i in range(30)] + [(100 + i, 100) for i in range(1, 9)]
    # ~10 rows in each of 4 partitions against a limit of 12: a size test
    # that stops reading a partition after _LOCAL_EDGES + 1 rows still
    # reads each one to its end (a Python worker stopped early drops its
    # accumulator updates), and the 38 rows take the Spark path
    monkeypatch.setattr(C, "_LOCAL_EDGES", 12)
    pairs = (
        spark.createDataFrame(edges, "src_id bigint, tgt_id bigint")
        .repartition(4)
        .select(counted("src_id").alias("src_id"), "tgt_id")
    )
    got = {r.id: r.component for r in C.connected_components(pairs).collect()}
    assert got == {**{i: 0 for i in range(31)}, **{100 + i: 100 for i in range(9)}}
    assert seen.value == len(edges)


def test_connected_components_max_iter_exhausted_raises(spark, monkeypatch):
    """Star rounds that run out of ``max_iter`` without a fixed point
    raise instead of labelling from unconverged edges."""
    monkeypatch.setattr(C, "_LOCAL_EDGES", 0)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src_id bigint, tgt_id bigint"
    )
    for max_iter in (1, 2):
        match = rf"after {max_iter} star rounds; \d+ edges remain"
        with pytest.raises(RuntimeError, match=match):
            C.connected_components(pairs, max_iter=max_iter).collect()


def test_clusters_to_pairs(spark):
    assign = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (9, 9)], "id bigint, component bigint"
    )
    pairs = {(r.u, r.v) for r in E.clusters_to_pairs(assign).collect()}
    assert pairs == {(1, 2), (1, 3), (2, 3)}


def test_survivor_decisions_min_id_and_quality(spark):
    from pyspark.sql import functions as F

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src_id bigint, tgt_id bigint"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 99]], "id bigint")
    # default policy: survivor = min id (== component label)
    dec = {r.id: r for r in C.survivor_decisions(pairs, nodes).collect()}
    assert dec[1].is_survivor and dec[1].keep_id == 1
    assert not dec[2].is_survivor and dec[2].keep_id == 1
    assert not dec[3].is_survivor and dec[3].keep_id == 1
    assert dec[10].is_survivor and not dec[11].is_survivor
    assert dec[99].is_survivor and dec[99].component == 99  # singleton
    # quality policy: highest quality wins, ties -> min id
    qual = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (10, 0.5), (11, 0.5)],
        "id bigint, quality double",
    )
    decq = {r.id: r for r in C.survivor_decisions(pairs, nodes, quality=qual).collect()}
    assert decq[2].is_survivor and decq[1].keep_id == 2  # 0.9 tie -> min id 2
    assert decq[10].is_survivor  # 0.5 tie -> min id 10
    assert decq[99].is_survivor  # missing quality -> 0.0, alone anyway


def test_component_size_histogram(spark):
    """Histogram of a known assignment; sizes must account for every id
    (sum of size * n_components == total rows)."""
    assign = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6), (7, 7)],
        "id bigint, component bigint",
    )
    got = {
        r["size"]: r["n_components"]
        for r in C.component_size_histogram(assign).collect()
    }
    assert got == {3: 1, 2: 1, 1: 2}
    assert sum(s * n for s, n in got.items()) == 7
