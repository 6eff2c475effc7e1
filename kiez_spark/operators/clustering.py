"""Transitive clustering: connected components, contracted in Spark and
finished on the driver.

[ext] operator (BASELINE.json north_rule) — the reference is single-node
and stops at neighbor lists; at cluster scale, matched pairs must be folded
into entity groups. ``connected_components`` runs in two phases, chosen
only by the edge count it observes:

1. **Collect when the edges fit.** The projected, self-edge-free pairs
   are checkpointed once, and the checkpoint's pass counts them (an
   observed metric). At most ``_LOCAL_EDGES`` edges are collected from
   the checkpoint in one Arrow action and labelled on the driver with
   numpy (``_local_components``: min-label hooking plus pointer jumping
   over dense ids); the (id, component) table goes back to Spark as a
   small local relation.
2. **Star rounds above the threshold.** Otherwise the alternating
   large-star / small-star rounds (Kiveris et al., "Connected Components
   in MapReduce and Beyond", SoCC 2014) start from the same checkpoint
   and run in Spark until the edge set stops changing:

     large-star: for each node u, connect every neighbor v > u to
                 m = min(N(u) ∪ {u})
     small-star: orient edges to smaller ids; connect every v in
                 N≤(u) ∪ {u} except m to m = min(N≤(u) ∪ {u})

   Each round ``localCheckpoint``s to truncate lineage (mandatory — the
   self-join loop otherwise compounds the plan exponentially), and that
   pass observes an edge-set checksum (count + xor of pair hashes); two
   equal checksums in a row mark the fixed point, and running out of
   ``max_iter`` rounds without one raises.

This is the contract-then-solve-locally pattern of Łącki et al.,
"Connected Components at Scale via Local Contractions" (2018). A round
costs two window exchanges, a distinct and a checkpoint job, and every
job's plans are compiled and JIT-tiered on the driver, so up
to ``_LOCAL_EDGES`` edges one collect is cheaper than the O(log n)
rounds (see the measurements at the constant). Either way the component
is the minimum member id, so the output does not depend on which phase
finished it.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kiez_spark.checkpoint import materialise

# Largest edge set finished on the driver. Measured with tools/cc_scale.py
# (4-vCPU host, 4g driver, CC plus one aggregate over its result): at 1M
# edges the driver finish took 8.7 s on many small components and 8.9 s
# on a giant component, against 11.2-12.1 s and 24-26 s of star rounds,
# with a Python peak 133 MB above the baseline (the edges are 16 MB of
# Arrow) and a JVM peak no higher than the rounds'. At 2M it still took
# 15-17 s against 18 s (small components) and 13-15 s against 36-39 s,
# but the local result is a LocalRelation that every further job reading
# it ships again, ~7 s at 2M rows (~3 s at 1M), so a second reader turns
# the small-components case into a loss there.
_LOCAL_EDGES = 1_000_000


def _large_star(edges: DataFrame) -> DataFrame:
    """edges: directed pairs (u, v); treats them symmetrically.

    The per-node neighborhood min is a WINDOW over u, not a
    groupBy+join: both need every sym row keyed by u, but the window
    computes m and keeps the rows in ONE exchange while the join version
    shuffles sym a second time to meet the aggregated min table (guide
    §2.4) — one full edge-set shuffle saved per CC round. No .distinct()
    here: duplicate (v, m) rows cannot change the min aggregations
    downstream and _small_star (the only consumer, always composed right
    after) ends in a global distinct that canonicalizes the round's
    checkpointed edge set; the rows a round moves stay bounded by
    |sym| = 2|E| either way."""
    sym = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    w = Window.partitionBy("u")
    return (
        sym.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # orient toward smaller ids: u keeps neighbors v <= u. Same
    # window-over-u shape as _large_star (one exchange); the (v, m) +
    # (u, m) emissions ride ONE pass via explode — (u, m) repeats per
    # row instead of once per group, which the trailing distinct (the
    # round's canonicalizer, needed regardless) absorbs.
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    w = Window.partitionBy("u")
    withm = oriented.withColumn("m", F.min("v").over(w))
    pair = F.array(
        F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
        F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
    )
    return (
        withm.select(F.explode(pair).alias("e"))
        .select("e.u", "e.v")
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _local_components(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(ids, component) for every id on the edges (u, v); component = min
    id in its component. Ids are compressed with np.unique, so dense order
    is id order and the min dense label is the min id. Each pass hooks
    both endpoints and their current labels to the smaller label of the
    edge, then pointer-jumps every label to its root; labels only fall
    and always name a member of the same component, so the fixed point
    (no edge joins two labels) labels each component with its min."""
    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = inv[: len(u)], inv[len(u):]
    label = np.arange(len(ids))
    while True:
        la, lb = label[a], label[b]
        lo = np.minimum(la, lb)
        new = label.copy()
        for idx in (a, b, la, lb):
            np.minimum.at(new, idx, lo)
        while True:
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, label):
            return ids, ids[label]
        label = new


def _finish_locally(spark, edges: pa.Table) -> DataFrame:
    ids, comp = _local_components(
        edges.column("u").to_numpy(), edges.column("v").to_numpy()
    )
    return spark.createDataFrame(
        pa.table({"id": pa.array(ids, pa.int64()),
                  "component": pa.array(comp, pa.int64())})
    )


def _star_rounds(edges: DataFrame, max_iter: int) -> DataFrame:
    """Large/small-star rounds over a checkpointed edge set until it
    stops changing; RuntimeError after ``max_iter`` rounds."""
    prev = None  # first round always runs; no checksum job on the input
    for _ in range(max_iter):
        # one job per round: the checkpoint's pass observes the checksum
        edges, cur = materialise(
            _small_star(_large_star(edges)),
            F.count(F.lit(1)).alias("cnt"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("sig"),
        )
        if cur == prev:
            # at the fixed point every edge points at its component root
            member = edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
            roots = edges.select(F.col("v").alias("id"), F.col("v").alias("component"))
            return member.unionByName(roots).groupBy("id").agg(
                F.min("component").alias("component")
            )
        prev = cur
    raise RuntimeError(
        f"connected_components: no fixed point after {max_iter} star "
        f"rounds; {cur['cnt']} edges remain"
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    pair_cols: tuple[str, str] = ("src_id", "tgt_id"),
    max_iter: int = 25,
) -> DataFrame:
    """Cluster assignment (id, component); component = min id in component.

    pairs: edge list; nodes: optional (id, ...) universe so isolated
    entities get singleton clusters; its other columns ride along after
    ``component``. Without ``nodes`` only edge-incident ids are
    returned. ``max_iter`` bounds the star rounds, which run only when
    more than ``_LOCAL_EDGES`` edges arrive (self-edges dropped,
    duplicates counted); RuntimeError if they run out.
    """
    # EAGER checkpoint: its one pass over the pair plan also counts the
    # edges (an observed metric, no job of its own), and both phases read
    # the checkpoint, so the Spark path neither recomputes the pairs nor
    # collects them first
    edges, seen = materialise(
        pairs.select(
            F.col(pair_cols[0]).cast("bigint").alias("u"),
            F.col(pair_cols[1]).cast("bigint").alias("v"),
        ).filter(F.col("u") != F.col("v")),
        F.count(F.lit(1)).alias("n"),
    )
    if seen["n"] <= _LOCAL_EDGES:
        assign = _finish_locally(pairs.sparkSession, edges.toArrow())
    else:
        # no distinct first: duplicate edges cannot change a star's min,
        # and the first round's output is already deduplicated
        assign = _star_rounds(edges, max_iter)
    if nodes is not None:
        rest = nodes.columns[1:]
        universe = nodes.select(
            F.col(nodes.columns[0]).cast("bigint").alias("id"), *rest
        )
        assign = universe.join(assign, "id", "left").select(
            "id", F.coalesce("component", F.col("id")).alias("component"), *rest
        )
    return assign


def merge_components(
    assignments: DataFrame,
    new_edges: DataFrame,
    batch_nodes: DataFrame | None = None,
    pair_cols: tuple[str, str] = ("a_id", "b_id"),
    max_iter: int = 25,
) -> DataFrame:
    """``merge_components_with_delta`` returning just the full table —
    see there for semantics."""
    full, _ = merge_components_with_delta(
        assignments, new_edges, batch_nodes, pair_cols, max_iter
    )
    return full


def merge_components_with_delta(
    assignments: DataFrame,
    new_edges: DataFrame,
    batch_nodes: DataFrame | None = None,
    pair_cols: tuple[str, str] = ("a_id", "b_id"),
    max_iter: int = 25,
) -> tuple[DataFrame, DataFrame]:
    """(full, changed) assignments after adding ``new_edges`` to an
    already clustered corpus — the incremental-linkage closer:
    components NOT incident to any new edge pass through byte-identical
    into ``full`` only; incident ones are re-clustered together with the
    new edges (and ``batch_nodes`` newcomers, who get singleton
    components unless an edge claims them) and appear in BOTH frames.
    ``changed`` is the O(touched + batch) delta a latest-wins
    state store persists instead of rewriting the corpus table.

    Exactness: in a min-id labeling each (id, component) row is itself
    an edge that reconstructs its component, so running CC over
    [touched assignment rows as edges] ∪ [new edges] gives exactly what
    a full CC over [all old edges] ∪ [new edges] gives for the touched
    components; untouched components are fixed points of adding edges
    that don't reach them. (See tests/test_er_incremental.py for the
    full-rerun equivalence proof on planted data.)

    Scale: the corpus-wide assignments table is touched by one semi- and
    one anti-join on ``component`` (broadcastable — the touched-component
    list is bounded by the batch's edge count); only the touched subgraph
    plus the batch enters ``connected_components``, which finishes it on
    the driver while it fits in ``_LOCAL_EDGES`` edges and runs the star
    rounds above that.
    """
    a_, b_ = pair_cols
    edges = new_edges.select(
        F.col(a_).cast("bigint").alias("u"), F.col(b_).cast("bigint").alias("v")
    )
    touched_ids = (
        edges.select(F.col("u").alias("id"))
        .unionByName(edges.select(F.col("v").alias("id")))
        .distinct()
    )
    assign = assignments.select(
        F.col("id").cast("bigint").alias("id"),
        F.col("component").cast("bigint").alias("component"),
    )
    touched_comps = (
        assign.join(touched_ids, "id").select("component").distinct()
    )
    sub = assign.join(F.broadcast(touched_comps), "component")
    untouched = assign.join(
        F.broadcast(touched_comps), "component", "left_anti"
    )
    # eager barrier, NOT an optimization: `assignments` typically carries a
    # prior connected_components LogicalRDD in its lineage, and Spark's
    # LAZY localCheckpoint inside the CC loop fails to rewrite that nested
    # LogicalRDD's origin attributes (NoSuchElementException: key not
    # found u#...). Materializing the (small) touched subgraph gives CC a
    # shallow scan to start from. Bounded by the touched components + the
    # batch, never the corpus.
    sub_edges = (
        sub.select(F.col("id").alias("u"), F.col("component").alias("v"))
        .unionByName(edges)
        .localCheckpoint()
    )
    nodes = sub.select("id").unionByName(touched_ids)
    if batch_nodes is not None:
        nodes = nodes.unionByName(
            batch_nodes.select(
                F.col(batch_nodes.columns[0]).cast("bigint").alias("id")
            )
        )
    # eager: CHANGED rows feed both the returned full table and the
    # delta consumer (a delta-persisted state write) — materialize once
    # so the star rounds never re-run; bounded by touched + batch
    changed = connected_components(
        sub_edges, nodes=nodes.distinct(), pair_cols=("u", "v"),
        max_iter=max_iter,
    ).select("id", "component").localCheckpoint()
    full = untouched.select("id", "component").unionByName(changed)
    return full, changed


def survivor_decisions(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    pair_cols: tuple[str, str] = ("src_id", "tgt_id"),
    quality: DataFrame | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """Per-document dedup decision table (id, component, keep_id,
    is_survivor): cluster the near-dup pair graph, then elect one
    survivor per component — the row every downstream training-data
    filter joins against.

    ``quality=None``: survivor = the component's min id (which IS the
    component label our connected_components emits — no extra shuffle).
    ``quality`` = (id, quality double): survivor = highest quality in
    the component, ties broken toward the smaller id — the "keep the
    best copy" policy. One rank window partitioned by component (rank
    pushdown applies: only rank 1 survives the WindowGroupLimit) plus
    one shuffle join of the per-component winner back onto members.
    """
    assign = connected_components(pairs, nodes, pair_cols, max_iter)
    return decisions_from_assignment(assign, quality)


def decisions_from_assignment(
    assign: DataFrame, quality: DataFrame | None = None
) -> DataFrame:
    """Survivor election over an existing (id, component) assignment —
    e.g. the clusters table a prior linkage run already wrote. Same
    policies as ``survivor_decisions`` (which is this applied to a fresh
    connected_components pass). Assumes component = min member id, the
    label connected_components emits."""
    if quality is None:
        return assign.select(
            "id",
            "component",
            F.col("component").alias("keep_id"),
            (F.col("id") == F.col("component")).alias("is_survivor"),
        )
    q = quality.select(
        F.col(quality.columns[0]).cast("bigint").alias("id"),
        F.col(quality.columns[1]).cast("double").alias("_q"),
    )
    from pyspark.sql import Window

    scored = assign.join(q, "id", "left").select(
        "id", "component", F.coalesce("_q", F.lit(0.0)).alias("_q")
    )
    w = Window.partitionBy("component").orderBy(F.col("_q").desc(), F.col("id"))
    winners = (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("component", F.col("id").alias("keep_id"))
    )
    return (
        scored.join(winners, "component")
        .select(
            "id",
            "component",
            "keep_id",
            (F.col("id") == F.col("keep_id")).alias("is_survivor"),
        )
    )


def n_components() -> Column:
    """The component count of a min-id (id, component) labelling as an
    observable aggregate: each component holds exactly one row whose id
    is its label, so it is ``count(id == component)``. It equals
    ``countDistinct("component")``, which ``DataFrame.observe`` rejects
    (no DISTINCT aggregate can be observed), and it is also the survivor
    count of any election that keeps one row per component."""
    return F.count(F.when(F.col("id") == F.col("component"), 1))


def component_size_histogram(assign: DataFrame) -> DataFrame:
    """(size, n_components) — the component-size distribution of an
    (id, component) assignment: the giant-component health check every
    dedup/linkage pipeline monitors at scale. A boilerplate-chained
    near-dup graph collapses transitively into one giant component that
    would elect a single survivor for millions of documents; watching
    this histogram's tail (and alerting on max(size)) is the standard
    guard before survivor election is allowed to drop data.

    Two map-side-combinable aggregations: the shuffle carries one row
    per component, then one per distinct size — negligible at any
    corpus scale."""
    sizes = assign.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).alias("n_components")
    )
