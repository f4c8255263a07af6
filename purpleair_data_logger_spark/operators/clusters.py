"""Near-duplicate cluster resolution: connected components over the
near-dup pair graph, then canonical-document selection.

Pairwise near-dup mining (`operators.dedup.neardup_lsh_verified`,
`operators.similarity.cosine_neardup_lsh_verified`) emits EDGES; a
dedup decision needs COMPONENTS — if A~B and B~C, {A,B,C} is one
duplicate cluster and exactly one member survives. This is the final
stage of the MinHashLSH dedup recipe used by large text-corpus builds
(the reference repo has no analog; SURVEY.md §2 classifies it under
the beyond-reference LLM-pipeline surface).

Algorithm: iterative min-label propagation on the undirected edge
list — every node repeatedly adopts the smallest label among itself
and its neighbors, converging to cluster_id = min(member id) in
O(component diameter) rounds. Near-dup graphs are dense little
cliques-with-bridges (diameter 2-4 in practice), so propagation
converges in a handful of rounds; each round is one shuffle-bounded
equi-join + a map-side-combinable min-aggregate, and lineage is
truncated per round so the plan doesn't grow superlinearly — through
`materialize.materialize_once`, so ``SPARK_GRAFT_CHECKPOINT_DIR``
switches the rounds to reliable checkpoints for cluster runs where an
executor loss must not kill the multi-round job. Each round's
truncation is lazy: the convergence probe that follows it (a
sum/checksum collect) materializes and stores the round in the same
job. For adversarial high-diameter graphs (long chains)
`connected_components_star` implements the alternating
large-star/small-star algorithm (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14), which converges in O(log² n)
rounds on any shape; label propagation stays the default because
duplicate clusters are diameter-bounded and its per-round cost is
lower — and it RAISES rather than returning partial labels if a graph
ever exceeds its round budget.

Convergence detection: labels only ever decrease, so ``sum(label)``
strictly decreases until fixpoint — one cheap global aggregate per
round instead of a change-count join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from purpleair_data_logger_spark.materialize import materialize_once

# r14 negative result (VERDICT r13 #6): planning the fixpoint ROUNDS
# with AQE disabled (scoped spark.sql.adaptive.enabled=false around
# the loops, restored after) was built and A/B'd twice. A sequential
# per-trial toggle suggested a 12-15% win on bfs/star, but the
# properly interleaved same-JVM A/B (mode alternating per draw, the
# r13 methodology) showed the opposite — star 3.29 -> 4.54 s, bfs
# 3.05 -> 3.27 s min-of-4: without AQE every round runs at the full
# static shuffle-partition width (64-task rounds over frontier-sized
# data) and the extra tasks cost more than the removed per-stage
# barriers. Reverted; numbers in OPTIMIZATION_r14.md. The first
# probe's "win" was an order effect (AQE legs always ran second,
# inheriting the session's accumulated GC pressure).


def connected_components(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    *,
    max_iter: int = 25,
) -> DataFrame:
    """Resolve the undirected graph in ``edges`` to components.

    Returns (node, cluster_id) for every node incident to an edge,
    where cluster_id is the component's minimum node id — a stable,
    engine-portable canonical label. Nodes absent from ``edges``
    (singletons) are simply not emitted; join back to the corpus with
    a left join + coalesce(cluster_id, id) (see `cluster_dedup`).
    """
    adj = materialize_once(
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .union(edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v")))
        .distinct()
        # Materialize once: adj is re-joined every round, and without
        # this the whole upstream pipeline (e.g. LSH mining) would be
        # recomputed per round.
    )
    labels = materialize_once(
        adj.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    converged = prev_sum is None  # empty edge set: nothing to do
    for _ in range(max_iter):
        # Each node's new label: min over (its own label, neighbors' labels).
        propagated = adj.join(
            labels, adj["u"] == labels["node"], "inner"
        ).select(F.col("v").alias("node"), F.col("label"))
        labels = materialize_once(
            labels.select("node", "label")
            .union(propagated)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds — "
            "the graph has components with diameter > max_iter (long "
            "chains). Raise max_iter or use connected_components_star, "
            "which converges in O(log² n) rounds on any shape."
        )
    return labels.select("node", F.col("label").alias("cluster_id"))


def connected_components_star(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    *,
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — O(log²n) rounds on ANY graph shape, vs min-label
    propagation's O(diameter).

    Use this over `connected_components` when components can be long
    chains (linked near-dup sequences, transitive identity graphs);
    for the usual clique-with-bridges duplicate clusters both finish
    in a handful of rounds and label propagation has the lower
    per-round constant.

    Each round: LARGE-STAR connects every strictly-larger neighbor of
    a node to the node's minimum neighborhood member; SMALL-STAR
    connects every not-larger neighbor likewise. Both are one
    groupBy(node) aggregate + one explode — shuffle-bounded, no
    windows. The edge set converges to a star forest whose centers
    are the component minima; same convergence detection as label
    propagation (monotone non-increasing edge-endpoint sum).

    Returns (node, cluster_id) for every edge-incident node, identical
    to `connected_components`.
    """
    base = materialize_once(
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    nodes = materialize_once(
        base.select(F.col("u").alias("node"))
        .union(base.select(F.col("v").alias("node")))
        .distinct()
    )

    def large_star(e: DataFrame) -> DataFrame:
        # symmetric neighborhoods; every strictly-larger neighbor of u
        # connects to min(Γ(u) ∪ {u})
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("_m"))
        return (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("_m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # direct larger→smaller; every smaller neighbor (and u itself)
        # connects to u's minimum smaller neighbor
        d = (
            e.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        m = d.groupBy("u").agg(F.min("v").alias("_m"))
        return (
            d.join(m, "u")
            .select(F.col("v").alias("u"), F.col("_m").alias("v"))
            .union(m.select(F.col("u"), F.col("_m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def checksum(e: DataFrame):
        # `e` is always `small_star` output here, which is already
        # distinct with u > v on every row (see small_star: both union
        # legs emit (larger, min-smaller-neighbor) pairs), so the old
        # greatest/least + distinct re-canonicalization was a per-round
        # no-op costing one extra exchange + aggregate (r13). Same
        # (n, s) values, one map-side-combined aggregate.
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("u") * 1000003 + F.col("v")).alias("s"),
        ).collect()[0]
        return (row["n"], row["s"])

    e = base
    prev = None
    converged = base.isEmpty()
    rounds = 0
    for _ in range(max_iter):
        e = materialize_once(small_star(large_star(e)))
        rounds += 1
        cur = checksum(e)
        if cur == prev:
            converged = True
            break
        prev = cur
    if stats is not None:
        # observability for the O(log² n) claim (pinned in
        # test_cluster_pack's adversarial-chain test)
        stats["rounds"] = rounds
        stats["converged"] = converged
    if not converged:
        # Same posture as connected_components: never return partial
        # labels — an under-merged cluster id silently keeps duplicates.
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds. The algorithm is O(log² n) rounds on any graph "
            "shape, so this indicates an extremely large component or "
            "too small max_iter — raise max_iter."
        )
    # converged to a star forest (u > v always after small_star):
    # leaves point at their component minimum; centers have no
    # outgoing edge and are their own cluster id
    parent = (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .groupBy("u")
        .agg(F.min("v").alias("_cid"))
    )
    return (
        nodes.join(parent, nodes["node"] == parent["u"], "left")
        .select(
            "node",
            F.coalesce(F.col("_cid"), F.col("node")).alias("cluster_id"),
        )
    )


def cluster_dedup(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    *,
    src_col: str = "doc_id_a",
    dst_col: str = "doc_id_b",
    prefer: list[Column] | None = None,
) -> DataFrame:
    """Canonical-document selection over near-dup pairs.

    Output: one row per input row — (id, cluster_id, keep) where
    cluster_id is the minimum id in the row's duplicate cluster
    (its own id for non-duplicated rows) and keep marks the one
    surviving member per cluster. ``df.join(...).filter("keep")``
    is the deduplicated corpus; keeping the full assignment (rather
    than pre-filtering) lets the caller audit cluster sizes and
    removal rates.

    ``prefer``: ordering expressions choosing WHICH member survives —
    e.g. ``[F.desc("quality_score")]`` keeps the best-quality copy,
    the usual production policy (ties always broken by id, so the
    choice stays deterministic). Default (None) keeps the minimum-id
    member with no extra window.

    Scale: the component resolution touches only edge-incident nodes
    (the near-dup subset, tiny vs corpus); the final assignment is one
    left equi-join of the corpus against that small label table —
    broadcastable in the common case where near-dups ≪ corpus. With
    ``prefer``, the survivor-selection window runs over the clustered
    subset only, never the full corpus.
    """
    cc = connected_components(pairs, src_col, dst_col)
    if prefer is None:
        out = df.join(cc, df[id_col] == cc["node"], "left")
        cluster = F.coalesce(F.col("cluster_id"), F.col(id_col))
        return out.select(
            F.col(id_col),
            cluster.alias("cluster_id"),
            (F.col(id_col) == cluster).alias("keep"),
        )
    clustered = df.join(cc, df[id_col] == cc["node"], "inner")
    w = Window.partitionBy("cluster_id").orderBy(*prefer, F.col(id_col))
    best = clustered.select(
        F.col(id_col),
        F.col("cluster_id"),
        (F.row_number().over(w) == 1).alias("keep"),
    )
    singles = df.join(cc, df[id_col] == cc["node"], "left_anti").select(
        F.col(id_col),
        F.col(id_col).alias("cluster_id"),
        F.lit(True).alias("keep"),
    )
    return best.unionByName(singles)
