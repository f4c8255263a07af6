"""Link analysis over edge lists: PageRank in exact integer
arithmetic.

The reference repo has no graph surface (SURVEY.md §2 classifies this
under the beyond-reference LLM-pipeline layer); the use case is
corpus-scale link/co-occurrence graphs — co-purchase affinity,
document hyperlink authority for crawl prioritization, citation
weighting for sampling — where "which nodes matter" feeds curation
the same way quality scores do.

Why integers: PageRank is usually float-valued, but float summation
order differs run-to-run under Spark partitioning AND engine-to-engine
vs the DuckDB oracle. This implementation pins the recurrence to
exact BIGINT arithmetic:

    share(u)    = rank(u) DIV outdeg(u)
    rank'(v)    = scale·(100−d)/100  +  (Σ_{u→v} share(u) · d) DIV 100

with ``d`` the damping percentage (85 = the classic 0.85) and
``scale`` the fixed-point unit (1e9 = rank 1.0). Every operation is
integer, every sum order-independent, so ranks are bit-identical
across partitionings, re-runs, and engines — the repo-wide
exact-arithmetic discipline (`trend_stats`, `time_weighted_avg`)
applied to an iterative algorithm. The DIV truncation loses < 1e-9
of mass per hop, biasing ranks a hair LOW — identically in both
engines, which is the point.

Overflow contract: a node's rank is bounded by the total mass
``scale · N`` (star-graph worst case), so the multiply-by-damping
step needs ``scale · N · damping_pct < 2^63`` — at scale=1e9,
N < 1.08e8 nodes. Beyond that, lower ``scale`` (every factor of 10
buys 10× the nodes at one digit of rank precision).

Scale shape (per iteration): one equi-join of the (cached, lineage-
truncated) adjacency list with the current ranks on the source key,
one map-side-combinable BIGINT sum grouped on the destination key —
two shuffles per round, no windows, no Python, no collect of rank
vectors. Lineage truncates per round exactly as the connected-
components loop does, through `materialize.materialize_once`:
executor-memory blocks single-node, reliable checkpoint files for
cluster runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from purpleair_data_logger_spark.materialize import materialize_once

#: 1e9 fixed-point unit: rank 1.0 == 1_000_000_000.
DEFAULT_SCALE = 10**9


def pagerank(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    *,
    n_iter: int = 8,
    damping_pct: int = 85,
    scale: int = DEFAULT_SCALE,
    directed: bool = False,
) -> DataFrame:
    """Fixed-iteration integer PageRank over ``edges``.

    Returns (node, rank) with rank in ``scale`` fixed-point units
    (initial mass = ``scale`` per node). ``directed=False`` (default)
    symmetrizes the edge list first — the right reading for
    co-occurrence graphs, and it guarantees no dangling nodes.
    ``directed=True`` keeps orientation; nodes with no out-edges then
    LEAK their damped mass each round (ranks still exact and
    engine-portable, just not mass-conserving — the standard
    simplification; callers needing conservation add self-loops).

    Fixed ``n_iter`` rather than convergence detection keeps the
    round count — and therefore the value — deterministic and
    oracle-replayable; 8-10 rounds is the usual knee for ranking use.
    """
    if not 0 < damping_pct < 100:
        raise ValueError(f"damping_pct must be in (0, 100), got {damping_pct}")
    e = edges.select(
        F.col(src_col).cast("long").alias("u"),
        F.col(dst_col).cast("long").alias("v"),
    ).filter(F.col("u").isNotNull() & F.col("v").isNotNull())
    if not directed:
        e = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    dedup = e.distinct()
    deg = dedup.groupBy("u").agg(F.count(F.lit(1)).alias("_deg"))
    # Fold the out-degree INTO the adjacency once — the per-round loop
    # then pays ONE equi-join (adj ⋈ ranks), not two; at 8-10 rounds
    # that halves the join count of the whole job.
    adj = materialize_once(dedup.join(deg, "u").select("u", "v", "_deg"))
    # Node set = every node WITH out-edges (after symmetrization that is
    # every node incident to an edge; directed dangling DESTINATIONS
    # still receive mass through the join each round).
    ranks = materialize_once(
        adj.select(F.col("u").alias("node"))
        .union(adj.select(F.col("v").alias("node")))
        .distinct()
        .withColumn("rank", F.lit(int(scale)).cast("long"))
    )
    teleport = int(scale) * (100 - damping_pct) // 100
    # Zero-share rows for every node, materialized ONCE: unioning them
    # into the share stream makes the per-round aggregate see every
    # node (nodes receiving nothing sum to 0 and keep the teleport
    # term), which replaces the old per-round left join from the node
    # set — one equi-join + one map-side-combinable aggregate per
    # round is the message-passing minimum (optimization guide §2.4:
    # the join and its per-round broadcast build were a second
    # exchange the aggregate can absorb). Σ(shares)+0 ≡
    # coalesce(Σshares, 0), so ranks are bit-identical.
    zero_shares = materialize_once(
        ranks.select("node").withColumn(
            "_share", F.lit(0).cast("long")
        )
    )
    for _ in range(n_iter):
        shares = (
            adj.join(ranks, F.col("u") == F.col("node"))
            .select(
                F.col("v").alias("node"),
                F.expr("rank DIV _deg").alias("_share"),
            )
        )
        ranks = materialize_once(
            zero_shares.union(shares)
            .groupBy("node")
            .agg(
                (
                    F.lit(teleport)
                    + F.expr(f"(sum(_share) * {damping_pct}) DIV 100")
                ).alias("rank")
            )
        )
    return ranks


def triangle_stats(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Exact global triangle census of the undirected graph: one row
    (n_nodes, n_edges, n_wedges, n_triangles, gcc_ppm, gcc) where
    gcc = 3·triangles / wedges is the global clustering coefficient
    (ppm form is exact BIGINT; the float is one division of identical
    integers, bit-identical cross-engine).

    Algorithm: DEGREE ORIENTATION (the node-iterator++ / MapReduce
    classic): orient each undirected edge from its lexicographically
    smaller (degree, id) endpoint to the larger, so (a) every triangle
    is counted exactly ONCE, with no /6 correction, and (b) the wedge
    join's fan-out is bounded by the max ORIENTED out-degree —
    O(√m) on any graph — which is the canonical answer to hub skew:
    a celebrity node of degree 10⁶ contributes only its
    higher-degree-neighbor edges to the join, never 10¹² wedge pairs.

    Scale shape: two equi-joins over the oriented edge list (wedge
    build + closure probe) plus degree/wedge aggregates — all
    map-side combinable; the edge list is materialized once
    (`materialize.materialize_once`) so its upstream mining pipeline
    is not re-executed per reference. NULL/self-loop edges carry no
    observation.
    """
    und = materialize_once(
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).cast("long").alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).cast("long").alias("b"),
        )
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull()
                & (F.col("a") != F.col("b")))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("_db"))
    oriented = materialize_once(
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                F.struct(F.col("_da"), F.col("a"))
                < F.struct(F.col("_db"), F.col("b")),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("_e")
        )
        .select(F.col("_e.u").alias("u"), F.col("_e.v").alias("v"))
    )
    x = oriented.select(F.col("u").alias("xu"), F.col("v").alias("xv"))
    y = oriented.select(F.col("u").alias("yu"), F.col("v").alias("yv"))
    paths = x.join(y, F.col("xv") == F.col("yu"))
    closed = paths.join(
        oriented,
        (F.col("xu") == F.col("u")) & (F.col("yv") == F.col("v")),
        "left_semi",
    )
    tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    counts = und.agg(F.count(F.lit(1)).alias("n_edges"))
    nodes = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) DIV 2")).alias("n_wedges"),
    )
    return (
        nodes.crossJoin(F.broadcast(counts.select("n_edges")))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.expr("(3 * n_triangles * 1000000) DIV n_wedges").alias("gcc_ppm"),
            (
                (F.lit(3) * F.col("n_triangles")).cast("double")
                / F.col("n_wedges").cast("double")
            ).alias("gcc"),
        )
    )


def bfs_hops(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    sources: DataFrame,
    source_col: str,
    *,
    max_hops: int = 12,
    directed: bool = False,
) -> DataFrame:
    """Multi-source BFS: (node, hops) = the minimum hop count from any
    source node, for every node within ``max_hops`` (unreached nodes
    are absent — join back with a left join for ∞ semantics). Exact
    integers, engine-portable, replayable by a recursive-CTE oracle.

    Frontier expansion, the textbook distributed BFS: the round-k
    frontier joins the adjacency list, candidates drop already-settled
    nodes (anti join against the settled set), survivors settle at
    distance k+1 and become the next frontier. Terminates EARLY when a
    frontier empties (diameter rounds, not max_hops) — the convergence
    collect is one scalar per round, the `connected_components`
    discipline, with per-round lineage truncation.

    Scale shape per round: one frontier⋈adjacency equi-join (frontier
    is the small side — broadcast when it fits), one anti join against
    settled, one distinct — no windows, no Python. State = the settled
    set, bounded by |reachable nodes|.
    """
    e = edges.select(
        F.col(src_col).cast("long").alias("u"),
        F.col(dst_col).cast("long").alias("v"),
    ).filter(F.col("u").isNotNull() & F.col("v").isNotNull())
    if not directed:
        e = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    adj = materialize_once(e.distinct())
    settled = materialize_once(
        sources.select(F.col(source_col).cast("long").alias("node"))
        .filter(F.col("node").isNotNull())  # NULL carries no observation
        .distinct()
        .withColumn("hops", F.lit(0).cast("long"))
    )
    frontier = settled
    # r14: planning these rounds with AQE off was A/B'd and REVERTED —
    # see the negative-result note at the top of `operators/clusters`.
    for hop in range(1, max_hops + 1):
        nxt = (
            adj.join(
                frontier.select(F.col("node").alias("u")), "u"
            )
            .select(F.col("v").alias("node"))
            .distinct()
            .join(settled.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(hop).cast("long"))
        )
        nxt = materialize_once(nxt)
        if nxt.isEmpty():
            break
        # Re-checkpointing the accumulated set each round costs
        # O(hops²) writes in theory, but the measured alternative (a
        # lazily-growing union of per-round checkpoints) was 2-4x
        # SLOWER at sf0.1: every later round's anti-join re-scans k
        # stored RDDs instead of one, and the convergence probe pays
        # the same union again (r13 A/B, kept the materialized form).
        settled = materialize_once(settled.unionByName(nxt))
        frontier = nxt
    return settled


def shortest_paths(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    weight_col: str,
    sources: DataFrame,
    source_col: str,
    *,
    directed: bool = False,
    max_rounds: int = 64,
    max_dist: int | None = None,
) -> DataFrame:
    """Multi-source WEIGHTED shortest paths: (node, dist) = the minimum
    total edge cost from any source node, for every reachable node —
    or, with ``max_dist``, for every node within that cost budget
    (candidates beyond the cap are pruned INSIDE the loop, which also
    bounds the round count at ``max_dist`` since weights are >= 1 —
    without the cap, a long cheap chain needs one round per hop and
    can exhaust ``max_rounds`` even though the caller would have
    discarded those far nodes anyway).
    Weights must be POSITIVE integers (validated executably — a zero or
    negative weight would break both the termination argument and the
    exactness contract; NULL and fractional weights on real edges also
    raise, since truncating 1.5 -> 1 or dropping the edge would
    silently change path costs); costs are summed as exact BIGINTs, so results
    are bit-identical across partitionings and engines, replayable by a
    cost-bounded recursive-CTE oracle.

    Distributed Bellman-Ford with frontier pruning: each round relaxes
    only edges out of nodes IMPROVED last round (round 1: the sources),
    takes the per-destination min candidate, and keeps candidates that
    beat the settled distance. With positive integer weights every
    improvement lowers an integer bounded below, so the fixpoint
    arrives in at most (weighted diameter) rounds — early exit on an
    empty improved set, ``max_rounds`` RAISES rather than returning
    partial distances (the `kcore` discipline).

    Scale shape per round: one frontier⋈adjacency equi-join (frontier
    small side — AQE broadcasts when it fits), two map-side-combinable
    MIN aggregates (candidate collapse, settled merge) — no windows, no
    Python; state = the distance table, bounded by |reachable nodes|.
    Parallel edges collapse to their cheapest weight up front, halving
    the per-round join input on multigraphs.
    """
    wgt = F.col(weight_col).cast("long")
    u_e = F.col(src_col).cast("long")
    v_e = F.col(dst_col).cast("long")
    # Weight checks (ADVICE r10): a NULL or fractional weight on a REAL
    # edge (both endpoints present) is a data error and raises — the
    # old cast("long") silently truncated 1.5 -> 1 (changing path
    # costs) and the NULL filter silently dropped the edge. The
    # integral check is a cast round-trip through double; only rows
    # with a NULL endpoint (no edge identity) are dropped silently.
    e = edges.select(
        u_e.alias("u"),
        v_e.alias("v"),
        F.when(u_e.isNull() | v_e.isNull(), F.lit(None).cast("long"))
        .when(
            F.col(weight_col).isNull(),
            F.raise_error(
                F.lit(
                    "shortest_paths: NULL weight on an edge — a "
                    "cost-less edge is a data error, not a missing "
                    "observation; filter or impute upstream"
                )
            ),
        )
        .when(
            wgt.cast("double") != F.col(weight_col).cast("double"),
            F.raise_error(
                F.concat(
                    F.lit("shortest_paths: weights must be integral "
                          "(fractional costs would be silently "
                          "truncated), got "),
                    F.col(weight_col).cast("string"),
                )
            ),
        )
        .when(
            wgt < 1,
            F.raise_error(
                F.concat(
                    F.lit("shortest_paths: weights must be positive "
                          "integers, got "),
                    wgt.cast("string"),
                )
            ),
        )
        .otherwise(wgt)
        .alias("w"),
    ).filter(
        F.col("u").isNotNull() & F.col("v").isNotNull() & F.col("w").isNotNull()
    )
    if not directed:
        e = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))
    adj = materialize_once(e.groupBy("u", "v").agg(F.min("w").alias("w")))
    dist = materialize_once(
        sources.select(F.col(source_col).cast("long").alias("node"))
        .filter(F.col("node").isNotNull())  # NULL carries no observation
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
    )
    frontier = dist
    for _ in range(max_rounds):
        cand = (
            adj.join(
                frontier.select(F.col("node").alias("u"), "dist"), "u"
            )
            .select(F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("_cand"))
        )
        if max_dist is not None:
            cand = cand.filter(F.col("_cand") <= int(max_dist))
        cand = cand.groupBy("node").agg(F.min("_cand").alias("_cand"))
        improved = materialize_once(
            cand.join(
                dist.select("node", F.col("dist").alias("_cur")), "node", "left"
            )
            .filter(F.col("_cur").isNull() | (F.col("_cand") < F.col("_cur")))
            .select("node", F.col("_cand").alias("dist"))
        )
        if improved.isEmpty():
            return dist
        dist = materialize_once(
            dist.unionByName(improved)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        frontier = improved
    raise RuntimeError(
        f"shortest_paths did not converge in {max_rounds} relaxation "
        "rounds — the weighted diameter from the source set exceeds the "
        "cap (long cheap chains). Raise max_rounds."
    )


def kcore(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    *,
    k: int,
    max_iter: int = 100,
) -> DataFrame:
    """The k-CORE of the undirected graph: the maximal subgraph in
    which every node has degree >= k — the standard "dense kernel"
    extractor (community seeds, spam-ring detection, robust hubs that
    survive when hangers-on are stripped). Returns one (node) row per
    member.

    Peeling: repeatedly delete every node whose CURRENT degree is
    below k; the fixpoint is order-independent (the k-core is unique),
    so the result is exact and deterministic. The ROUND COUNT is
    data-dependent (a chain peels one layer per round), but that does
    NOT block a recursive-CTE oracle: the catalog's
    ``kcore_copurchase`` replays the peel in DuckDB with per-round
    window-function degrees and a bool_and() fixpoint stop, plus a
    reference-loop pytest pin.

    Scale shape per round: one degree aggregate + anti-joins of the
    peel set against the edge list (AQE chooses broadcast vs shuffle —
    round 1's peel set can be most of a sparse graph's nodes, so it is
    NOT force-broadcast); lineage checkpoint-truncated per round;
    convergence is one
    scalar collect (the `connected_components` discipline) and
    exceeding ``max_iter`` RAISES rather than returning a partial
    core.
    """
    e = edges.select(
        F.col(src_col).cast("long").alias("u"),
        F.col(dst_col).cast("long").alias("v"),
    ).filter(
        F.col("u").isNotNull() & F.col("v").isNotNull()
        & (F.col("u") != F.col("v"))
    )
    adj = materialize_once(
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    )
    for _ in range(max_iter):
        deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("_d"))
        low = deg.filter(F.col("_d") < k).select("u")
        if low.isEmpty():
            return adj.select(F.col("u").alias("node")).distinct()
        adj = materialize_once(
            adj.join(low, "u", "left_anti")
            .join(low.select(F.col("u").alias("v")), "v", "left_anti")
        )
    raise RuntimeError(
        f"kcore(k={k}) did not converge in {max_iter} peeling rounds — "
        "the graph peels one thin layer per round (long chains). "
        "Raise max_iter."
    )
