"""Graph analytics over the emitted triple tables.

The reference stops at loading the graph into Neo4j and leaves analytics
to Cypher; a distributed triple factory can run the standard graph
measures in-engine over the ``(subj, pred, obj)`` edge table:

* :func:`degree_stats` — in/out degree per node, one aggregation each.
* :func:`pagerank` — classic damped PageRank by iterated join+aggregate:
  rank/out_degree flows along edges, dangling mass redistributes
  uniformly. Each iteration is one join (broadcast-or-shuffle, AQE's
  call — the rank frame is node-scale and may exceed broadcast limits)
  plus one groupBy, the dangling mass is a broadcast 1-row scalar frame
  (no per-iteration driver action), and the node/out-degree dimensions
  are computed once and persisted. An EAGER ``localCheckpoint`` every
  :data:`PAGERANK_CHECKPOINT_EVERY` rounds truncates the growing lineage —
  same discipline as the connected-components loop
  (operators/canonicalize.py), which checkpoints every round.

Edges are treated as a multiset (SYNAPSES_ONTO is CREATE semantics —
parallel edges carry proportionally more rank), matching what Cypher
aggregation over the loaded graph would see.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: PageRank rounds between eager checkpoints: a round is cheap (one join +
#: one groupBy), so lineage may grow a few rounds before it is truncated
PAGERANK_CHECKPOINT_EVERY = 5


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
) -> DataFrame:
    """All ``(src, dst)`` pairs connected by a directed path of ≥1 edges.

    The ontology-closure primitive of a knowledge graph (SUBCLASS_OF /
    PART_OF hierarchies must be closed before entailment queries can be
    answered with one equi-join). Iterated path DOUBLING: after round
    ``i`` the frame holds every path of length ≤ 2^i, so a
    diameter-``d`` graph converges in ⌈log₂ d⌉ rounds — the right trade
    at scale, where a semi-naive frontier loop would take ``d``
    shuffle rounds on a deep hierarchy. Each round is one self-join
    keyed on the middle node plus one map-side-combined ``distinct``;
    lineage is truncated with an eager ``localCheckpoint`` every round,
    as in the connected-components loop: the round's count action runs
    over the checkpoint instead of re-running the self-join.
    Convergence is detected by a per-round count action (⌈log₂ d⌉
    driver round-trips total, not per-path-length).

    Cycles are safe (closure of a cycle is the full reachability
    relation; ``distinct`` keeps the frame finite); ``max_iterations``
    bounds the loop regardless.
    """
    paths = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_paths = paths.count()
    for i in range(max_iterations):
        doubled = (
            paths.alias("a")
            .join(
                paths.alias("b"),
                F.col("a.dst") == F.col("b.src"),
            )
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        )
        paths = paths.unionByName(doubled).distinct().localCheckpoint(eager=True)
        n_next = paths.count()
        if n_next == n_paths:
            break
        n_paths = n_next
    return paths


def degree_stats(edges: DataFrame, src: str = "subj", dst: str = "obj") -> DataFrame:
    """Per-node in/out degree over a (possibly multiset) edge table."""
    out_deg = edges.groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_deg = edges.groupBy(F.col(dst).alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        out_deg.join(in_deg, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def k_hop_neighborhood(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src: str = "subj",
    dst: str = "obj",
    seed_col: str = "seed",
) -> DataFrame:
    """``(seed, node, hop)`` — every node within ``k`` directed hops of
    each seed, with ``hop`` the BFS distance (min #edges; the seed itself
    at hop 0).

    The subgraph-extraction primitive for GNN training and entity-context
    queries ("everything 2 synapses downstream of these neurons").
    Level-synchronous frontier BFS: round ``i`` joins the CURRENT
    frontier — never the full visited set — against the edge table, then
    anti-joins the visited set so each (seed, node) is expanded exactly
    once; reaching a node first at round ``i`` IS the min-distance
    guarantee, no min-aggregation needed. Scale shape: ≤ ``k`` rounds
    (small by use case), each one join keyed on the node (a hub key skews
    a round the same way it skews any adjacency join — AQE's skew
    handling applies) plus one (seed, node)-keyed anti join; state is the
    visited set, bounded by the k-hop ball sizes, not the graph. Only the
    per-round FRONTIER is eagerly ``localCheckpoint``-ed (r06, per the r05
    advisor): the visited set is kept as the lazy union of already-
    checkpointed frontiers, so lineage stays ≤ k shallow unions and the
    accumulated ball is no longer rewritten k times. The loop exits early
    when a frontier drains (one bounded emptiness probe per round).

    Parallel edges and cycles are safe (``distinct`` frontiers, visited
    anti-join); ``k = 0`` returns the seeds alone.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    e = edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v")).distinct()
    frontier = (
        seeds.select(F.col(seed_col).alias("seed"))
        .distinct()
        .select("seed", F.col("seed").alias("node"), F.lit(0).alias("hop"))
        .localCheckpoint(eager=True)
    )
    visited = frontier
    for i in range(1, k + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["_u"])
            .select("seed", F.col("_v").alias("node"), F.lit(i).alias("hop"))
            .distinct()
            .join(visited.select("seed", "node"), ["seed", "node"], "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        # lazy union of checkpointed frontiers — no re-checkpoint of the
        # whole accumulated ball per round
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited


def pagerank(
    edges: DataFrame,
    src: str = "subj",
    dst: str = "obj",
    damping: float = 0.85,
    n_iterations: int = 20,
) -> DataFrame:
    """Damped PageRank with uniform dangling-mass redistribution.

    Fixed iteration count (not convergence-tested) so results are
    deterministic and cross-checkable against an independent
    implementation. Output: (node, rank), ranks summing to 1.
    Empty edge tables return an empty (node, rank) frame.
    """
    # the caller's lineage may be expensive (kg_pagerank feeds the full
    # pipeline's synapse triples in): persist the projected edge table so
    # the n_iterations joins below rescan a materialized frame, not the
    # upstream plan, and unpersist everything before returning (the final
    # eager localCheckpoint truncates the returned frame's lineage, so
    # nothing the caller holds depends on these caches)
    edges = edges.select(F.col(src).alias(src), F.col(dst).alias(dst)).persist()
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .persist()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        out = nodes.withColumn("rank", F.lit(0.0)).localCheckpoint(eager=True)
        nodes.unpersist()
        edges.unpersist()
        return out
    out_deg = edges.groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree")
    ).persist()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    base = (1.0 - damping) / n_nodes

    for i in range(n_iterations):
        with_deg = ranks.join(out_deg, "node", "left")
        # dangling nodes (no out-edges) spread their whole rank uniformly;
        # the mass rides as a broadcast 1-row scalar frame so the whole
        # iteration stays inside the plan (no driver round-trip per round)
        dangling = with_deg.where(F.col("out_degree").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dangling")
        )
        contribs = (
            edges.join(
                with_deg.where(F.col("out_degree").isNotNull()).select(
                    F.col("node").alias(src),
                    (F.col("rank") / F.col("out_degree")).alias("share"),
                ),
                src,
            )
            .groupBy(F.col(dst).alias("node"))
            .agg(F.sum("share").alias("incoming"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce("incoming", F.lit(0.0))
                        + F.col("_dangling") / n_nodes
                    )
                ).alias("rank"),
            )
        )
        if (i + 1) % PAGERANK_CHECKPOINT_EVERY == 0:
            # eager: actually materializes, bounding plan growth; a lazy
            # checkpoint would re-run everything since the last one at the
            # next action
            ranks = ranks.localCheckpoint(eager=True)
    if n_iterations % PAGERANK_CHECKPOINT_EVERY != 0:
        ranks = ranks.localCheckpoint(eager=True)
    # returned frame is checkpoint-rooted — safe to release the caches now
    out_deg.unpersist()
    nodes.unpersist()
    edges.unpersist()
    return ranks
