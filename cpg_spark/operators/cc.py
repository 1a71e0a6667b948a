"""Iterative large-star / small-star connected components.

The canonicalization kernel (SURVEY.md A1): the reference unifies aliased
Type objects into one canonical node by in-heap rewriting
(``TypeResolver.java:83-160``); at cluster scale alias unification is
connected components over the alias edge graph.  Catalyst has no CC
primitive, so we run the two-step large-star/small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
public literature; also the algorithm GraphFrames uses), which converges in
O(log n) rounds of joins+aggregations.

Each round is checkpointed via ``localCheckpoint`` to cut lineage blowup
(SURVEY.md §7.3) — at 10^12 scale the checkpoint would be an Iceberg table
write per round instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """Returns (node, component) where component = min node id reachable.

    Node ids may be any orderable type (string hashes work).  Undirected
    semantics: edges are symmetrized internally.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    # parent pointers: every node starts pointing at its min neighbor or self
    e = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    e = e.distinct().localCheckpoint(eager=True)

    for _ in range(max_rounds):
        # large-star: connect every strictly-larger neighbor to the min
        # neighbor (including self) of u
        min_nbr = e.groupBy("u").agg(F.min("v").alias("m"))
        large = (
            e.join(min_nbr, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.least("m", F.col("u")).alias("v"))
        )
        e1 = large.unionByName(
            min_nbr.select(F.col("u"), F.least("m", "u").alias("v"))
        ).filter(F.col("u") != F.col("v")).distinct()

        # small-star: connect all neighbors <= u to u's min neighbor
        e1s = e1.unionByName(e1.select(F.col("v").alias("u"), F.col("u").alias("v")))
        smaller = e1s.filter(F.col("v") <= F.col("u"))
        min_small = smaller.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            smaller.join(min_small, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .unionByName(min_small.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        ).localCheckpoint(eager=True)
        # convergence: every node points directly at its component min —
        # i.e. the graph is a star forest: no v appears as a u with a
        # different target
        chain = (
            small.alias("a")
            .join(small.alias("b"), F.col("a.v") == F.col("b.u"))
            .filter(F.col("a.u") != F.col("b.v"))
            .limit(1)
            .count()
        )
        e = small
        if chain == 0:
            break

    comp = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    # isolated nodes of the input keep themselves as component
    all_nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    return (
        all_nodes.join(comp, "node", "left")
        .select(
            "node",
            F.coalesce("component", "node").alias("component"),
        )
    )


def transitive_closure(
    edges: DataFrame,
    child: str = "child",
    parent: str = "parent",
    max_iters: int = 30,
    with_depth: bool = False,
) -> DataFrame:
    """(descendant, ancestor[, depth]) pairs — iterative join to fixpoint.

    The Spark form of the reference's supertype closure walk
    (``TypeHierarchyResolver.java:117-127``); hierarchies are shallow so the
    loop runs ≤ depth iterations, each checkpointed.

    ``with_depth`` adds the minimal path length (direct parent = 1): the
    BFS frontier reaches each pair at its minimal depth first and the
    anti-join keeps only first sightings, so the recorded depth is minimal —
    the ranking key for innermost-ancestor call resolution
    (CallResolver.java:1707-1739 walks parents nearest-first)."""
    base = edges.select(
        F.col(child).alias("descendant"), F.col(parent).alias("ancestor")
    ).distinct()
    if with_depth:
        base = base.withColumn("depth", F.lit(1))
    closure = base.localCheckpoint(eager=True)
    frontier = closure
    direct = base.select("descendant", "ancestor") if with_depth else base
    for _ in range(max_iters):
        nxt = (
            frontier.alias("f")
            .join(direct.alias("b"), F.col("f.ancestor") == F.col("b.descendant"))
            .select(
                F.col("f.descendant").alias("descendant"),
                F.col("b.ancestor").alias("ancestor"),
                *([(F.col("f.depth") + 1).alias("depth")] if with_depth else []),
            )
            .join(closure.select("descendant", "ancestor"),
                  ["descendant", "ancestor"], "left_anti")
            .distinct()
            .localCheckpoint(eager=True)
        )
        if nxt.limit(1).count() == 0:
            break
        # both sides are already checkpointed — a lazy union keeps the
        # lineage flat without paying one more materialization job per
        # round (hierarchies are shallow: the union chain stays short)
        closure = closure.unionByName(nxt)
        frontier = nxt
    return closure


def bfs_reachable(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 100,
) -> DataFrame:
    """Distributed BFS: (node, min_depth) for every node reachable from
    ``sources`` (a frame with a ``node`` column; depth 0) — the Spark
    form of the reference's ``followNextEOG``/``followPrevEOG`` path
    search (``Extensions.kt:139-165``), which DFS-walks edge lists
    in-heap.

    Each round joins the frontier against the edge table and anti-joins
    the visited set, so a node is recorded at its FIRST (minimal) depth;
    rounds are eagerly checkpointed to cut lineage (SURVEY §7.3).  The
    loop count is bounded by graph diameter, not size — every round is a
    pair of equi-joins that shuffle only the frontier."""
    e = edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v")).distinct()
    visited = (
        sources.select(F.col("node")).distinct()
        .withColumn("min_depth", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = visited
    for depth in range(1, max_iters + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["_u"])
            .select(F.col("_v").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("min_depth", F.lit(depth))
            .localCheckpoint(eager=True)
        )
        if nxt.limit(1).count() == 0:
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited
