"""Breadth-first distances — the frontier loop.

Analogue of ``ParallelBreadthFirstVisit`` (``algo/ParallelBreadthFirstVisit.java:79``):
its shared queue + CAS ``marker`` array + per-level CyclicBarrier map to a
``visited`` state DataFrame, a ``frontier`` DataFrame and one Spark job
per level: the frontier's checkpoint, whose observed row count also ends
the loop (``graph.frontier_reach``; SURVEY.md §3.3).  There is no depth
cap: a search always ends on an empty frontier, as the reference's
visit ends on an empty queue, at most n levels in.  ``visit_all``
reproduces ``visitAll()`` (``:272``): restart from the smallest
unvisited node until every node is reached; the per-node "round" is the
BFS index — which is exactly how the reference derives WCC
(``algo/ConnectedComponents.java:107``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from webgraph_big_spark.graph import Graph, co_partitioned, frontier_reach


def bfs_distances(
    g: Graph,
    sources: list[int] | DataFrame,
    symmetric: bool = False,
    fixed_rounds: int | None = None,
    parents: bool = False,
) -> DataFrame:
    """(id, dist[, parent]) for nodes reachable from any source
    (multi-source BFS).

    Unreached nodes are absent from the result (dist would be ∞).
    ``fixed_rounds`` runs at most k expansion rounds (oracle gate mode).
    ``parents=True`` adds the BFS-tree parent — the reference's
    ``marker`` holding the parent instead of the round
    (``ParallelBreadthFirstVisit.java:183``); ties are broken
    deterministically by minimum parent id (sources get parent = own
    id, as the reference's roots point at themselves).
    """
    spark = g.edges.sparkSession
    if isinstance(sources, DataFrame):
        src_df = sources.select(F.col("id").cast("long"))
    else:
        src_df = spark.createDataFrame([(int(s),) for s in sources], "id long")

    first_cols = ["id", F.lit(0).alias("dist")] + (
        [F.col("id").alias("parent")] if parents else []
    )

    if symmetric:
        arc_view = g.edges.select("src", "dst")
    else:
        # undirected expansion = arcs in both directions.  Deliberately
        # NOT symmetrize() (union + distinct): reachability is unchanged
        # by duplicate arcs (the frontier is dedup'd per level, parents
        # take min), so the dedup shuffle before the pin is pure cost —
        # guide §2.4, remove shuffles outright.
        arc_view = g.edges.select("src", "dst").union(
            g.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    # hash-partitioned by the expansion key and pinned: per level only
    # the frontier moves (see co_partitioned for the full recipe)
    edges = co_partitioned(
        arc_view, "src", rows=g.num_arcs() * (1 if symmetric else 2)
    )

    def expand(frontier: DataFrame, depth: int) -> DataFrame:
        # shuffle_hash on the stats-less frontier — without it Catalyst
        # plans SMJ and re-Exchanges the cached edge table every level
        arrivals = edges.join(
            frontier.select(F.col("id").alias("src")).hint("shuffle_hash"), "src"
        )
        if parents:
            nxt = arrivals.groupBy(F.col("dst").alias("id")).agg(
                F.min("src").alias("parent")
            )
        else:
            nxt = arrivals.select(F.col("dst").alias("id")).distinct()
        return nxt.select(
            "id", F.lit(depth).alias("dist"), *(["parent"] if parents else [])
        )

    try:
        return frontier_reach(src_df.select(*first_cols), expand, fixed_rounds)
    finally:
        edges.unpersist()


def visit_all(
    g: Graph, symmetric: bool = False, checkpoint_every: int = 25
) -> DataFrame:
    """(id, round, dist): BFS from node 0, then from the smallest
    unvisited node, etc. — ``ParallelBreadthFirstVisit.visitAll``
    (``algo/ParallelBreadthFirstVisit.java:272``).  ``round`` equals the
    reference's component marker for symmetric graphs.

    **Scale paths.**  For ``symmetric=True`` the visit order is provably
    component-min-id order and each BFS stays inside its component, so
    the whole output is computed in PARALLEL: one distributed CC, one
    multi-source BFS from every component head at once, and a scalable
    rank for the round index — O(diameter) Spark rounds total,
    independent of the component count.  The directed path keeps the
    reference's order-dependent semantics (a later BFS excludes
    earlier-visited nodes) and is inherently sequential per component —
    O(#components) driver rounds; its union/lineage chains are
    truncated every ``checkpoint_every`` components, but don't use it
    on graphs with millions of components."""
    spark = g.edges.sparkSession
    if symmetric:
        from webgraph_big_spark.algorithms.components import connected_components
        from webgraph_big_spark.functions import global_rank

        comp = connected_components(g, symmetric=True).localCheckpoint(eager=True)
        heads = comp.select(F.col("comp").alias("id")).distinct()
        rounds = global_rank(
            heads.select(F.col("id").alias("comp")), ["comp"], out="round"
        )
        dists = bfs_distances(g, heads, symmetric=True)
        return (
            comp.join(rounds, "comp")
            .join(dists, "id")
            .select("id", F.col("round").cast("long"), F.col("dist").cast("int"))
        )

    def unvisited(df: DataFrame) -> tuple[DataFrame, dict]:
        # the next head and the loop's end ride on the checkpoint job
        seen = Observation()
        df = df.observe(seen, F.min("id").alias("head"), F.count(F.lit(1)).alias("n"))
        return df.localCheckpoint(eager=True), seen.get

    remaining, seen = unvisited(g.nodes())
    out = spark.createDataFrame([], "id long, round long, dist int")
    rnd = 0
    while seen["n"]:
        d = bfs_distances(g, [int(seen["head"])], symmetric=symmetric)
        out = out.union(d.select("id", F.lit(rnd).cast("long").alias("round"), F.col("dist").cast("int")))
        remaining, seen = unvisited(remaining.join(d.select("id"), "id", "left_anti"))
        if (rnd + 1) % checkpoint_every == 0:
            out = out.localCheckpoint(eager=True)  # truncate the union chain
        rnd += 1
    return out
