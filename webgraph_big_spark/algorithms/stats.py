"""Whole-graph statistics — the ``Stats.run`` analogue (``Stats.java:96``).

One pass over the edge table computes everything the reference's stats
job reports: in/out-degree histograms, min/max degree with arg-nodes,
dangling (outdeg 0) / terminal / loop counts — each a groupBy or agg over
the same scan (Catalyst shares it when collected together).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from webgraph_big_spark.graph import Graph


def degree_histogram(g: Graph, direction: str = "out", include_zero: bool = True) -> DataFrame:
    """(deg, n_nodes) — outdegree/indegree frequency table
    (``Stats.java:96``, ``examples/OutdegreeStats.java:43``)."""
    if direction == "out":
        deg = g.out_degrees(include_zero=include_zero).select(F.col("outdeg").alias("deg"))
    else:
        deg = g.in_degrees(include_zero=include_zero).select(F.col("indeg").alias("deg"))
    return deg.groupBy("deg").agg(F.count("*").alias("n_nodes"))


def graph_stats(g: Graph) -> dict:
    """Scalar stats report: nodes, arcs, loops, dangling, terminal,
    min/max degrees + argmax nodes — ``Stats.run`` (``Stats.java:96``)."""
    n = g.num_nodes()
    edges = g.edges.select("src", "dst").cache()
    outdeg = g.out_degrees(include_zero=True).cache()
    try:
        m, loops = edges.agg(
            F.count("*").alias("m"),
            F.sum(F.when(F.col("src") == F.col("dst"), 1).otherwise(0)).alias("loops"),
        ).first()
        indeg = g.in_degrees(include_zero=True)
        o = outdeg.agg(
            F.min("outdeg").alias("mindeg"),
            F.max("outdeg").alias("maxdeg"),
            F.sum(F.when(F.col("outdeg") == 0, 1).otherwise(0)).alias("dangling"),
        ).first()
        argmax = (
            outdeg.orderBy(F.desc("outdeg"), F.asc("id")).limit(1).first()
        )
        i = indeg.agg(
            F.min("indeg").alias("minindeg"), F.max("indeg").alias("maxindeg")
        ).first()
        # terminal = node with no successors outside {itself} (dangling once
        # loops removed), per the reference's dangling/terminal distinction.
        terminal = (
            edges.filter(F.col("src") != F.col("dst"))
            .select(F.col("src").alias("id"))
            .distinct()
            .count()
        )
        # successor-gap stats (the reference's `.stats` successor-gap report,
        # Stats.java:96 / BVGraph residual statistics): per-node sorted
        # successor deltas, aggregated without materializing per-gap rows —
        # the array expressions stay inside whole-stage codegen.
        adj = g.adjacency()
        gaps = adj.select(
            F.aggregate(
                F.zip_with(
                    F.slice("dsts", 2, F.size("dsts") - 1),
                    F.slice("dsts", 1, F.size("dsts") - 1),
                    lambda cur, prev: cur - prev,
                ),
                F.struct(
                    F.lit(0).cast("long").alias("s"),
                    F.lit(0).cast("long").alias("c"),
                    F.lit(0).cast("long").alias("mx"),
                ),
                lambda acc, gp: F.struct(
                    (acc["s"] + gp).alias("s"),
                    (acc["c"] + 1).alias("c"),
                    F.greatest(acc["mx"], gp).alias("mx"),
                ),
            ).alias("gs")
        ).agg(
            F.sum(F.col("gs.s")).alias("gap_sum"),
            F.sum(F.col("gs.c")).alias("gap_cnt"),
            F.max(F.col("gs.mx")).alias("gap_max"),
        ).first()
        gap_cnt = int(gaps["gap_cnt"] or 0)
        return {
            "nodes": n,
            "arcs": int(m),
            "loops": int(loops or 0),
            "dangling": int(o["dangling"] or 0),
            "terminal": n - int(terminal),
            "min_outdegree": int(o["mindeg"] or 0),
            "max_outdegree": int(o["maxdeg"] or 0),
            "argmax_outdegree": int(argmax["id"]) if argmax else None,
            "min_indegree": int(i["minindeg"] or 0),
            "max_indegree": int(i["maxindeg"] or 0),
            "avg_outdegree": float(m) / n if n else 0.0,
            "successor_avg_gap": (float(gaps["gap_sum"]) / gap_cnt) if gap_cnt else 0.0,
            "successor_max_gap": int(gaps["gap_max"] or 0),
        }
    finally:
        edges.unpersist()
        outdeg.unpersist()
