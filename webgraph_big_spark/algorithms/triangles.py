"""Triangle counting — degree-ordered sorted-neighbour intersection.

North-rule algorithm (reference's LAW companion; data model per
``ImmutableGraph.java:201``: sorted duplicate-free successor lists — the
property that makes ``array_intersect`` the natural Spark kernel).

Algorithm (the standard compact-forward / degree orientation):

  1. simple undirected graph (symmetrize + no loops + dedup,
     ``Transform.simplify`` semantics, ``Transform.java:645``);
  2. orient each edge u—v from the lower (degree, id) endpoint to the
     higher: the resulting DAG has max outdegree O(√m), which bounds the
     intersection work and — crucially — caps hub successor lists
     (the skew defense for this operator);
  3. triangles = Σ over oriented edges (u,v) of |N⁺(u) ∩ N⁺(v)|: each
     row of the oriented CSR adjacency (u, N⁺(u)) explodes into its
     edges, which already carry N⁺(u), and one join on v brings N⁺(v)
     for ``size(array_intersect(...))``.

Each call builds the oriented CSR adjacency once, as an eager
``localCheckpoint`` (no session cache entry; its blocks go with the
returned DataFrame).  The per-edge intersection runs JVM-side inside
whole-stage codegen (no Python in the hot path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from webgraph_big_spark.graph import Graph, broadcast_threshold
from webgraph_big_spark.transforms import simplify


def _edge_pairs(g: Graph) -> DataFrame:
    """(src, dst, _nu, _nv) per oriented edge whose dst has an oriented
    out-arc (any other edge closes no triangle).

    The oriented CSR adjacency (id, sorted N⁺(id)) is an eager
    ``localCheckpoint``: no session cache entry, and its blocks are
    freed with the returned DataFrame.  Its rows and arcs, observed on
    that checkpoint job, size the N⁺(v) side, which is broadcast while
    it fits the broadcast threshold: a checkpoint has no size
    statistics, so Catalyst would plan a sort-merge join."""
    simple = simplify(g).edges
    deg = simple.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    e = (
        simple.join(deg.withColumnRenamed("id", "src").withColumnRenamed("deg", "_dsrc"), "src")
        .join(deg.withColumnRenamed("id", "dst").withColumnRenamed("deg", "_ddst"), "dst")
    )
    keep = (F.col("_dsrc") < F.col("_ddst")) | (
        (F.col("_dsrc") == F.col("_ddst")) & (F.col("src") < F.col("dst"))
    )
    size = Observation()
    adj = (
        e.filter(keep)
        .groupBy(F.col("src").alias("id"))
        .agg(F.sort_array(F.collect_set("dst")).alias("nbrs"))
        .observe(
            size,
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.sum(F.size("nbrs")), F.lit(0)).alias("arcs"),
        )
        .localCheckpoint(eager=True)
    )
    nv = adj.select(F.col("id").alias("dst"), F.col("nbrs").alias("_nv"))
    # id, array header and row overhead per row; 8 B per neighbour
    if 40 * size.get["rows"] + 8 * size.get["arcs"] <= broadcast_threshold(g.edges.sparkSession):
        nv = F.broadcast(nv)
    return adj.select(
        F.col("id").alias("src"), F.col("nbrs").alias("_nu"), F.explode("nbrs").alias("dst")
    ).join(nv, "dst")


def triangle_edges(g: Graph) -> DataFrame:
    """Per-oriented-edge triangle counts (src, dst, tri)."""
    return _edge_pairs(g).select(
        "src", "dst", F.size(F.array_intersect("_nu", "_nv")).alias("tri")
    )


def triangle_count(g: Graph) -> int:
    """Total number of triangles in the underlying simple graph."""
    row = triangle_edges(g).agg(F.coalesce(F.sum("tri"), F.lit(0)).alias("t")).first()
    return int(row["t"])
