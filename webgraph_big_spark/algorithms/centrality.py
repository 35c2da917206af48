"""Geometric centralities from bounded all-pairs distances.

Reference: ``algo/LinearGeometricCentrality.java:78`` computes
Σ_y coeff(d(y, x)) by one BFS per node (thread-per-source, exact) with
pluggable coefficient families (harmonic 1/d, exponential α^d, …,
``LinearGeometricCentrality.java:82-124``); HyperBall approximates the
same sums probabilistically (``algo/HyperBall.java:245``).

Spark-native: materialize the t-bounded distance relation
(x, y, dist) by iterated min-plus relaxation — one join + min-agg per
round, all pairs at once instead of per-source BFS — then every
centrality is one aggregation with the coefficient as a scalar
expression.  Exact for t ≥ diameter; at web scale use hyperball.py.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, functions as F

from webgraph_big_spark.graph import Graph


def bounded_distances(g: Graph, t: int) -> DataFrame:
    """(x, y, dist): directed distance from x to y where ≤ t."""
    edges = g.edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    dist = (
        g.nodes()
        .select(F.col("id").alias("x"), F.col("id").alias("y"), F.lit(0).alias("dist"))
        .localCheckpoint(eager=True)
    )
    for d in range(1, t + 1):
        expanded = (
            dist.filter(F.col("dist") == d - 1)
            .join(edges, F.col("y") == F.col("src"))
            .select("x", F.col("dst").alias("y"), F.lit(d).alias("dist"))
        )
        dist = (
            dist.union(expanded)
            .groupBy("x", "y")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return dist


def geometric_centrality(
    g: Graph,
    t: int,
    coeff: Callable[[Column], Column],
    name: str = "centrality",
    rnd: int = 9,
) -> DataFrame:
    """(id, <name>): Σ over y≠x with d(y, x) ≤ t of coeff(d) — centrality
    of x counts INCOMING distances (positional convention of the
    reference, ``LinearGeometricCentrality.java:66-76``)."""
    dist = bounded_distances(g, t)
    return (
        dist.filter(F.col("dist") > 0)
        .groupBy(F.col("y").alias("id"))
        .agg(F.round(F.sum(coeff(F.col("dist"))), rnd).alias(name))
    )


def harmonic_centrality(g: Graph, t: int, rnd: int = 9) -> DataFrame:
    """Harmonic: Σ 1/d — the reference's default family."""
    return geometric_centrality(
        g, t, lambda d: F.lit(1.0) / d.cast("double"), "harmonic", rnd
    )
