"""Graph transforms — the ``Transform`` surface as DataFrame plans.

Every operator in reference ``Transform.java`` is a lazy view there; here
each is a (lazy) DataFrame expression, so Catalyst fuses chains of
transforms into single stages exactly like the reference's composed
iterator trees (``Transform.java:222``, ``LazyLongIterators.java:36``)
— see SURVEY.md §2.2/2.3/2.6.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, functions as F

from webgraph_big_spark.graph import Graph


def _kept_nodes(g: Graph) -> int | None:
    """The node count a graph derived from ``g``'s arcs may inherit: a
    dense graph's ``[0, n)`` outlives any change to its arcs, while a
    scattered graph's node set is its arcs' endpoints, so its count is
    the new graph's to derive."""
    return g._num_nodes if g.dense else None


# ---------------------------------------------------------------------------
# arc-level filters (Transform.filterArcs, Transform.java:503)
# ---------------------------------------------------------------------------


def filter_arcs(g: Graph, predicate: Column) -> Graph:
    """Keep arcs satisfying a boolean Column over (src, dst[, labels]).

    The ``ArcFilter.accept(i, j)`` extension point (``Transform.java:103``)
    becomes a Catalyst expression — pushed down to the scan when possible.
    """
    return Graph(g.edges.filter(predicate), _kept_nodes(g), dense=g.dense)


def no_loops(g: Graph) -> Graph:
    """Drop self-loops — ``Transform.NO_LOOPS`` (``Transform.java:134-148``)."""
    return filter_arcs(g, F.col("src") != F.col("dst"))


# ---------------------------------------------------------------------------
# set operations on arc sets (Transform union/transpose/symmetrize/simplify)
# ---------------------------------------------------------------------------


def transpose(g: Graph) -> Graph:
    """(x,y) → (y,x) — ``Transform.transposeOffline``
    (``Transform.java:1098``).  The reference ext-sorts batches; Spark's
    shuffle does the same at the next wide op, so this is a pure column
    swap with zero immediate cost."""
    others = [c for c in g.edges.columns if c not in ("src", "dst")]
    return Graph(
        g.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), *others
        ),
        _kept_nodes(g),
        dense=g.dense,
    )


class BidirectionalGraph:
    """``BidirectionalImmutableGraph.java:27`` analogue: a wrapper
    pairing a graph (``forward``) with its transpose (``backward``) so
    predecessor-side access — in-degrees, backward reachability,
    transpose-side HyperBall counters — reuses ONE transpose instead of
    every caller deriving its own.  Pass a precomputed (e.g. stored)
    transpose to avoid the swap-shuffle entirely, as the reference does
    when both orientations are on disk."""

    def __init__(self, graph: Graph, transpose_g: Graph | None = None):
        self.forward = graph
        self.backward = transpose_g if transpose_g is not None else transpose(graph)
        if transpose_g is not None and graph.num_nodes() != transpose_g.num_nodes():
            raise ValueError("graph and transpose disagree on node count")

    def num_nodes(self) -> int:
        return self.forward.num_nodes()

    def num_arcs(self) -> int:
        return self.forward.num_arcs()

    def out_degrees(self, include_zero: bool = False) -> DataFrame:
        return self.forward.out_degrees(include_zero)

    def in_degrees(self, include_zero: bool = False) -> DataFrame:
        """Implemented on the transpose, like the reference's
        ``indegrees()``."""
        return self.backward.out_degrees(include_zero).withColumnRenamed(
            "outdeg", "indeg"
        )


def union_graphs(g0: Graph, g1: Graph) -> Graph:
    """Arc-set union, n = max(n0, n1) — ``Transform.union``
    (``Transform.java:1659``, ``UnionImmutableGraph.java:35``)."""
    n0, n1 = _kept_nodes(g0), _kept_nodes(g1)
    return Graph(
        g0.edges.select("src", "dst").union(g1.edges.select("src", "dst")).distinct(),
        max(n0, n1) if n0 is not None and n1 is not None else None,
        dense=g0.dense and g1.dense,
    )


def union_labelled(g0: Graph, g1: Graph, merge: dict[str, Column] | None = None) -> Graph:
    """Labelled union with a merge strategy for duplicate arcs.

    ``LabelMergeStrategy.merge(l0, l1)`` (``labelling/LabelMergeStrategy.java:28``)
    becomes an aggregate expression per label column; pass e.g.
    ``{"w": F.sum("w").alias("w")}`` for additive labels.  The default is
    ``F.min`` per label column — a *deterministic* stand-in for the
    reference's keep-first (``labelling/Labels.java:25``): Spark's
    ``first`` depends on partition/task order and would break
    run-to-run reproducibility.
    """
    label_cols = [c for c in g0.edges.columns if c not in ("src", "dst")]
    if merge is None:
        merge = {c: F.min(c).alias(c) for c in label_cols}
    both = g0.edges.unionByName(g1.edges)
    return Graph(both.groupBy("src", "dst").agg(*merge.values()))


def symmetrize(g: Graph) -> Graph:
    """g ∪ gᵀ — ``Transform.symmetrizeOffline`` (``Transform.java:573``)."""
    return union_graphs(g, transpose(g))


def simplify(g: Graph) -> Graph:
    """Symmetrize + drop loops ("simple undirected graph") —
    ``Transform.simplify`` (``Transform.java:645,704``)."""
    return no_loops(symmetrize(g))


# ---------------------------------------------------------------------------
# node maps (Transform.mapOffline) and induced subgraphs
# ---------------------------------------------------------------------------


def map_nodes(g: Graph, mapping: DataFrame, broadcast_map: bool = True) -> Graph:
    """Renumber / quotient / delete nodes through a partial map.

    ``Transform.mapOffline`` semantics (``Transform.java:1177-1206``):
    ``mapping(id, to)``; ``to = -1`` (or a missing id) deletes the node and
    its arcs; non-injective maps build the quotient graph (fibre merge with
    dedup).  Two hash joins + distinct; the mapping table is broadcast by
    default (node maps are ~n rows, small next to m edges — for huge maps
    pass ``broadcast_map=False`` and let AQE choose).
    """
    m = mapping.select("id", "to").filter(F.col("to") >= 0)
    if broadcast_map:
        m = F.broadcast(m)
    e = (
        g.edges.join(m.withColumnRenamed("id", "src").withColumnRenamed("to", "_nsrc"), "src")
        .join(m.withColumnRenamed("id", "dst").withColumnRenamed("to", "_ndst"), "dst")
        .select(F.col("_nsrc").alias("src"), F.col("_ndst").alias("dst"))
        .distinct()
    )
    return Graph(e)


def quotient_graph(g: Graph, mapping: DataFrame, weight: bool = False) -> Graph:
    """Quotient (host-graph style) aggregation: map both endpoints, then
    either dedup (pure mapOffline quotient) or count multiplicities as an
    arc weight — the ``BuildHostMap`` host-graph pattern
    (``BuildHostMap.java:75``)."""
    m = F.broadcast(mapping.select("id", "to"))
    e = (
        g.edges.join(m.withColumnRenamed("id", "src").withColumnRenamed("to", "_nsrc"), "src")
        .join(m.withColumnRenamed("id", "dst").withColumnRenamed("to", "_ndst"), "dst")
        .select(F.col("_nsrc").alias("src"), F.col("_ndst").alias("dst"))
    )
    if weight:
        return Graph(e.groupBy("src", "dst").agg(F.count("*").alias("weight")))
    return Graph(e.distinct())


def induced_subgraph(g: Graph, node_subset: DataFrame, renumber: bool = True) -> Graph:
    """Induced subgraph on a node subset, optionally renumbered dense.

    ``ImmutableSubgraph`` (``ImmutableSubgraph.java:97``): both endpoints
    must be in the subset; renumbering = rank of the node inside the
    sorted subset (the reference's to/fromSupergraphNode translation).
    Semi-join on both endpoints; the subset is broadcast.
    """
    nodes = node_subset.select("id").distinct()
    if renumber:
        # scalable rank (range shuffle + partition offsets), NOT a
        # single-task global window — see functions.global_rank
        from webgraph_big_spark.functions import global_rank

        remap = F.broadcast(global_rank(nodes, ["id"], out="to"))
        return map_nodes(g, remap)
    b = F.broadcast(nodes)
    e = (
        g.edges.join(b.withColumnRenamed("id", "src"), "src", "left_semi")
        .join(b.withColumnRenamed("id", "dst"), "dst", "left_semi")
        .select("src", "dst")
    )
    return Graph(e)


# ---------------------------------------------------------------------------
# composition (the reference's only join-shaped operator)
# ---------------------------------------------------------------------------


def compose(g0: Graph, g1: Graph) -> Graph:
    """Graph composition / boolean matrix product — ``Transform.compose``
    (``Transform.java:1773``): arc x→z iff ∃y: x→y ∈ g0 ∧ y→z ∈ g1.

    One shuffle equi-join on the middle node + distinct.  This is the
    2-hop primitive underlying PageRank messages, LP and triangles.
    """
    left = g0.edges.select("src", F.col("dst").alias("_mid"))
    right = g1.edges.select(F.col("src").alias("_mid"), "dst")
    return Graph(left.join(right, "_mid").select("src", "dst").distinct())


def compose_semiring(
    g0: Graph,
    g1: Graph,
    label_col: str = "w",
    multiply: Callable[[Column, Column], Column] | None = None,
    add: Callable[[Column], Column] | None = None,
) -> Graph:
    """Labelled composition over a semiring — ``Transform.compose`` with a
    ``LabelSemiring`` (``Transform.java:1792``,
    ``labelling/LabelSemiring.java:39``): label(x→z) = ⊕ over paths of
    ⊗(l0, l1).  Defaults to the tropical (min, +) semiring (shortest
    2-hop path weight); pass ``multiply``/``add`` for others,
    e.g. counting paths: multiply=*, add=sum.
    """
    multiply = multiply or (lambda a, b: a + b)
    add = add or F.min
    left = g0.edges.select("src", F.col("dst").alias("_mid"), F.col(label_col).alias("_l0"))
    right = g1.edges.select(F.col("src").alias("_mid"), "dst", F.col(label_col).alias("_l1"))
    return Graph(
        left.join(right, "_mid")
        .select("src", "dst", multiply(F.col("_l0"), F.col("_l1")).alias("_lp"))
        .groupBy("src", "dst")
        .agg(add(F.col("_lp")).alias(label_col))
    )


# ---------------------------------------------------------------------------
# permutations / relabeling (Transform.map with a permutation)
# ---------------------------------------------------------------------------


def relabel_by_order(g: Graph, order_of: DataFrame) -> tuple[Graph, DataFrame]:
    """Renumber nodes by an ordering — the layout-optimizing permutations
    of the reference (``Transform.java:1940`` gray, ``:1988`` random,
    ``:2013`` lex).  ``order_of`` is (id, key); new id = rank of
    (key, id) — id as tiebreak makes the permutation total and
    deterministic.  Returns (relabeled graph, permutation (id, to)).

    The rank is computed with :func:`functions.global_rank` (range
    shuffle + partition offsets) — parallel at 10⁹ nodes, not a
    single-task ``Window.orderBy`` sort."""
    from webgraph_big_spark.functions import global_rank

    perm = global_rank(order_of, ["key", "id"], out="to").select("id", "to")
    return map_nodes(g, perm, broadcast_map=False), perm


# ---------------------------------------------------------------------------
# endogenous layout keys (gray / lex / random) + measured effect
# ---------------------------------------------------------------------------

# encoding constants for the Gray key (must exceed any node id)
GRAY_MAXV = 1 << 61
GRAY_INF = 1 << 62


def _adjacency_keys(g: Graph) -> DataFrame:
    """(id, dsts): every node with its sorted successor array (empty for
    sinks) — the comparator input of the layout permutations."""
    adj = g.adjacency().select(F.col("src").alias("id"), "dsts")
    return g.nodes().join(adj, "id", "left").select(
        "id",
        F.coalesce("dsts", F.array().cast("array<long>")).alias("dsts"),
    )


def lex_key(g: Graph) -> DataFrame:
    """(id, key) for ``Transform.lexicographicalPermutation``
    (``Transform.java:2017-2032``): the reference comparator walks both
    successor lists and, at the first difference, sorts the node with
    the LARGER successor first (``t = b - a; return t < 0 ? -1 : 1`` —
    element-wise descending), with an exhausted (shorter-prefix) list
    first.  Encoded as an ascending-sortable array key: element i ↦
    ``GRAY_MAXV − dst_i`` (every slot descending); prefix-first is
    preserved because a prefix array sorts before its extensions."""
    enc = F.transform("dsts", lambda d: F.lit(GRAY_MAXV) - d)
    return _adjacency_keys(g).select("id", enc.alias("key"))


def gray_key(g: Graph) -> DataFrame:
    """(id, key) for ``Transform.grayCodePermutation``
    (``Transform.java:1946-1975``): Gray-code order over adjacency rows.

    The reference comparator walks both successor lists ascending with a
    running parity; at the first difference, even parity compares
    *descending*, odd parity ascending, and an exhausted list sorts
    first (even parity) or last (odd).  Encoded as a plain array key:
    element i ↦ ``GRAY_MAXV − dst_i`` when i is even (descending slots),
    ``dst_i`` when odd, plus a ``GRAY_INF`` sentinel when the length is
    odd (so a prefix at odd parity sorts *after* its extensions).
    Ordinary lexicographic array comparison of these keys reproduces the
    reference's Gray order exactly.
    """
    enc = F.transform(
        "dsts",
        lambda d, i: F.when(i % 2 == 0, F.lit(GRAY_MAXV) - d).otherwise(d),
    )
    key = F.when(
        F.size("dsts") % 2 == 1,
        F.concat(enc, F.array(F.lit(GRAY_INF).cast("long"))),
    ).otherwise(enc)
    return _adjacency_keys(g).select("id", key.alias("key"))


def random_key(g: Graph, seed: int = 0) -> DataFrame:
    """(id, key) for ``Transform.randomPermutation``
    (``Transform.java:1988``): a seeded engine-portable hash of the id
    (md5-prefix, ties broken by id in :func:`relabel_by_order`)."""
    from webgraph_big_spark.functions import stable_long_hash

    key = stable_long_hash(
        F.concat(F.lit(f"{seed}:"), F.col("id").cast("string"))
    )
    return g.nodes().select("id", key.alias("key"))
