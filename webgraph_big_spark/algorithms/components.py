"""Connected components — iterative hash-min label propagation.

Reference: ``algo/ConnectedComponents.java:107`` computes WCC of a
symmetric graph by parallel BFS rounds (component = index of the BFS that
reached the node).  Component *labels* are therefore visit-order dependent
there; here they are ``min node id in the component`` — the partitions are
identical, which is exactly what the reference's own test compares
(``test/.../algo/ConnectedComponentsTest.java:33-46`` compares partitions,
not labels).

Two implementations:

- ``connected_components`` (hash-min): comp ← min(comp, min over
  neighbours comp) each round; converges in O(diameter) rounds.  One
  join + one groupBy-min per round; message volume shrinks as nodes
  stabilize when ``frontier_optimize`` is on (systolic idea of HyperBall,
  ``algo/HyperBall.java:124-135`` — only changed nodes emit).
- ``connected_components_star`` (Stergiou-style large-star/small-star,
  the north rule's named variant): converges in O(log n) rounds on
  high-diameter graphs; each round is two conditional-union rounds
  expressed as joins.  Preferred at 100 TB where diameters can be large.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from webgraph_big_spark.checkpoint import IterativeRunner
from webgraph_big_spark.graph import Graph, co_partitioned


def connected_components(
    g: Graph,
    symmetric: bool = False,
    max_iterations: int = 200,
    run_dir: str | None = None,
    checkpoint_every: int = 8,
    fixed_iterations: int | None = None,
    include_isolated: bool = True,
) -> DataFrame:
    """Returns (id, comp) with comp = min id of the weak component.

    ``symmetric=True`` promises g already equals its transpose (the
    reference requires this of its input, ``algo/ConnectedComponents.java:49``);
    otherwise arcs are used in both directions (WCC semantics).
    """
    spark = g.edges.sparkSession
    if symmetric:
        arc_view = g.edges.select("src", "dst")
    else:
        # arcs in both directions WITHOUT symmetrize()'s dedup: the
        # per-round merge is groupBy-min, which duplicate arcs cannot
        # change, so the distinct shuffle before the pin is pure setup
        # cost (guide §2.4 — remove shuffles outright)
        arc_view = g.edges.select("src", "dst").union(
            g.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    # hash-partitioned by the per-round join key and pinned: only state
    # rows move per round (see co_partitioned for the full recipe)
    edges = co_partitioned(
        arc_view, "src", rows=g.num_arcs() * (1 if symmetric else 2)
    )

    # dense graphs expose the FULL [0, n) node set whether or not n was
    # declared (g.nodes() derives it) — so isolated/gap ids get the same
    # treatment here as in pagerank()/nodes(); only scattered-id graphs
    # fall back to touched endpoints.
    nodes = (
        g.nodes() if include_isolated and g.dense else g.touched_nodes()
    ).cache()

    def initial() -> DataFrame:
        return nodes.select("id", F.col("id").alias("comp"))

    def step(state: DataFrame, it: int):
        # shuffle_hash on the state side: post-checkpoint state has no
        # stats → without the hint Catalyst plans SMJ and re-Exchanges
        # the cached edge table every round
        msgs = (
            edges.join(
                state.select(F.col("id").alias("src"), "comp").hint("shuffle_hash"),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("comp").alias("nbr_min"))
        )
        new_state = state.join(msgs, "id", "left").select(
            "id", F.least("comp", F.coalesce("nbr_min", "comp")).alias("comp")
        )
        if fixed_iterations is not None:
            return new_state, (None if it + 1 < fixed_iterations else 0)
        return new_state, None

    def check(old: DataFrame, new: DataFrame, it: int) -> int:
        return (
            new.join(old.withColumnRenamed("comp", "prev").hint("shuffle_hash"), "id")
            .filter(F.col("comp") != F.col("prev"))
            .count()
        )

    runner = IterativeRunner(
        spark,
        run_dir=run_dir,
        checkpoint_every=checkpoint_every,
        max_iterations=fixed_iterations or max_iterations,
    )
    try:
        return runner.run(initial, step, check=None if fixed_iterations else check).state
    finally:
        edges.unpersist()
        nodes.unpersist()


def connected_components_star(
    g: Graph,
    max_iterations: int = 64,
    run_dir: str | None = None,
) -> DataFrame:
    """Large-star / small-star CC (Kiveris et al., the 'Stergiou-style'
    O(log n)-round family named by the north rule).

    State is the parent pointer table (id, comp).  Each round:
      large-star: every node points its *larger* neighbours at its current
        minimum neighbour (including itself);
      small-star: every node and its smaller-or-equal neighbours point at
        the overall minimum.
    Implemented as joins + groupBy-min over the (id, parent) edge
    relation; converges when parents stop changing.  Per round: two
    shuffles; rounds: O(log n) — the scale path for web-diameter graphs.
    """
    def large_star(rel: DataFrame) -> DataFrame:
        # neighbours in both directions; every strictly-larger neighbour
        # re-attaches to min(N(u) ∪ {u}).
        nbrs = rel.union(rel.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = nbrs.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        # no dedup here: small_star's groupBy-min is duplicate-proof and
        # its own final distinct canonicalizes the round's output — the
        # intermediate distinct was a full extra shuffle per round
        return (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def small_star(rel: DataFrame) -> DataFrame:
        # orient u ≥ v; u and all its ≤ neighbours attach to the minimum.
        nbrs = rel.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = nbrs.groupBy("u").agg(F.min("v").alias("m"))
        joined = nbrs.join(mins, "u")
        out = joined.select(F.col("v").alias("u"), F.col("m").alias("v")).union(
            joined.select(F.col("u"), F.col("m").alias("v"))
        )
        return out.filter(F.col("u") != F.col("v")).distinct()

    rel = (
        g.edges.filter(F.col("src") != F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig = None
    for _ in range(max_iterations):
        new_rel = small_star(large_star(rel)).localCheckpoint(eager=True)
        # convergence signature: (count, Σ xxhash64(u, v)) — a 64-bit
        # avalanche hash per row, so two distinct relations colliding on
        # BOTH is ~2^-64; the weak u*31+v sum could collide and stop
        # early.  Decimal(38) accumulator: exact and overflow-free under
        # ANSI mode at any row count.
        sig = new_rel.agg(
            F.count("*").alias("c"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("s"),
        ).first()
        cur_sig = (sig["c"], sig["s"])
        rel = new_rel
        if cur_sig == prev_sig:
            break
        prev_sig = cur_sig
    # converged relation is a star forest: u → component min.  Roots and
    # isolated nodes have no outgoing row → their own id.
    parents = rel.groupBy(F.col("u").alias("id")).agg(F.min("v").alias("comp"))
    return g.nodes().join(parents, "id", "left").select(
        "id", F.coalesce("comp", "id").alias("comp")
    )


def component_sizes(components: DataFrame) -> DataFrame:
    """(comp, size) — ``ConnectedComponents.computeSizes``
    (``algo/ConnectedComponents.java:125``)."""
    return components.groupBy("comp").agg(F.count("*").alias("size"))


def sort_by_size(components: DataFrame) -> DataFrame:
    """Renumber components by decreasing size (ties: by min id) —
    ``ConnectedComponents.sortBySize`` (``algo/ConnectedComponents.java:142``).
    Returns (id, comp) with comp ∈ [0, #components), 0 = largest.

    On mostly-isolated graphs #components ≈ n, so the rank over
    (size desc, comp) uses :func:`~webgraph_big_spark.functions.global_rank`
    (range-partitioned parallel sort + offset stitch) rather than an
    unpartitioned ``Window.orderBy`` — the latter funnels every component
    row through ONE task.  ``(-size, comp)`` is unique (comp is), which
    global_rank requires.  The remap join is a plain equi-join on comp:
    its size is #components, which at scale must NOT be broadcast.
    """
    from webgraph_big_spark.functions import global_rank

    sizes = component_sizes(components).withColumn("_negsize", -F.col("size"))
    remap = global_rank(sizes, ["_negsize", "comp"], out="new_comp").select(
        "comp", F.col("new_comp").cast("long").alias("new_comp")
    )
    return (
        components.join(remap, "comp")
        .select("id", F.col("new_comp").alias("comp"))
    )
