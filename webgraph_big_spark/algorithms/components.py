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
  join + one groupBy-min + one state join per round
  (:func:`label_round`, shared with SCC colouring); the count of
  lowered labels that ends the loop is observed on the round's own
  checkpoint job.
- ``connected_components_star`` (Stergiou-style large-star/small-star,
  the north rule's named variant): converges in O(log n) rounds on
  high-diameter graphs; each round fuses large-star and small-star into
  two sorted windows (one shuffle each; min and dedup over the sorted
  partition), 3 Spark jobs per round.  Preferred at 100 TB where
  diameters can be large.

Both loops run on ``IterativeRunner``: lineage truncation, per-round
records, and resume from ``run_dir``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.window import Window

from webgraph_big_spark.checkpoint import IterativeRunner
from webgraph_big_spark.graph import Graph, co_partitioned

# rounds between durable checkpoints of connected_components_star's run_dir
STAR_CHECKPOINT_EVERY = 8


def label_round(
    edges: DataFrame, state: DataFrame, label: str, lowest: bool
) -> tuple[DataFrame, Observation]:
    """One round of label propagation along ``edges(src, dst)`` pinned by
    ``src`` (:func:`~webgraph_big_spark.graph.co_partitioned`): every
    ``state(id, <label>)`` row takes the least (``lowest``) or greatest
    of its own label and its in-neighbours' labels.  Returns the round's
    plan and an Observation whose ``n`` counts the labels it changed,
    filled by the job that materializes the plan (the runner's
    checkpoint), so the exit test costs no job.  Hash-min WCC and SCC
    colouring both run on it."""
    pick, better, keep = (
        (F.min, F.col("nbr") < F.col(label), F.least)
        if lowest
        else (F.max, F.col("nbr") > F.col(label), F.greatest)
    )
    # shuffle_hash on the state side: post-checkpoint state has no stats
    # → without the hint Catalyst plans SMJ and re-Exchanges the pinned
    # edge table every round
    msgs = (
        edges.join(
            state.select(F.col("id").alias("src"), label).hint("shuffle_hash"), "src"
        )
        .groupBy(F.col("dst").alias("id"))
        .agg(pick(label).alias("nbr"))
    )
    moved = Observation()
    new_state = (
        state.join(msgs.hint("shuffle_hash"), "id", "left")
        .observe(moved, F.count_if(better).alias("n"))
        .select("id", keep(label, F.coalesce("nbr", label)).alias(label))
    )
    return new_state, moved


def connected_components(
    g: Graph,
    symmetric: bool = False,
    max_iterations: int = 200,
    run_dir: str | None = None,
    checkpoint_every: int = 8,
    fixed_iterations: int | None = None,
) -> DataFrame:
    """Returns (id, comp) with comp = min id of the weak component.

    ``symmetric=True`` promises g already equals its transpose (the
    reference requires this of its input, ``algo/ConnectedComponents.java:49``);
    otherwise arcs are used in both directions (WCC semantics).
    ``fixed_iterations`` runs exactly that many rounds (the oracle gate's
    form), so a later call over the same ``run_dir`` resumes from them.
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
    # declared, so isolated/gap ids get the same treatment here as in
    # pagerank(); scattered-id graphs have their touched endpoints
    nodes = g.nodes().cache()

    moved = None  # the latest round's observed change count

    def initial() -> DataFrame:
        return nodes.select("id", F.col("id").alias("comp"))

    def step(state: DataFrame, it: int):
        nonlocal moved
        new_state, moved = label_round(edges, state, "comp", lowest=True)
        return new_state

    def check(new: DataFrame, it: int) -> int:
        return moved.get["n"]

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

    State is the parent relation (u, v) over arcs with u ≠ v; duplicate
    rows are harmless.  One round, fused from the two phases:
      large-star: partition the two-way relation by u, sorted by v;
        every neighbour v > u re-attaches to m = min(N(u) ∪ {u}), giving
        rows (x = v, y = m) with y < x;
      small-star: partition those rows by x, sorted by y; x and every
        y re-attach to the partition's first (least) y.
    Each phase is one window over one shuffle: the min is the first row
    of the sorted partition and ``lag`` drops the partition's repeated
    rows, so neither the input nor a round's output needs a
    ``distinct``.  A window buffers its partition in a spillable row
    array: in the last rounds a component's root partition holds every
    member, and it goes through one task but spills to disk instead of
    hitting a per-row size limit.  Per round: the two shuffles and
    the round's ``localCheckpoint`` — 3 Spark jobs under AQE.  The
    relation converges to a star forest whose centres are the component
    minima; convergence is read from ``(count, Σ xxhash64(u, v))``
    observed on the round's own checkpoint job.  Rounds: O(log n) — the
    scale path for web-diameter graphs.  ``run_dir`` makes the loop
    resumable (``IterativeRunner``, a durable checkpoint every
    ``STAR_CHECKPOINT_EVERY`` rounds).
    """
    spark = g.edges.sparkSession
    sig = None  # the latest round's observed signature
    prev = None

    def initial() -> DataFrame:
        return g.edges.filter(F.col("src") != F.col("dst")).select(
            F.col("src").alias("u"), F.col("dst").alias("v")
        )

    def step(rel: DataFrame, it: int):
        nonlocal sig
        # with ascending order the running min is the partition's first
        # row, and a null lag marks that first row
        by_u = Window.partitionBy("u").orderBy("v")
        large = (
            rel.union(rel.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .select(
                "u",
                "v",
                F.least(F.min("v").over(by_u), "u").alias("m"),
                F.lag("v").over(by_u).alias("_prev"),
            )
            .filter((F.col("v") > F.col("u")) & ~F.col("_prev").eqNullSafe(F.col("v")))
            .select(F.col("v").alias("x"), F.col("m").alias("y"))
        )
        by_x = Window.partitionBy("x").orderBy("y")
        small = large.select(
            "x",
            "y",
            F.min("y").over(by_x).alias("mm"),
            F.lag("y").over(by_x).alias("_prev"),
        ).filter(~F.col("_prev").eqNullSafe(F.col("y")))
        # y < x for every large-star row, so mm < x: x always re-attaches,
        # once, from its partition's first row
        new_rel = small.select(
            F.explode(
                F.when(F.col("_prev").isNull(), F.array("y", "x")).otherwise(F.array("y"))
            ).alias("u"),
            F.col("mm").alias("v"),
        ).filter(F.col("u") != F.col("v"))
        # convergence signature: (count, Σ xxhash64(u, v)) — a 64-bit
        # avalanche hash per row, so two distinct relations colliding on
        # BOTH is ~2^-64.  Decimal(38) accumulator: exact and
        # overflow-free under ANSI mode at any row count.
        sig = Observation()
        return new_rel.observe(
            sig,
            F.count(F.lit(1)).alias("c"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("s"),
        )

    def check(new: DataFrame, it: int) -> int | None:
        # a round's output depends only on the SET of its input rows, so
        # two equal signatures in a row mean a fixed point; the first
        # round (and the first after a resume) has nothing to compare
        nonlocal prev
        cur = (sig.get["c"], sig.get["s"])
        changed = None if prev is None else int(cur != prev)
        prev = cur
        return changed

    runner = IterativeRunner(
        spark,
        run_dir=run_dir,
        checkpoint_every=STAR_CHECKPOINT_EVERY,
        max_iterations=max_iterations,
    )
    rel = runner.run(initial, step, check=check).state
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
