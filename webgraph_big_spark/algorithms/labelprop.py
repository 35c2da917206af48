"""Synchronous label propagation with deterministic tie-breaking.

North-rule algorithm (lives in the reference's LAW companion; built here
over the reference's data model — dense long ids, directed arcs used
symmetrically).

Semantics (documented to match the pure-Python oracle exactly):

    l⁰(x) = x
    l^{t+1}(x) = argmax over labels l of |{y ∈ N(x): l^t(y) = l}|,
                 ties broken by the smallest label; nodes with no
                 neighbours keep their label.

Synchronous rounds + total-order tie-break make runs reproducible across
partitionings/cluster sizes (SURVEY.md §7 hard part 5).

The loop runs a fixed number of rounds and has no "until stable" mode:
synchronous propagation need not reach a fixpoint.  On a single arc the
two endpoints swap labels every round (each sees only the other's
label), a period-2 oscillation that never settles, so a run-to-fixpoint
loop would spend its whole round cap and return a labelling that is not
a fixpoint, with nothing to say so.

Per round: one join (labels → edges) + one count aggregation + one
argmax aggregation (max of a (cnt, -label) struct — partial-aggregated,
no window sort).  The argmax runs over the (node, label, cnt) table,
which is ≤ one row per distinct (node, neighbour label) — much smaller
than the edge table after the count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from webgraph_big_spark.checkpoint import IterativeRunner
from webgraph_big_spark.graph import Graph, co_partitioned
from webgraph_big_spark.transforms import symmetrize


def label_propagation(
    g: Graph,
    rounds: int = 10,
    run_dir: str | None = None,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Returns (id, label) after ``rounds`` synchronous rounds."""
    spark = g.edges.sparkSession
    gs = symmetrize(g)
    # hash-partitioned by the per-round join key and pinned: only label
    # rows move per round (see co_partitioned for the full recipe).  Sized
    # from the input's arc count: the symmetrized table has at most twice
    # as many rows, and counting it would run its dedup one extra time.
    edges = co_partitioned(gs.edges.select("src", "dst"), "src", rows=g.num_arcs() * 2)
    nodes = g.nodes().cache()

    def initial() -> DataFrame:
        return nodes.select("id", F.col("id").alias("label"))

    # every node WITH a neighbour receives ≥1 vote every round, so the
    # per-round "keep my label" fallback only ever fires for the STATIC
    # set of isolated nodes, whose label never changes from its initial
    # value — precompute those rows once and make each round
    # (winners ∪ isolated), dropping the n-row left join from the loop
    # (the same static-split idea as pagerank's no-inflow set)
    isolated = (
        initial()
        .join(
            gs.edges.select(F.col("dst").alias("id")).distinct(),
            "id",
            "left_anti",
        )
        .localCheckpoint(eager=True)
    )

    def step(labels: DataFrame, it: int):
        # shuffle_hash on the stats-less state side — without it each
        # round falls back to SMJ and re-Exchanges the cached edges
        votes = (
            edges.join(
                labels.select(F.col("id").alias("src"), "label").hint("shuffle_hash"),
                "src",
            )
            .groupBy(F.col("dst").alias("id"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        # argmax by (cnt desc, label asc) as ONE aggregation: max of the
        # (cnt, -label) struct, decoded back — replaces the window sort
        # (exchange + per-partition sort + row_number + filter) with a
        # partially-aggregated groupBy; integer semantics, so the winner
        # is identical to the row_number formulation
        winner = (
            votes.groupBy("id")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("_nl"))).alias("_w"))
            .select("id", (-F.col("_w._nl")).alias("label"))
        )
        return winner.unionByName(isolated)

    runner = IterativeRunner(
        spark, run_dir=run_dir, checkpoint_every=checkpoint_every, max_iterations=rounds
    )
    try:
        return runner.run(initial, step).state
    finally:
        edges.unpersist()
        nodes.unpersist()
