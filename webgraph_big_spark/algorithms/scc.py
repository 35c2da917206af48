"""Strongly connected components via bounded transitive closure.

Reference: ``algo/StronglyConnectedComponents.java:225`` — a sequential
iterative Tarjan variant (inherently DFS-ordered, not data-parallel).
The Spark-native reformulation here computes the t-bounded reachability
relation by **join doubling** (reach_{2t} = reach_t ∘ reach_t, so t=2^k
needs k self-joins) and labels x with min{y : x⇝y ∧ y⇝x} — exact
whenever t ≥ the graph's diameter.

Scale notes: closure pairs are O(Σ|ball|) — fine on sparse/banded
graphs and on pruned subgraphs, quadratic on dense cores.  For web-scale
SCC the standard trick composes this with trimming (degree-0 peeling)
and the giant-SCC FW-BW split from one pivot, which
:func:`strongly_connected_components_fwbw` does (its peeling is
:func:`_peel_trivial`).  The reference's "buckets" (terminal
non-dangling components, ``StronglyConnectedComponents``) derive from
the same labels + the quotient DAG.

:func:`strongly_connected_components_fwbw` runs its outer rounds, and
its coloring, on ``IterativeRunner``; its ``run_dir`` is the runner's
(``iter_*`` checkpoints of the ``(id, comp)`` state and ``runs.jsonl``
with one record per outer round).  ``outer_*`` directories of the
earlier layout are not read, so a run over one starts fresh.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, functions as F

from webgraph_big_spark.algorithms.components import label_round
from webgraph_big_spark.checkpoint import IterativeRunner
from webgraph_big_spark.graph import (
    Graph,
    broadcast_threshold,
    co_partitioned,
    frontier_reach,
)


def bounded_closure(g: Graph, t: int) -> DataFrame:
    """(x, y) pairs with a directed path x⇝y of length ≤ 2^⌈log2 t⌉,
    not just ≤ t (incl. x=x), by join doubling — ⌈log2 t⌉ shuffle
    rounds.  ``_closure_sql`` in ``__spark_entry__`` mirrors it for
    t ≥ 2."""
    edges = g.edges.select("src", "dst").distinct()
    reach = (
        g.nodes()
        .select(F.col("id").alias("x"), F.col("id").alias("y"))
        .union(edges.select(F.col("src").alias("x"), F.col("dst").alias("y")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    span = 1
    while span < t:
        nxt = (
            reach.alias("a")
            .join(reach.alias("b"), F.col("a.y") == F.col("b.x"))
            .select(F.col("a.x").alias("x"), F.col("b.y").alias("y"))
            .union(reach)
            .distinct()
            .localCheckpoint(eager=True)
        )
        reach = nxt
        span *= 2
    return reach


def strongly_connected_components(g: Graph, t: int = 32) -> DataFrame:
    """(id, comp): comp = min id in the SCC; exact when t ≥ diameter."""
    reach = bounded_closure(g, t)
    back = reach.select(F.col("y").alias("x"), F.col("x").alias("y"))
    mutual = reach.intersect(back)
    return mutual.groupBy(F.col("x").alias("id")).agg(F.min("y").alias("comp"))


# ---------------------------------------------------------------------------
# FW-BW + coloring: the linear-state scale path
# ---------------------------------------------------------------------------


def _reach(seeds: DataFrame, forward: bool, pinned: DataFrame) -> DataFrame:
    """Frontier-loop reachability: ids reachable from ``seeds(id)`` along
    the edges (or against them when ``forward=False``).  O(diameter)
    rounds, O(|reached|) state — never materializes pairs.

    ``pinned``: the edge table hash-partitioned + cached by the
    expansion key (``src`` forward / ``dst`` backward).  FW-BW runs a
    forward and a backward reach per pivot over the same edge set, so
    the caller pins once per outer round and owns the release.
    """
    s, d = ("src", "dst") if forward else ("dst", "src")

    def expand(frontier: DataFrame, _: int) -> DataFrame:
        return (
            pinned.join(frontier.withColumnRenamed("id", s).hint("shuffle_hash"), s)
            .select(F.col(d).alias("id"))
            .distinct()
        )

    return frontier_reach(seeds.select("id").distinct(), expand)


def _between(edges: DataFrame, ids: DataFrame, how: str) -> DataFrame:
    """The arcs of ``edges`` kept (``left_semi``) or dropped
    (``left_anti``) by both endpoints' membership in ``ids(id)``."""
    return (
        edges.join(ids.select(F.col("id").alias("src")), "src", how)
        .join(ids.select(F.col("id").alias("dst")), "dst", how)
        .select("src", "dst")
    )


def _peel_trivial(edges: DataFrame, max_rounds: int = 64):
    """Iteratively peel nodes with in- or out-degree 0 inside the current
    arc set — each is a singleton SCC.  Returns ``(remaining_edges,
    core, seen)``: ``core(id)`` holds the nodes left, and ``seen`` the
    core's size ``n`` and least id ``lo`` plus the remaining arc count
    ``arcs``, all observed on the checkpoint jobs that build them (no
    job of their own).  With ``max_rounds=0`` the edges come back
    unchanged and ``core`` and ``seen`` are None.

    The per-round peeled set is never needed individually (every peeled
    node gets ``comp = id``), so the loop tracks ONLY the shrinking
    ``core`` (endpoints with both degrees, ONE flag-max aggregation —
    not two distincts + a join) and edge set.  ``core`` shrinks
    monotonically, so an unchanged COUNT means an unchanged set — the
    fixpoint test reads an observed count, the final round skips its
    identity semi-join entirely, and the fixpoint core IS the remaining
    node set.  ``core`` is checkpointed so the two semi joins share one
    computation, and broadcast when its observed size fits the
    session's broadcast threshold (the rule pagerank applies to its
    rank side) — the edge table then never shuffles during peeling."""
    limit = broadcast_threshold(edges.sparkSession)
    core = seen = None
    for _ in range(max_rounds):
        size = Observation()
        core = (
            edges.select(F.col("src").alias("id"), F.lit(1).alias("_o"), F.lit(0).alias("_i"))
            .unionAll(edges.select(F.col("dst").alias("id"), F.lit(0).alias("_o"), F.lit(1).alias("_i")))
            .groupBy("id")
            .agg(F.max("_o").alias("_o"), F.max("_i").alias("_i"))
            .filter((F.col("_o") == 1) & (F.col("_i") == 1))
            .select("id")
            .observe(size, F.count(F.lit(1)).alias("n"), F.min("id").alias("lo"))
            .localCheckpoint(eager=True)
        )
        if seen is not None and size.get["n"] == seen["n"]:
            # core ⊆ previous core (edges only shrink): same count ⇔
            # same set ⇔ the semi join below would be the identity
            break
        seen = dict(size.get)
        arcs = Observation()
        edges = (
            _between(edges, F.broadcast(core) if 0 < seen["n"] * 32 <= limit else core, "left_semi")
            .observe(arcs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        seen["arcs"] = arcs.get["n"]
    return edges, core, seen


def strongly_connected_components_fwbw(
    g: Graph,
    max_outer: int = 64,
    giant_pivots: int = 1,
    progress=None,
    run_dir: str | None = None,
    checkpoint_every: int = 1,
) -> DataFrame:
    """(id, comp) with comp = min id of the SCC — the linear-state scale
    path (vs :func:`strongly_connected_components`'s pair-materializing
    closure, which is quadratic on graphs with a large SCC).

    Hybrid of the standard parallel SCC recipe (Slota et al. / Orzan;
    the reference's own SCC, ``algo/StronglyConnectedComponents.java:225``,
    is sequential Tarjan and has no parallel analogue):

    1. **peel** — drop in/out-degree-0 nodes iteratively (singleton SCCs);
    2. **FW-BW pivot** — forward ∩ backward reachability from the minimum
       remaining node captures the (giant) SCC containing it in
       O(diameter of that SCC) frontier rounds, O(n) state;
    3. **coloring** — for the remainder: propagate ``color = max id``
       forward to fixpoint; backward-reach from each color root *within
       its color class* yields every root's SCC simultaneously; assign,
       remove, repeat.  Many SCCs resolve per outer round.

    All phases are frontier loops: state never exceeds O(n) rows.

    The outer rounds run on ``IterativeRunner`` over one n-row state
    ``(id, comp)``, where a null comp marks an unassigned node; the loop
    ends when the count of unassigned nodes, observed on the round's
    own checkpoint, is 0.  Each coloring round resolves at least the
    color roots' SCCs, so outer rounds are bounded by #SCCs —
    pathological on a chain of cycles with ids decreasing along it.
    ``max_outer`` is a safety bound: round ``max_outer`` RAISES after
    its peel if nodes remain, rather than returning a silent partial
    labelling.

    ``progress`` (optional callable str → None) receives one line per
    phase transition — long-running full-graph runs are otherwise opaque
    from outside the Spark UI.

    ``run_dir`` (optional): durable resumability in the runner's layout
    — an ``iter_<k>`` checkpoint of the state after outer rounds
    0..k−1 every ``checkpoint_every`` rounds (commit-last manifest, the
    newest three kept) and ``runs.jsonl`` with one record per outer
    round.  A new call with the same ``run_dir`` resumes from the latest
    complete checkpoint instead of restarting (a host-killed multi-hour
    run loses at most ``checkpoint_every`` rounds).  ``outer_*``
    directories of the earlier layout are not read: a run over one
    starts fresh.

    The round's arcs (distinct, loop-free, both endpoints unassigned)
    are carried from round to round, and rebuilt from the state after a
    resume.  They are pinned hash-partitioned ONCE per outer round in
    each direction (``src`` for forward/coloring, ``dst`` for backward),
    sized by the arc count the peel observed, shared by every phase in
    that round and released in ``finally`` even on error.
    """
    say = progress or (lambda msg: None)
    spark = g.edges.sparkSession
    base = g.edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    edges = None  # the next round's arcs between unassigned nodes
    left = None  # the latest round's observed count of unassigned nodes

    def initial() -> DataFrame:
        return g.nodes().select("id", F.lit(None).cast("long").alias("comp"))

    def resolve(edges: DataFrame, core: DataFrame, seen: dict, outer: int) -> DataFrame:
        """(id, comp) of the SCCs one outer round resolves inside the
        peeled core."""
        # ONE pin per direction per outer round, shared by all phases;
        # the two materializations are independent — overlap them
        # (guide §2.6)
        with ThreadPoolExecutor(max_workers=2) as pool:
            fwd_f = pool.submit(co_partitioned, edges, "src", rows=seen["arcs"])
            bwd_f = pool.submit(co_partitioned, edges, "dst", rows=seen["arcs"])
            fwd, bwd = fwd_f.result(), bwd_f.result()
        try:
            if outer < giant_pivots:
                # FW-BW from the deterministic pivot, the core's least id
                # — catches the giant SCC in O(diam) rounds without
                # touching the rest; that SCC lies inside the core, so
                # the pivot is its min id
                pivot = seen["lo"]
                say(f"outer {outer}: FW-BW pivot {pivot}")
                seed = spark.createDataFrame([(pivot,)], "id long")
                # forward and backward reachability are independent jobs
                # over different pins — overlap them (guide §2.6) so one
                # reach's per-level driver latency backfills the other's
                with ThreadPoolExecutor(max_workers=2) as pool:
                    fw_f = pool.submit(_reach, seed, True, fwd)
                    bw_f = pool.submit(_reach, seed, False, bwd)
                    fw, bw = fw_f.result(), bw_f.result()
                assigned = fw.join(bw, "id").select("id", F.lit(pivot).alias("comp"))
            else:
                # coloring phase: forward max-propagation to fixpoint —
                # only color rows move against the pinned edge side
                say(f"outer {outer}: coloring")
                moved = None

                def colour_round(color: DataFrame, _: int):
                    nonlocal moved
                    new, moved = label_round(fwd, color, "color", lowest=False)
                    return new

                # a color settles within the longest path, ≤ n − 1 rounds
                color = (
                    IterativeRunner(spark, max_iterations=seen["n"] + 1)
                    .run(
                        lambda: core.select("id", F.col("id").alias("color")),
                        colour_round,
                        check=lambda new, it: moved.get["n"],
                    )
                    .state
                )

                # multi-source backward reach from every color root,
                # within its color class
                def expand_member(frontier: DataFrame, _: int) -> DataFrame:
                    return (
                        bwd.join(
                            frontier.select(F.col("id").alias("dst"), "color").hint(
                                "shuffle_hash"
                            ),
                            "dst",
                        )
                        .select(F.col("src").alias("id"), "color")
                        .distinct()
                        .join(
                            color.withColumnRenamed("color", "c2").hint("shuffle_hash"),
                            "id",
                        )
                        .filter(F.col("color") == F.col("c2"))
                        .select("id", "color")
                    )

                roots = color.filter(F.col("id") == F.col("color")).select("id", "color")
                member = frontier_reach(roots, expand_member)
                # comp label = min id within each discovered SCC
                say(f"outer {outer}: assigning color-root SCCs")
                comp_of = member.groupBy("color").agg(F.min("id").alias("comp"))
                assigned = member.join(comp_of, "color").select("id", "comp")
            return assigned.localCheckpoint(eager=True)
        finally:
            fwd.unpersist()
            bwd.unpersist()

    def step(state: DataFrame, outer: int):
        nonlocal edges, left
        if edges is None:
            # a fresh run starts with every node unassigned
            edges = base if outer == 0 else _between(
                base, state.filter(F.col("comp").isNull()), "left_semi"
            )
        say(f"outer {outer}: peeling")
        edges, core, seen = _peel_trivial(edges.localCheckpoint(eager=True))
        if seen["n"] and outer >= max_outer:
            raise RuntimeError(
                f"FW-BW SCC: {seen['n']} nodes unassigned after "
                f"max_outer={max_outer} outer rounds — raise max_outer "
                "(bounded by the number of SCCs in the worst case)"
            )
        # peeled nodes (unassigned, outside the core) are singleton SCCs
        if seen["n"]:
            assigned = resolve(edges, core, seen, outer)
            edges = _between(edges, assigned, "left_anti")
            labels = core.join(assigned, "id", "left").select(
                "id", F.col("comp").alias("_c"), F.lit(True).alias("_core")
            )
            new = state.join(labels.hint("shuffle_hash"), "id", "left").select(
                "id",
                F.coalesce("comp", F.when(F.col("_core").isNull(), F.col("id")), "_c").alias("comp"),
            )
        else:
            new = state.select("id", F.coalesce("comp", "id").alias("comp"))
        left = Observation()
        return new.observe(left, F.count_if(F.col("comp").isNull()).alias("n"))

    runner = IterativeRunner(
        spark, run_dir=run_dir, checkpoint_every=checkpoint_every, max_iterations=max_outer + 1
    )
    latest = runner.latest_checkpoint()
    if latest is not None:
        say(f"resuming from checkpointed outer round {latest - 1}")
    return runner.run(initial, step, check=lambda new, it: left.get["n"]).state


def scc_buckets(g: Graph, components: DataFrame) -> DataFrame:
    """(comp): the *buckets* — terminal non-dangling components, i.e.
    components of the quotient DAG with no arc to a different component
    whose members have at least one outgoing arc (the reference's buckets
    output, ``algo/StronglyConnectedComponents.java`` ``buckets`` bit
    vector: nodes belonging to a bucket = terminal nonterminal-free SCC).
    """
    e = g.edges.select("src", "dst")
    cmap_s = components.select(F.col("id").alias("src"), F.col("comp").alias("c_src"))
    cmap_d = components.select(F.col("id").alias("dst"), F.col("comp").alias("c_dst"))
    arcs = e.join(cmap_s, "src").join(cmap_d, "dst")
    # components with an outgoing inter-component arc are NOT terminal
    outward = (
        arcs.filter(F.col("c_src") != F.col("c_dst"))
        .select(F.col("c_src").alias("comp"))
        .distinct()
    )
    # dangling components: no member has any outgoing arc at all
    has_out = arcs.select(F.col("c_src").alias("comp")).distinct()
    return (
        has_out.join(outward, "comp", "left_anti")
        .select("comp")
    )
