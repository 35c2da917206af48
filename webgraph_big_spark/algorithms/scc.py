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
and the giant-SCC FW-BW split from one pivot; ``trim`` implements the
peeling.  The reference's "buckets" (terminal non-dangling components,
``StronglyConnectedComponents``) derive from the same labels + the
quotient DAG.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, functions as F

from webgraph_big_spark.graph import (
    Graph,
    broadcast_threshold,
    co_partitioned,
    frontier_reach,
)


def bounded_closure(g: Graph, t: int) -> DataFrame:
    """(x, y) pairs with a directed path x⇝y of length ≤ t (incl. x=x),
    by join doubling — ceil(log2 t) shuffle rounds."""
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


def _peel_trivial(
    edges: DataFrame,
    nodes: DataFrame,
    max_rounds: int = 64,
    broadcast_core: bool = False,
):
    """Iteratively peel nodes with in- or out-degree 0 inside the current
    node set — each is a singleton SCC.  Returns (remaining_edges,
    remaining_nodes, peeled_nodes).

    The per-round peeled set is never needed individually (every peeled
    node gets ``comp = id``), so the loop tracks ONLY the shrinking
    ``core`` (endpoints with both degrees, ONE flag-max aggregation —
    not two distincts + a join) and edge set.  ``core`` shrinks
    monotonically, so an unchanged COUNT means an unchanged set — the
    fixpoint test costs a cached count, the final round skips its
    identity semi-join entirely, and the fixpoint core IS the remaining
    node set (no separate end-of-loop aggregation).  ``core`` is
    checkpointed so the two semi joins share one computation, and
    broadcast when the caller certifies the node set fits
    (``broadcast_core``) — the edge table then never shuffles during
    peeling."""
    prev_core_cnt = None
    core = None
    for _ in range(max_rounds):
        core = (
            edges.select(F.col("src").alias("id"), F.lit(1).alias("_o"), F.lit(0).alias("_i"))
            .unionAll(edges.select(F.col("dst").alias("id"), F.lit(0).alias("_o"), F.lit(1).alias("_i")))
            .groupBy("id")
            .agg(F.max("_o").alias("_o"), F.max("_i").alias("_i"))
            .filter((F.col("_o") == 1) & (F.col("_i") == 1))
            .select("id")
            .localCheckpoint(eager=True)
        )
        cnt = core.count()
        if cnt == prev_core_cnt:
            # core ⊆ previous core (edges only shrink): same count ⇔
            # same set ⇔ the semi join below would be the identity
            break
        prev_core_cnt = cnt
        core_side = F.broadcast(core) if broadcast_core else core
        edges = (
            edges.join(core_side.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(core_side.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    peeled = nodes.join(core, "id", "left_anti").localCheckpoint(eager=True)
    return edges, core, peeled


def _fwbw_checkpoint(
    run_dir: str, outer: int, done: DataFrame, nodes: DataFrame, edges: DataFrame,
    keep_last: int = 3,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Durably checkpoint the FW-BW outer-loop state (manifest written
    LAST, so its presence proves a complete round — same commit protocol
    as :class:`webgraph_big_spark.checkpoint.IterativeRunner`).  Returns
    the three relations re-read from parquet (lineage fully truncated;
    the checkpoint is now the source of truth for resume)."""
    spark = done.sparkSession
    d = os.path.join(run_dir, f"outer_{outer:05d}")
    out = {}
    for name, df in (("done", done), ("nodes", nodes), ("edges", edges)):
        path = os.path.join(d, name)
        df.write.mode("overwrite").parquet(path)
        out[name] = spark.read.parquet(path)
    manifest = {
        "outer": outer,
        "done_rows": out["done"].count(),
        "nodes_rows": out["nodes"].count(),
        "edges_rows": out["edges"].count(),
        "ts": time.time(),
    }
    tmp = os.path.join(d, "manifest.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(d, "manifest.json"))  # commit point
    # prune superseded rounds, keeping the last few complete ones
    complete = sorted(
        int(n.split("_")[1])
        for n in os.listdir(run_dir)
        if n.startswith("outer_")
        and os.path.exists(os.path.join(run_dir, n, "manifest.json"))
    )
    for old in complete[:-keep_last]:
        shutil.rmtree(os.path.join(run_dir, f"outer_{old:05d}"), ignore_errors=True)
    return out["done"], out["nodes"], out["edges"]


def _fwbw_latest(run_dir: str) -> int | None:
    if not os.path.isdir(run_dir):
        return None
    its = [
        int(n.split("_")[1])
        for n in os.listdir(run_dir)
        if n.startswith("outer_")
        and os.path.exists(os.path.join(run_dir, n, "manifest.json"))
    ]
    return max(its) if its else None


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

    1. **trim** — peel in/out-degree-0 nodes iteratively (singleton SCCs);
    2. **FW-BW pivot** — forward ∩ backward reachability from the minimum
       remaining node captures the (giant) SCC containing it in
       O(diameter of that SCC) frontier rounds, O(n) state;
    3. **coloring** — for the remainder: propagate ``color = max id``
       forward to fixpoint; backward-reach from each color root *within
       its color class* yields every root's SCC simultaneously; assign,
       remove, repeat.  Many SCCs resolve per outer round.

    All phases are frontier loops: state never exceeds O(n) rows.

    The loop runs until every node is assigned (each coloring round
    resolves at least the color roots' SCCs, so outer rounds are bounded
    by #SCCs — pathological on a chain of cycles with ids decreasing
    along it).  ``max_outer`` is a safety bound: exceeding it RAISES
    rather than returning a silent partial labelling.

    ``progress`` (optional callable str → None) receives one line per
    phase transition — long-running full-graph runs are otherwise opaque
    from outside the Spark UI.

    ``run_dir`` (optional): durable resumability.  Every
    ``checkpoint_every`` outer rounds the loop state (``done``/``nodes``/
    ``edges``) is written to parquet with a commit-last manifest; a new
    call with the same ``run_dir`` resumes from the latest complete
    round instead of restarting (a host-killed multi-hour run loses at
    most ``checkpoint_every`` rounds).  Pass a fresh/empty directory for
    a fresh run.

    The edge table is pinned hash-partitioned ONCE per outer round in
    each direction (``src`` for forward/coloring, ``dst`` for backward)
    and shared by every phase in that round — the per-phase repartition+
    cache+count that round 4 paid (twice per pivot, once per coloring
    phase) is gone; pins are released in ``finally`` even on error.
    """
    say = progress or (lambda msg: None)
    spark = g.edges.sparkSession
    outer = -1
    latest = _fwbw_latest(run_dir) if run_dir else None
    if latest is not None:
        say(f"resuming from checkpointed outer round {latest}")
        d = os.path.join(run_dir, f"outer_{latest:05d}")
        done = spark.read.parquet(os.path.join(d, "done")).localCheckpoint(eager=True)
        nodes = spark.read.parquet(os.path.join(d, "nodes")).localCheckpoint(eager=True)
        edges = spark.read.parquet(os.path.join(d, "edges")).localCheckpoint(eager=True)
        outer = latest
        if nodes.isEmpty():
            return done
    else:
        edges = (
            g.edges.select("src", "dst")
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        nodes = g.nodes().localCheckpoint(eager=True)
        done = spark.createDataFrame([], "id long, comp long")

    # memory-aware broadcast decision for the peel-phase semi joins: the
    # core set is ≤ |nodes| ids; broadcast it (edge table never shuffles
    # while peeling) exactly when it fits the session's broadcast
    # threshold — the same rule pagerank applies to its rank side
    n_nodes0 = nodes.count()
    bcast_core = 0 < n_nodes0 * 32 <= broadcast_threshold(spark)

    while True:
        outer += 1
        say(f"outer {outer}: peeling")
        edges, nodes, peeled = _peel_trivial(edges, nodes, broadcast_core=bcast_core)
        if not peeled.isEmpty():
            done = done.union(peeled.select("id", F.col("id").alias("comp")))
        if nodes.isEmpty():
            break
        if outer >= max_outer:
            raise RuntimeError(
                f"FW-BW SCC: {nodes.count()} nodes unassigned after "
                f"max_outer={max_outer} outer rounds — raise max_outer "
                "(bounded by the number of SCCs in the worst case)"
            )

        # ONE pin per direction per outer round, shared by all phases;
        # the two repartition+cache+count materializations are
        # independent — overlap them (guide §2.6)
        with ThreadPoolExecutor(max_workers=2) as _pool:
            _fwd_f = _pool.submit(co_partitioned, edges, "src")
            _bwd_f = _pool.submit(co_partitioned, edges, "dst")
            fwd, bwd = _fwd_f.result(), _bwd_f.result()
        try:
            if outer < giant_pivots:
                # FW-BW from the deterministic pivot (min id) — catches
                # the giant SCC in O(diam) rounds without touching the
                # rest.
                pivot = nodes.agg(F.min("id")).first()[0]
                say(f"outer {outer}: FW-BW pivot {pivot}")
                seed = spark.createDataFrame([(int(pivot),)], "id long")
                # forward and backward reachability are independent jobs
                # over different pins — overlap them (guide §2.6) so one
                # reach's per-level driver latency backfills the other's
                with ThreadPoolExecutor(max_workers=2) as pool:
                    fw_f = pool.submit(_reach, seed, True, fwd)
                    bw_f = pool.submit(_reach, seed, False, bwd)
                    fw, bw = fw_f.result(), bw_f.result()
                scc = fw.join(bw, "id").localCheckpoint(eager=True)
                comp = scc.agg(F.min("id")).first()[0]
                done = done.union(scc.select("id", F.lit(int(comp)).alias("comp")))
                assigned_ids = scc
            else:
                # coloring phase: forward max-propagation to fixpoint —
                # only color rows move against the pinned edge side
                say(f"outer {outer}: coloring")
                color = nodes.select("id", F.col("id").alias("color")).localCheckpoint(
                    eager=True
                )
                while True:
                    msgs = (
                        fwd.join(
                            color.select(F.col("id").alias("src"), "color").hint(
                                "shuffle_hash"
                            ),
                            "src",
                        )
                        .groupBy(F.col("dst").alias("id"))
                        .agg(F.max("color").alias("mx"))
                    )
                    # a color changed ⇔ an incoming max exceeded it; the
                    # count rides on the checkpoint job, no probe job
                    moved = Observation()
                    grew = F.count_if(F.col("mx") > F.col("color")).alias("n")
                    color = (
                        color.join(msgs.hint("shuffle_hash"), "id", "left")
                        .observe(moved, grew)
                        .select(
                            "id",
                            F.greatest("color", F.coalesce("mx", "color")).alias("color"),
                        )
                        .localCheckpoint(eager=True)
                    )
                    if moved.get["n"] == 0:
                        break

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
                assigned = (
                    member.join(comp_of, "color")
                    .select("id", "comp")
                    .localCheckpoint(eager=True)
                )
                done = done.union(assigned)
                assigned_ids = assigned.select("id")
        finally:
            fwd.unpersist()
            bwd.unpersist()

        nodes = nodes.join(assigned_ids, "id", "left_anti").localCheckpoint(eager=True)
        done = done.localCheckpoint(eager=True)
        if nodes.isEmpty():
            # terminal round: every node is assigned, so the edge trim
            # below would be a full double anti-join pass producing an
            # EMPTY relation — skip the work and checkpoint an empty
            # edge table (resume reads `done` and returns immediately
            # when nodes is empty; edges are never consulted)
            if run_dir:
                empty_edges = spark.createDataFrame([], "src long, dst long")
                _fwbw_checkpoint(run_dir, outer, done, nodes, empty_edges)
            break
        edges = (
            edges.join(
                assigned_ids.select(F.col("id").alias("src")), "src", "left_anti"
            )
            .join(assigned_ids.select(F.col("id").alias("dst")), "dst", "left_anti")
            .localCheckpoint(eager=True)
        )
        if run_dir and ((outer + 1) % checkpoint_every == 0):
            done, nodes, edges = _fwbw_checkpoint(run_dir, outer, done, nodes, edges)
    return done


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


def trim(g: Graph, rounds: int = 3) -> Graph:
    """Iteratively peel nodes with in- or out-degree 0 — they are
    singleton SCCs; the standard preprocessing that shrinks real graphs
    drastically before closure/FW-BW."""
    edges = g.edges.select("src", "dst")
    for _ in range(rounds):
        srcs = edges.select(F.col("src").alias("id")).distinct()
        dsts = edges.select(F.col("dst").alias("id")).distinct()
        core = srcs.join(dsts, "id", "inner")
        edges = (
            edges.join(core.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(core.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )
    return Graph(edges, dense=False)
