"""PageRank — power iteration as a join/aggregate loop.

The north rule's flagship algorithm (PageRank lives in the reference's
LAW companion, not webgraph-big itself — SURVEY.md scope note; the data
model, dense long ids + sorted successor semantics, is the reference's,
``ImmutableGraph.java:201``).

Semantics (documented to match the NumPy oracle exactly):

    r⁰(x)   = 1/n
    r^{t+1}(x) = (1−α)/n + α·( Σ_{y→x} r^t(y)/outdeg(y) + D^t/n )

where D^t = Σ over dangling nodes y (outdeg 0) of r^t(y) — dangling mass
is redistributed uniformly.  α defaults to 0.85.  Ranks sum to 1 every
iteration.  Convergence: L∞(r^{t+1} − r^t) < tol.

Execution shape per iteration — one job-producing plan, materialized by
the round's own ``localCheckpoint``:
  1. contribs: ranks (n rows, small) ⨝ edges on src — ranks are the
     *small* side: broadcast while n·32 B fits the broadcast threshold,
     else exchanged against the edge table pinned by src
     (``co_partitioned``), so only ranks move.
  2. groupBy(dst).sum — map-side partial aggregation combines hub fan-in
     before the shuffle; AQE skew-join handles residual hub skew
     (see skew.py for the explicit salting path + metrics).
  3. ∪ the static set of nodes with no in-arc (no outer join).

On the broadcast path that is three Spark jobs per round: the rank
broadcast, the inflow shuffle and the checkpoint itself.

The state holds u = r − c, where c is the part every node shares: the
teleport term plus the redistributed dangling mass.  Since Σ r ≡ 1, c
follows from Σu, which the round reads with ``DataFrame.observe`` off
its own checkpoint job — the plan has no aggregate subquery and the
driver keeps c as a scalar.  The next round adds c to the rank side,
and the output adds it once at the end.

The L∞ probe (every ``check_every`` rounds) rides on the same job: the
round joins u' with the old ranks (the rank side's broadcast, reused)
and observes the max and min of u' − r; the change r' − r = u' − r + c'
peaks in absolute value at one of them.  There is no probe action.

Lineage is truncated by the per-round ``localCheckpoint``;
``IterativeRunner`` parquet checkpoints (resumable per the north rule)
store true ranks, one write per checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from webgraph_big_spark.checkpoint import IterativeRunner, record_params
from webgraph_big_spark.graph import Graph, broadcast_threshold, co_partitioned


def pagerank(
    g: Graph,
    alpha: float = 0.85,
    tol: float = 1e-8,
    max_iterations: int = 200,
    run_dir: str | None = None,
    checkpoint_every: int = 20,
    fixed_iterations: int | None = None,
    check_every: int = 4,
    broadcast_threshold_bytes: int | None = None,
    salt_buckets: int | None = None,
) -> DataFrame:
    """Returns (id, rank) over all n nodes.

    ``fixed_iterations`` runs exactly that many rounds with no convergence
    test (used by the SQL-oracle gate); otherwise the L∞ delta is tested
    every ``check_every`` rounds, and the run stops at the first probe
    round below ``tol``.

    ``salt_buckets`` (co-partition path only) splits each source's arcs
    across that many partitions: the edge table co-partitions on
    (src, salt(dst)) and the rank side replicates ×salt_buckets via a
    broadcast cross-join before the per-round join.  Without it a
    mega-out-hub's arcs land in ONE cached partition (hash(src) sends
    every arc of one src to the same place) and one straggler task per
    round carries the hub — AQE cannot split a cached, non-shuffle join
    side.  Cost: rank-side message volume ×salt_buckets (the small
    side); the hub partition shrinks ÷salt_buckets.  Use when
    max-outdegree ≫ m/num_partitions (see skew.py:hub_nodes and the
    measured hub benchmark in BENCH.md).
    """
    spark = g.edges.sparkSession
    n = g.num_nodes()
    if n == 0:
        return spark.createDataFrame([], "id long, rank double")

    # Join-strategy choice, *memory-aware* (not a magic row count): the
    # rank side is broadcast while its estimated bytes fit the session's
    # autoBroadcastJoinThreshold; beyond that the edge table is
    # pre-partitioned by src ONCE (hash partitioning survives
    # localCheckpoint), so each iteration's rank join is a shuffled hash
    # join that exchanges ONLY the rank rows — the edge table never
    # reshuffles, the bucketed-table pattern without a metastore.
    if broadcast_threshold_bytes is None:
        broadcast_threshold_bytes = broadcast_threshold(spark)
    RANK_ROW_BYTES = 32  # 8B id + 8B rank + row overhead, conservative
    use_broadcast = n * RANK_ROW_BYTES <= broadcast_threshold_bytes

    # The setup — the degree-joined edge table and the no-in-arc set — is
    # built by the first round, so a call whose run_dir is already
    # converged (it runs no round) builds neither.
    setup: dict[str, DataFrame] = {}

    def built() -> tuple[DataFrame, DataFrame]:
        if setup:
            return setup["edges"], setup["no_in"]
        if use_broadcast:
            # broadcast path: the degree side is ≤ n rows — the SAME bound
            # that qualified the rank side for broadcast — so attach outdeg
            # with a broadcast join instead of a src-shuffle SMJ: the edge
            # table is never exchanged at setup (guide §2.4/§3.1; the old
            # path paid degree-shuffle + SMJ + a round-robin rebalance,
            # three full passes of the edge table, before the loop even
            # started).  Input partitioning is whatever the source scan
            # produced, which is round-robin-ish — no hub concentration to
            # undo.
            edges_base = g.edges.select("src", "dst").join(
                F.broadcast(g.out_degrees().withColumnRenamed("id", "src")), "src"
            )
            edges_w = edges_base.localCheckpoint(eager=True)
        else:
            edges_base = g.edges.select("src", "dst").join(
                g.out_degrees().withColumnRenamed("id", "src"), "src"
            )
            # co-partition path — see co_partitioned for the full recipe:
            # each iteration's join satisfies its distribution requirement
            # from the cache and only the rank side is exchanged.
            if salt_buckets:
                edges_base = edges_base.withColumn(
                    "_salt",
                    F.pmod(F.xxhash64("dst"), F.lit(salt_buckets)).cast("int"),
                )
                edges_w = co_partitioned(edges_base, "src", "_salt", rows=g.num_arcs())
            else:
                edges_w = co_partitioned(edges_base, "src", rows=g.num_arcs())
        setup["edges"] = edges_w
        # Nodes with no in-arc never receive inflow: their u is 0.0 every
        # round.  The set is STATIC, so precompute it once and make each
        # round a (contribs ∪ constant) union instead of an n-row outer
        # join — the per-round sort-merge join of the full node set
        # against contribs disappears from the loop entirely (guide §2.4:
        # remove shuffles outright).  The in-arc id set has ≤ n rows, so
        # on the broadcast path it is broadcast like the rank side.
        has_in = g.edges.select(F.col("dst").alias("id")).distinct()
        if use_broadcast:
            has_in = F.broadcast(has_in)
        setup["no_in"] = g.nodes().join(has_in, "id", "left_anti").localCheckpoint(eager=True)
        return setup["edges"], setup["no_in"]

    # state rank column = u = rank − c (module docstring); a fresh or
    # resumed state holds true ranks, i.e. c = 0
    c = 0.0
    obs: Observation | None = None  # the latest round's metrics

    def initial() -> DataFrame:
        return g.nodes().select("id", F.lit(1.0 / n).alias("rank"))

    def step(ranks: DataFrame, it: int):
        nonlocal obs
        edges_w, no_in = built()
        # After localCheckpoint the rank DataFrame is a LogicalRDD with no
        # size statistics, so Catalyst left alone would fall back to a
        # sort-merge join that reshuffles the whole edge table every
        # round.  Below the (memory-derived) threshold the rank side is
        # broadcast explicitly; above it, the shuffle-hash hint + the
        # pre-partitioned edge table make each round exchange only ranks.
        true_rank = F.col("rank") + F.lit(c)
        rank_side = ranks.select(F.col("id").alias("src"), true_rank.alias("rank"))
        join_keys = ["src"]
        if use_broadcast:
            rank_side = F.broadcast(rank_side)
        else:
            if salt_buckets:
                # replicate the (small) rank side across the salt space so
                # the join key matches the salted edge partitioning — the
                # hub's arcs then spread over salt_buckets tasks
                salts = spark.range(salt_buckets).select(
                    F.col("id").cast("int").alias("_salt")
                )
                rank_side = rank_side.crossJoin(F.broadcast(salts))
                join_keys = ["src", "_salt"]
            rank_side = rank_side.hint("shuffle_hash")
        contribs = (
            edges_w.join(rank_side, join_keys)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("inflow"))
        )
        # every node with an in-arc appears in contribs every round (all
        # sources carry a rank), so contribs rows ∪ the static no-in set
        # (inflow ≡ 0) cover all n nodes without a join
        new_u = contribs.select("id", (F.lit(alpha) * F.col("inflow")).alias("rank")).unionByName(
            no_in.select("id", F.lit(0.0).alias("rank"))
        )
        observed = [F.sum("rank").alias("mass")]
        if fixed_iterations is None and (it + 1) % check_every == 0:
            # L∞ probe in the same job: new − old = (u' − old) + c', and
            # c' is known only after this round, so observe the extremes
            # of u' − old; the largest |· + c'| is at one of them.  The old
            # side is the rank side's plan under other names, so on the
            # broadcast path Spark reuses the round's one broadcast
            old = ranks.select(F.col("id").alias("_src"), true_rank.alias("_old"))
            old = F.broadcast(old) if use_broadcast else old.hint("shuffle_hash")
            new_u = new_u.join(old, F.col("id") == F.col("_src")).withColumn(
                "_d", F.col("rank") - F.col("_old")
            )
            observed += [F.max("_d").alias("dmax"), F.min("_d").alias("dmin")]
        obs = Observation()
        return new_u.observe(obs, *observed).select("id", "rank")

    def check(new: DataFrame, it: int):
        nonlocal c
        m = obs.get
        c = (1.0 - m["mass"]) / n
        if "dmax" not in m:
            return None
        delta = max(abs(m["dmax"] + c), abs(m["dmin"] + c))
        return 0 if delta < tol else 1

    def with_c(state: DataFrame) -> DataFrame:
        return state.select("id", (F.col("rank") + F.lit(c)).alias("rank"))

    if run_dir:
        # a run dir converged under another stop rule resumes unconverged
        record_params(run_dir, tol=tol, alpha=alpha, fixed_iterations=fixed_iterations)
    runner = IterativeRunner(
        spark,
        run_dir=run_dir,
        checkpoint_every=checkpoint_every,
        max_iterations=fixed_iterations or max_iterations,
    )
    try:
        result = runner.run(initial, step, check=check, durable=with_c)
    finally:
        if setup and not use_broadcast:
            # don't leave the degree-joined edge table pinned in executor
            # storage for the rest of the session
            setup["edges"].unpersist()
    return with_c(result.state)
