"""The shared frontier-reach driver, loop exits read off the round's own
checkpoint, cache release on every exit path, and the broadcast
threshold as Spark parses it."""

import networkx as nx
import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.oracle import bfs_oracle, pagerank_oracle
from tests.test_pagerank_rounds import _jobs
from webgraph_big_spark.algorithms.bfs import bfs_distances, visit_all
from webgraph_big_spark.algorithms.components import (
    connected_components,
    connected_components_star,
)
from webgraph_big_spark.algorithms.hyperball import hyperball
from webgraph_big_spark.algorithms.labelprop import label_propagation
from webgraph_big_spark.algorithms.pagerank import pagerank
from webgraph_big_spark.algorithms.scc import strongly_connected_components_fwbw
from webgraph_big_spark.algorithms.triangles import triangle_edges
from webgraph_big_spark.graph import (
    Graph,
    broadcast_threshold,
    co_partitioned,
    frontier_reach,
)

THRESHOLD_KEY = "spark.sql.autoBroadcastJoinThreshold"


def _chain(spark, n):
    return Graph.from_pairs(spark, [(i, i + 1) for i in range(n - 1)], num_nodes=n)


REACH_CASES = {
    # arcs, n, seeds, max_rounds
    "empty_seeds": ([(0, 1), (1, 2)], 3, [], None),
    "seed_without_out_arcs": ([(0, 1), (1, 2)], 3, [2], None),
    "zero_rounds": ([(0, 1), (1, 2)], 3, [0], 0),
    "two_cycle": ([(0, 1), (1, 0)], 2, [0], None),
    "duplicate_arcs": ([(0, 1), (0, 1), (1, 2), (1, 2), (2, 0), (3, 0)], 4, [0], None),
}


@pytest.mark.parametrize("case", sorted(REACH_CASES))
def test_frontier_reach_edge_cases(spark, case):
    """The driver with a bare successor expansion reaches networkx's
    descendants within ``max_rounds``, and BFS built on it gives
    networkx's distances."""
    arcs, n, seeds, rounds = REACH_CASES[case]
    g = Graph.from_pairs(spark, arcs, num_nodes=n)
    ref = nx.DiGraph(arcs)
    ref.add_nodes_from(range(n))
    want = (
        nx.multi_source_dijkstra_path_length(ref, set(seeds), cutoff=rounds)
        if seeds
        else {}
    )

    pin = co_partitioned(g.edges, "src", rows=len(arcs))
    try:
        reached = frontier_reach(
            spark.createDataFrame([(s,) for s in seeds], "id long"),
            lambda frontier, _: pin.join(
                frontier.withColumnRenamed("id", "src").hint("shuffle_hash"), "src"
            )
            .select(F.col("dst").alias("id"))
            .distinct(),
            rounds,
        )
        assert sorted(r["id"] for r in reached.collect()) == sorted(want)
    finally:
        pin.unpersist()

    dists = bfs_distances(g, seeds, symmetric=True, fixed_rounds=rounds)
    assert {r["id"]: r["dist"] for r in dists.collect()} == want


def test_loops_run_no_emptiness_probe(spark, monkeypatch):
    """BFS to exhaustion, HyperBall to its register fixpoint and the
    directed ``visit_all`` end on the count observed by their own
    checkpoint job: none calls ``isEmpty()`` (before the shared driver
    BFS and HyperBall called it every level or round, ``visit_all``
    every component)."""
    g = _chain(spark, 6)
    edges = np.array([(i, i + 1) for i in range(5)])

    def probe(self):
        raise AssertionError("isEmpty() called as a loop exit probe")

    monkeypatch.setattr(type(g.edges), "isEmpty", probe)
    got = {r["id"]: r["dist"] for r in bfs_distances(g, [0], symmetric=True).collect()}
    assert got == bfs_oracle(edges, 6, [0], symmetric_expand=False)

    conv = sorted((r["t"], r["nf"]) for r in hyperball(g, None).collect())
    bounded = sorted((r["t"], r["nf"]) for r in hyperball(g, 9).collect())
    # five rounds grow the balls along the chain, the sixth changes nothing
    assert [t for t, _ in conv] == list(range(7))
    assert conv == bounded[:7]

    # the chain plus two isolated nodes: each restart takes the least
    # unvisited id, read off the previous checkpoint
    tail = Graph(g.edges, num_nodes=8)
    got = {r["id"]: (r["round"], r["dist"]) for r in visit_all(tail, symmetric=False).collect()}
    assert got == {**{i: (0, i) for i in range(6)}, 6: (1, 0), 7: (2, 0)}

    # FW-BW: a pivot round resolves {0, 1, 2}, a colouring round {3, 4, 5}
    cycles = Graph.from_pairs(spark, [(i, i + 1) for i in range(5)] + [(2, 0), (5, 3)])
    got = {r["id"]: r["comp"] for r in strongly_connected_components_fwbw(cycles).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}


def test_bfs_jobs_per_level(spark):
    """Three more BFS levels cost 12 Spark jobs: each level is one
    checkpoint action, run as 4 jobs (3 shuffle stages and the result
    stage).  Before the shared driver the same three levels cost 16:
    5 per level (the extra one an ``isEmpty()`` probe) plus one visited
    re-materialization at depth 10."""

    def run(n):
        g = _chain(spark, n)
        g.num_arcs()
        return _jobs(
            spark, f"bfs_chain_{n}", lambda: bfs_distances(g, [0], symmetric=True).collect()
        )

    assert run(13) - run(10) == 12


CACHED_RUNS = {
    "bfs": lambda g: bfs_distances(g, [0]),
    "connected_components": lambda g: connected_components(g),
    "label_propagation": lambda g: label_propagation(g, rounds=4),
    "connected_components_star": lambda g: connected_components_star(g),
    "hyperball": lambda g: hyperball(g, None),
    # the chain with every arc both ways is one SCC: coloring resolves it
    "scc_fwbw": lambda g: strongly_connected_components_fwbw(
        Graph(g.edges.union(g.edges.select("dst", "src")), num_nodes=8), giant_pivots=0
    ),
}
# the checkpoint that raises: the third, or for FW-BW one inside its
# coloring loop, while both edge pins are held
FAIL_AT = {"scc_fwbw": 7}


@pytest.mark.parametrize("algo", sorted(CACHED_RUNS))
def test_caches_released_when_loop_raises(spark, monkeypatch, algo):
    """A failure in the middle of the loop (the third checkpoint raises)
    still releases every cache and pin the algorithm made."""
    g = _chain(spark, 8)
    g.num_arcs()
    spark.catalog.clearCache()  # only this call's caches are under test
    cls = type(g.edges)
    original = cls.localCheckpoint
    calls = []

    def failing(self, *args, **kwargs):
        calls.append(1)
        if len(calls) == FAIL_AT.get(algo, 3):
            raise RuntimeError("injected failure")
        return original(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", failing)
    with pytest.raises(RuntimeError, match="injected failure"):
        CACHED_RUNS[algo](g).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("fn", [triangle_edges], ids=lambda f: f.__name__)
def test_triangles_leave_no_cache(spark, fn):
    """The oriented adjacency a triangle call builds is a checkpoint, not
    a session cache entry that outlives the call."""
    g = Graph.from_pairs(spark, [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0)], num_nodes=4)
    spark.catalog.clearCache()  # only these calls' caches are under test
    fn(g).collect()
    fn(g).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


THRESHOLDS = {
    "10485760": 10485760,
    "10m": 10 << 20,
    "64MB": 64 << 20,
    "1g": 1 << 30,
    "1t": 1 << 40,
    "-1": -1,
}


@pytest.mark.parametrize("value", list(THRESHOLDS))
def test_broadcast_threshold_is_sparks_parse(spark, value):
    old = spark.conf.get(THRESHOLD_KEY)
    spark.conf.set(THRESHOLD_KEY, value)
    try:
        assert broadcast_threshold(spark) == THRESHOLDS[value]
    finally:
        spark.conf.set(THRESHOLD_KEY, old)


def test_pagerank_broadcasts_under_terabyte_threshold(spark, monkeypatch):
    """Under a ``"1t"`` threshold a 20-node PageRank takes the broadcast
    path: no round reads a cached ``co_partitioned`` pin.  A parser that
    dropped the ``t`` suffix read 1 byte and pinned the edges instead."""
    edges = [(i, (i + 1) % 20) for i in range(20)] + [(i, (3 * i) % 20) for i in range(20)]
    g = Graph.from_pairs(spark, edges, num_nodes=20)
    cls = type(g.edges)
    plans = []
    original = cls.localCheckpoint

    def recording(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return original(self, *args, **kwargs)

    old = spark.conf.get(THRESHOLD_KEY)
    spark.conf.set(THRESHOLD_KEY, "1t")
    try:
        monkeypatch.setattr(cls, "localCheckpoint", recording)
        ranks = {r["id"]: r["rank"] for r in pagerank(g, fixed_iterations=3).collect()}
    finally:
        spark.conf.set(THRESHOLD_KEY, old)
    assert plans and not any("InMemoryTableScan" in p for p in plans)
    want = pagerank_oracle(np.array(edges), 20, fixed_iterations=3)
    np.testing.assert_allclose([ranks[i] for i in range(20)], want, rtol=1e-9)
