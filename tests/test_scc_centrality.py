"""SCC + geometric centralities vs pure-Python oracles (Tarjan / per-source
BFS) — the reference's own cross-check style (SCC oracle appears in
test/.../StronglyConnectedComponentsTarjan.java)."""

import numpy as np
import pytest

from tests.oracle import harmonic_oracle, scc_oracle
from webgraph_big_spark import synth
from webgraph_big_spark.graph import Graph
from webgraph_big_spark.algorithms.scc import (
    _peel_trivial,
    strongly_connected_components,
)
from webgraph_big_spark.algorithms.centrality import harmonic_centrality


def _g(spark, edges, n):
    return Graph.from_pairs(spark, [(int(s), int(d)) for s, d in edges], num_nodes=n)


CASES = {
    "cycle": (synth.cycle(8), 8),                      # one SCC of 8
    "two_cycles": synth.disjoint_union((synth.cycle(4), 4), (synth.cycle(3), 3)),
    "dag": (synth.complete_binary_tree(3, "out"), 15),  # all singletons
    "er": (synth.erdos_renyi(25, 0.12, seed=4), 25),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_scc_vs_tarjan(spark, case):
    edges, n = CASES[case]
    got = {r["id"]: r["comp"] for r in strongly_connected_components(_g(spark, edges, n), t=32).collect()}
    want = scc_oracle(edges, n)
    assert got == {i: int(want[i]) for i in range(n)}, case


def test_trim_removes_dag_fringe(spark):
    edges, n = CASES["dag"]
    arcs = _g(spark, edges, n).edges.select("src", "dst")
    trimmed, _, _ = _peel_trivial(arcs, max_rounds=4)
    assert trimmed.isEmpty()  # a tree has no 2-cycles at all
    # zero rounds return the edges unchanged
    kept = _peel_trivial(arcs, max_rounds=0)[0].collect()
    assert sorted(map(tuple, kept)) == sorted((int(s), int(d)) for s, d in edges)


def test_harmonic_vs_oracle(spark):
    edges, n = CASES["er"]
    got = {r["id"]: r["harmonic"] for r in harmonic_centrality(_g(spark, edges, n), t=10).collect()}
    want = harmonic_oracle(edges, n, 10)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-8, k

