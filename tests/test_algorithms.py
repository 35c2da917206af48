"""Algorithm correctness vs independent pure-Python/NumPy oracles on the
reference's generator families (SURVEY.md §5): cycles, trees, stars,
disjoint unions, seeded Erdős–Rényi."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.oracle import (
    bfs_oracle,
    components_oracle,
    label_propagation_oracle,
    pagerank_oracle,
    triangles_oracle,
)
from webgraph_big_spark import synth
from webgraph_big_spark.graph import Graph
from webgraph_big_spark.algorithms.components import (
    component_sizes,
    connected_components,
    connected_components_star,
    sort_by_size,
)
from webgraph_big_spark.algorithms.labelprop import label_propagation
from webgraph_big_spark.algorithms.pagerank import pagerank
from webgraph_big_spark.algorithms.triangles import triangle_count
from webgraph_big_spark.algorithms.bfs import bfs_distances
from webgraph_big_spark.algorithms.stats import degree_histogram, graph_stats


def _g(spark, edges, n):
    return Graph.from_pairs(spark, [(int(s), int(d)) for s, d in edges], num_nodes=n)


FAMILIES = {
    "cycle": (synth.cycle(12, bidirectional=True), 12),
    "tree_out": (synth.complete_binary_tree(3, "out"), 15),
    "star": (synth.star(20), 20),
    "er": (synth.erdos_renyi(40, 0.12, seed=11), 40),
    "two_comp": synth.disjoint_union(
        (synth.cycle(5, bidirectional=True), 5), (synth.complete(4), 4)
    ),
}


@pytest.mark.parametrize("fam", sorted(FAMILIES))
def test_pagerank_families(spark, fam):
    edges, n = FAMILIES[fam]
    got_df = pagerank(_g(spark, edges, n), fixed_iterations=8)
    got = np.zeros(n)
    for r in got_df.collect():
        got[r["id"]] = r["rank"]
    want = pagerank_oracle(edges, n, fixed_iterations=8)
    assert np.allclose(got, want, atol=1e-10), fam


def _comp_map(df):
    return {r["id"]: r["comp"] for r in df.collect()}


def _as_partition(comp_map, n):
    groups = {}
    for i in range(n):
        groups.setdefault(comp_map[i], set()).add(i)
    return sorted(frozenset(s) for s in groups.values())


@pytest.mark.parametrize("fam", sorted(FAMILIES))
@pytest.mark.parametrize("algo", ["hashmin", "star"])
def test_components_families(spark, fam, algo):
    edges, n = FAMILIES[fam]
    g = _g(spark, edges, n)
    if algo == "hashmin":
        got = connected_components(g, max_iterations=100)
    else:
        got = connected_components_star(g)
    want = components_oracle(edges, n)
    got_m = _comp_map(got)
    # compare as partitions (like ConnectedComponentsTest.sameComponents)
    want_m = {i: int(want[i]) for i in range(n)}
    assert _as_partition(got_m, n) == _as_partition(want_m, n), (fam, algo)
    # our labels are canonical (min id) → should equal oracle labels too
    assert got_m == want_m, (fam, algo)


def test_component_sizes_and_sort(spark):
    edges, n = FAMILIES["two_comp"]
    comps = connected_components(_g(spark, edges, n), max_iterations=50)
    sizes = {r["comp"]: r["size"] for r in component_sizes(comps).collect()}
    assert sorted(sizes.values()) == [4, 5]
    renum = sort_by_size(comps)
    m = _comp_map(renum)
    # largest component (the 5-cycle, ids 0-4) gets comp 0
    assert all(m[i] == 0 for i in range(5))
    assert all(m[i] == 1 for i in range(5, 9))


@pytest.mark.parametrize("fam", ["er", "two_comp", "star"])
def test_labelprop_families(spark, fam):
    edges, n = FAMILIES[fam]
    got_df = label_propagation(_g(spark, edges, n), rounds=3)
    got = {r["id"]: r["label"] for r in got_df.collect()}
    want = label_propagation_oracle(edges, n, rounds=3)
    assert got == {i: int(want[i]) for i in range(n)}, fam


@pytest.mark.parametrize("fam", sorted(FAMILIES))
def test_triangles_families(spark, fam):
    edges, n = FAMILIES[fam]
    assert triangle_count(_g(spark, edges, n)) == triangles_oracle(edges, n), fam


def test_triangles_complete_graph_closed_form(spark):
    # K6: C(6,3) = 20 triangles
    assert triangle_count(_g(spark, synth.complete(6), 6)) == 20


@pytest.mark.parametrize("fam", ["er", "tree_out", "two_comp"])
def test_bfs_families(spark, fam):
    edges, n = FAMILIES[fam]
    got = {r["id"]: r["dist"] for r in bfs_distances(_g(spark, edges, n), [0]).collect()}
    want = bfs_oracle(edges, n, [0])
    assert got == want, fam


def test_degree_histogram_and_stats(spark):
    edges, n = FAMILIES["star"]  # hub 0 with in+out 19, leaves 1 each way
    g = _g(spark, edges, n)
    hist = {r["deg"]: r["n_nodes"] for r in degree_histogram(g, "out").collect()}
    assert hist == {19: 1, 1: 19}
    s = graph_stats(g)
    assert s["nodes"] == 20 and s["arcs"] == 38
    assert s["max_outdegree"] == 19 and s["argmax_outdegree"] == 0
    assert s["dangling"] == 0 and s["loops"] == 0


def test_graph_stats_releases_caches_on_failure(spark, monkeypatch):
    """An action failing midway through graph_stats (its third
    ``first()``) still releases both caches it made."""
    edges, n = FAMILIES["star"]
    g = _g(spark, edges, n)
    spark.catalog.clearCache()  # only this call's caches are under test
    cls = type(g.edges)
    original = cls.first
    calls = []

    def failing(self):
        calls.append(1)
        if len(calls) == 3:
            raise RuntimeError("injected failure")
        return original(self)

    monkeypatch.setattr(cls, "first", failing)
    with pytest.raises(RuntimeError, match="injected failure"):
        graph_stats(g)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
