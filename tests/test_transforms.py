"""Transform semantics vs the reference's documented behavior
(SURVEY.md §2.2/2.3/2.6), on structured generator families like
``BVGraphTest.testCompression`` does."""

import pytest
from pyspark.sql import functions as F

from tests.test_pagerank_rounds import _jobs
from webgraph_big_spark import synth, transforms as tr
from webgraph_big_spark.algorithms.pagerank import pagerank
from webgraph_big_spark.graph import Graph


def _g(spark, edges, n):
    return Graph.from_pairs(spark, [(int(s), int(d)) for s, d in edges], num_nodes=n)


@pytest.fixture(scope="module")
def er(spark):
    e = synth.erdos_renyi(30, 0.15, seed=3)
    return _g(spark, e, 30), e, 30


def _arcs(g):
    return {(r["src"], r["dst"]) for r in g.edges.collect()}


def test_transpose_involution(spark, er):
    g, e, n = er
    assert tr.transpose(tr.transpose(g)).same_graph(g)
    assert _arcs(tr.transpose(g)) == {(int(d), int(s)) for s, d in e}


def test_symmetrize_simplify(spark, er):
    g, e, n = er
    sym = tr.symmetrize(g)
    want = {(int(s), int(d)) for s, d in e} | {(int(d), int(s)) for s, d in e}
    assert _arcs(sym) == want
    simple = tr.simplify(g)
    assert _arcs(simple) == {(a, b) for a, b in want if a != b}
    # simplify is idempotent
    assert tr.simplify(simple).same_graph(simple)


def test_union_and_filters(spark, er):
    g, e, n = er
    star = _g(spark, synth.star(10, direction="out"), 10)
    u = tr.union_graphs(g, star)
    assert _arcs(u) == _arcs(g) | _arcs(star)
    nl = tr.no_loops(_g(spark, [(0, 0), (0, 1), (1, 1)], 2))
    assert _arcs(nl) == {(0, 1)}
    evens = tr.filter_arcs(g, (F.col("src") % 2 == 0))
    assert _arcs(evens) == {(a, b) for a, b in _arcs(g) if a % 2 == 0}


# a scattered-id graph: node 40's only arc leaves from node 20
SCATTERED = [(10, 20), (20, 30), (30, 10), (20, 40)]


def test_filter_of_scattered_graph_counts_its_own_nodes(spark):
    """Dropping node 20's out-arcs also drops node 40, so the filtered
    graph has 3 nodes even after the parent's count of 4 was memoized,
    and PageRank over it sums to 1."""
    g = Graph.from_pairs(spark, SCATTERED)
    assert g.num_nodes() == 4
    h = tr.filter_arcs(g, F.col("src") != 20)
    ranks = pagerank(h, fixed_iterations=5).collect()
    assert h.num_nodes() == h.nodes().count() == len(ranks) == 3
    assert sum(r["rank"] for r in ranks) == pytest.approx(1.0, abs=1e-12)


def test_union_of_scattered_graphs_counts_the_union(spark):
    g0 = Graph.from_pairs(spark, [(1, 2), (2, 3)])
    g1 = Graph.from_pairs(spark, [(3, 4), (5, 6)])
    assert (g0.num_nodes(), g1.num_nodes()) == (3, 4)
    u = tr.union_graphs(g0, g1)
    assert u.num_nodes() == u.nodes().count() == 6
    # dense graphs keep n = max(n0, n1), isolated nodes included
    d = tr.union_graphs(_g(spark, [(0, 1)], 5), _g(spark, [(2, 3)], 9))
    assert d.num_nodes() == 9


def test_reassigned_edges_drop_derived_memos(spark):
    """Reassigning ``edges`` recounts nodes, touched nodes and arcs; a
    node count the caller declared stays."""
    g = Graph.from_pairs(spark, SCATTERED)
    assert (g.num_nodes(), g.touched_nodes().count(), g.num_arcs()) == (4, 4, 4)
    g.edges = g.edges.filter(F.col("dst") != 40)
    assert (g.num_nodes(), g.touched_nodes().count(), g.num_arcs()) == (3, 3, 3)
    dense = Graph(g.edges, dense=True)
    assert dense.num_nodes() == 31
    dense.edges = dense.edges.filter(F.col("src") != 30)
    assert dense.num_nodes() == 31 and dense.num_arcs() == 2
    dense.edges = dense.edges.filter(F.col("src") != 20)
    assert dense.num_nodes() == 21
    declared = _g(spark, SCATTERED, 50)
    declared.edges = declared.edges.filter(F.col("dst") != 40)
    assert declared.num_nodes() == 50


def test_num_arcs_counts_once_per_arc_table(spark):
    g = _g(spark, SCATTERED, 41)
    assert g.num_arcs() == 4
    assert _jobs(spark, "num_arcs_memo", g.num_arcs) == 0
    g.edges = g.edges.filter(F.col("src") != 20)
    assert g.num_arcs() == 2


def test_compose_is_two_hop(spark, er):
    g, e, n = er
    got = _arcs(tr.compose(g, g))
    arcs = _arcs(g)
    want = {(a, c) for a, b in arcs for b2, c in arcs if b == b2}
    assert got == want


def test_compose_semiring_minplus(spark):
    # path 0-(w1)->1-(w2)->2 and 0-(w5)->3-(w1)->2: min-plus = 3
    rows = [(0, 1, 1), (1, 2, 2), (0, 3, 5), (3, 2, 1)]
    df = _g(spark, [(a, b) for a, b, _ in rows], 4).edges.sparkSession.createDataFrame(
        rows, "src long, dst long, w long"
    )
    g = Graph(df, num_nodes=4)
    got = {(r["src"], r["dst"]): r["w"] for r in tr.compose_semiring(g, g).edges.collect()}
    assert got[(0, 2)] == 3


def test_map_nodes_quotient_and_delete(spark):
    g = _g(spark, [(0, 1), (1, 2), (2, 3), (3, 0)], 4)
    spark_s = g.edges.sparkSession
    # quotient: {0,2}→0, {1,3}→1 — cycle becomes bipartite double arc
    m = spark_s.createDataFrame([(0, 0), (1, 1), (2, 0), (3, 1)], "id long, to long")
    got = _arcs(tr.map_nodes(g, m))
    assert got == {(0, 1), (1, 0)}
    # delete node 3 (to = -1): arcs touching it vanish
    m2 = spark_s.createDataFrame([(0, 0), (1, 1), (2, 2), (3, -1)], "id long, to long")
    got2 = _arcs(tr.map_nodes(g, m2))
    assert got2 == {(0, 1), (1, 2)}


def test_induced_subgraph_renumber(spark):
    g = _g(spark, [(0, 5), (5, 9), (9, 0), (0, 3)], 10)
    sub = g.edges.sparkSession.createDataFrame([(0,), (5,), (9,)], "id long")
    got = _arcs(tr.induced_subgraph(g, sub, renumber=True))
    # sorted subset [0,5,9] → 0→0, 5→1, 9→2
    assert got == {(0, 1), (1, 2), (2, 0)}
    got_raw = _arcs(tr.induced_subgraph(g, sub, renumber=False))
    assert got_raw == {(0, 5), (5, 9), (9, 0)}


def test_union_labelled_merge(spark):
    s = None
    from pyspark.sql import functions as F

    g1 = Graph(
        _g(spark, [(0, 1)], 2).edges.sparkSession.createDataFrame(
            [(0, 1, 2)], "src long, dst long, w long"
        )
    )
    g2 = Graph(
        g1.edges.sparkSession.createDataFrame([(0, 1, 3), (1, 0, 7)], "src long, dst long, w long")
    )
    got = {
        (r["src"], r["dst"]): r["w"]
        for r in tr.union_labelled(g1, g2, {"w": F.sum("w").alias("w")}).edges.collect()
    }
    assert got == {(0, 1): 5, (1, 0): 7}


def test_relabel_by_order(spark):
    g = _g(spark, [(0, 1), (1, 2)], 3)
    order = g.edges.sparkSession.createDataFrame(
        [(0, 30), (1, 10), (2, 20)], "id long, key long"
    )
    gg, perm = tr.relabel_by_order(g, order)
    # key order: 1(10) → 0, 2(20) → 1, 0(30) → 2
    assert _arcs(gg) == {(2, 0), (0, 1)}
