"""Minimum end-to-end slice (SURVEY.md §7): repos table → vectorized
extraction → dense ids → PageRank, validated against the NumPy oracle at
allclose 1e-6, with the sha256 ingest invariant asserted per row."""

import hashlib

import numpy as np
import pytest

from tests.oracle import pagerank_oracle
from webgraph_big_spark import synth
from webgraph_big_spark.extract import build_graph, extract_references
from webgraph_big_spark.algorithms.pagerank import pagerank


@pytest.fixture(scope="module")
def fixture_graph():
    # denser ER = spectral expander = PageRank converges in ~20 rounds
    # (sparse graphs converge like alpha^t and make this test 6x slower)
    e1 = synth.erdos_renyi(50, 0.25, seed=7)
    return e1, 50


def test_extraction_reproduces_graph(spark, fixture_graph):
    edges, n = fixture_graph
    repos = synth.repos_table(spark, edges, n)
    g, id_map = build_graph(repos)
    # dense ids are sorted-symbol rank == original node index (mod_%08d sorts numerically)
    got = {(r["src"], r["dst"]) for r in g.edges.collect()}
    want = {(int(s), int(d)) for s, d in edges}
    assert got == want
    assert g.num_nodes() == n


def test_build_graph_leaves_no_cache(spark, fixture_graph):
    """The id map is pinned by a checkpoint, not a session cache entry
    that outlives the call; the graph and its node count are unchanged."""
    edges, n = fixture_graph
    repos = synth.repos_table(spark, edges, n)
    spark.catalog.clearCache()  # only this call's caches are under test
    g, id_map = build_graph(repos)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert g.num_nodes() == n
    assert {r["id"] for r in id_map.collect()} == set(range(n))
    assert {(r["src"], r["dst"]) for r in g.edges.collect()} == {
        (int(s), int(d)) for s, d in edges
    }


def test_sha256_ingest_invariant(spark, fixture_graph):
    edges, n = fixture_graph
    pdf = synth.repos_pdf(edges, n)
    repos = spark.createDataFrame(pdf)
    refs = extract_references(repos).collect()
    expected = dict(zip(pdf["path"].str.extract(r"src/(mod_\d+)\.")[0], pdf["content_sha256"]))
    assert len(refs) > 0
    for r in refs:
        assert r["content_sha"] == expected[r["src_symbol"]]
    # and the generator-side hashlib sha equals Spark's sha2 for every row
    spark_shas = {
        row["path"]: row["sha"]
        for row in repos.selectExpr("path", "sha2(content, 256) as sha").collect()
    }
    for _, row in pdf.iterrows():
        assert spark_shas[row["path"]] == hashlib.sha256(row["content"].encode()).hexdigest()


def test_pagerank_end_to_end(spark, fixture_graph, tmp_run_dir):
    edges, n = fixture_graph
    repos = synth.repos_table(spark, edges, n)
    g, _ = build_graph(repos)
    ranks = pagerank(g, alpha=0.85, tol=1e-9, run_dir=tmp_run_dir, check_every=5)
    got = np.zeros(n)
    for r in ranks.collect():
        got[r["id"]] = r["rank"]
    want = pagerank_oracle(edges, n, alpha=0.85, tol=1e-14)
    assert np.allclose(got, want, atol=1e-6)
    assert abs(got.sum() - 1.0) < 1e-9


def test_pagerank_fixed_iterations_exact_trajectory(spark, fixture_graph):
    edges, n = fixture_graph
    from webgraph_big_spark.graph import Graph

    g = Graph.from_pairs(spark, [(int(s), int(d)) for s, d in edges], num_nodes=n)
    ranks = pagerank(g, fixed_iterations=15)
    got = np.zeros(n)
    for r in ranks.collect():
        got[r["id"]] = r["rank"]
    want = pagerank_oracle(edges, n, fixed_iterations=15)
    assert np.allclose(got, want, atol=1e-12)
