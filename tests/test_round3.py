"""Round-3 additions: triple-text labelled loader, BidirectionalGraph,
typed per-type-pair conversion/storage, parallel visit_all, global_cumsum
/ arc-balanced repartition, HLL precision knob, labelled hub decode
linearity."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from webgraph_big_spark import transforms as tr, typed as ty
from webgraph_big_spark.functions import global_cumsum
from webgraph_big_spark.graph import Graph
from webgraph_big_spark.skew import repartition_by_cumulative_degree
from webgraph_big_spark.algorithms.bfs import visit_all
from webgraph_big_spark.algorithms.hyperball import hyperball, _cfg


def _g(spark, edges, n=None):
    return Graph.from_pairs(spark, [(int(s), int(d)) for s, d in edges], num_nodes=n)


# ---------------------------------------------------------------------------
# sources: triple text (IntegerTriplesArcLabelledImmutableGraph)
# ---------------------------------------------------------------------------


def test_from_triples_text_roundtrip(spark, tmp_path):
    p = tmp_path / "triples.tsv"
    p.write_text("0\t1\t7\n1\t2\t3\n2\t0\t9\n0\t2\t1\n")
    g = Graph.from_triples_text(spark, str(p))
    assert g.num_nodes() == 3
    got = {(r["src"], r["dst"]): r["label"] for r in g.edges.collect()}
    assert got == {(0, 1): 7, (1, 2): 3, (2, 0): 9, (0, 2): 1}
    # store/load keeps the labels aligned with successors
    base = str(tmp_path / "stored")
    g.store(base, buckets=2)
    back = Graph.load(spark, base)
    got2 = {(r["src"], r["dst"]): r["label"] for r in back.edges.collect()}
    assert got2 == got


# ---------------------------------------------------------------------------
# BidirectionalGraph (BidirectionalImmutableGraph)
# ---------------------------------------------------------------------------


def test_bidirectional_graph(spark):
    g = _g(spark, [(0, 1), (0, 2), (1, 2)], n=3)
    bd = tr.BidirectionalGraph(g)
    out = {r["id"]: r["outdeg"] for r in bd.out_degrees().collect()}
    inn = {r["id"]: r["indeg"] for r in bd.in_degrees().collect()}
    assert out == {0: 2, 1: 1}
    assert inn == {1: 1, 2: 2}


# ---------------------------------------------------------------------------
# typed conversion (ConvertToTypedGraph / EstimateTypedGraphSize)
# ---------------------------------------------------------------------------


def test_typed_conversion_and_pair_pruning(spark, tmp_path):
    # nodes 0..3 type 0, nodes 10..12 type 1
    edges = [(0, 1), (0, 10), (1, 11), (10, 11), (11, 2), (12, 3), (3, 12)]
    g = _g(spark, edges)
    nt = spark.createDataFrame(
        [(i, 0) for i in (0, 1, 2, 3)] + [(i, 1) for i in (10, 11, 12)],
        "id long, type int",
    )
    base = str(tmp_path / "typed")
    meta = ty.convert_to_typed(g, nt, base)
    assert meta["nodes_per_type"] == {0: 4, 1: 3}
    assert meta["arcs_per_pair"] == {"0,0": 1, "0,1": 3, "1,1": 1, "1,0": 2}
    assert meta["dropped_arcs"] == 0

    # per-type dense ids follow node order: 10→0, 11→1, 12→2 in type 1
    ids = {
        (r["id"]): (r["type"], r["typed_id"])
        for r in spark.read.parquet(os.path.join(base, "ids")).collect()
    }
    assert ids[10] == (1, 0) and ids[11] == (1, 1) and ids[12] == (1, 2)
    assert ids[0] == (0, 0) and ids[3] == (0, 3)

    # pair load is pruned to that partition and carries packed ids
    arcs = spark.read.parquet(os.path.join(base, "arcs"))
    pair = arcs.filter((F.col("src_type") == 0) & (F.col("dst_type") == 1)).collect()
    assert {(r["src_tid"], r["dst_tid"]) for r in pair} == {(0, 0), (1, 1), (3, 2)}
    for r in pair:
        assert r["src_packed"] == r["src_tid"]  # type 0: high bits zero
        assert r["dst_packed"] == (1 << 48) | r["dst_tid"]

    stats = {
        (r["src_type"], r["dst_type"]): r["count"]
        for r in arcs.groupBy("src_type", "dst_type").count().collect()
    }
    assert stats == {(0, 0): 1, (0, 1): 3, (1, 1): 1, (1, 0): 2}


def test_typed_conversion_type_graph_drops(spark, tmp_path):
    edges = [(0, 1), (0, 10), (10, 0)]
    g = _g(spark, edges)
    nt = spark.createDataFrame(
        [(0, 0), (1, 0), (10, 1)], "id long, type int"
    )
    allowed = spark.createDataFrame([(0, 0), (0, 1)], "src_type int, dst_type int")
    base = str(tmp_path / "typed2")
    meta = ty.convert_to_typed(g, nt, base, type_graph=allowed)
    assert meta["dropped_arcs"] == 1  # the 1→0 typed arc (10, 0)
    assert meta["arcs_per_pair"] == {"0,0": 1, "0,1": 1}


# ---------------------------------------------------------------------------
# visit_all: parallel symmetric path, many components
# ---------------------------------------------------------------------------


def test_visit_all_parallel_many_components(spark):
    # 300 components: 100 triangles (symmetrized) + isolated nodes via n
    edges = []
    for c in range(100):
        b = c * 3
        for s, d in [(b, b + 1), (b + 1, b + 2), (b + 2, b)]:
            edges.append((s, d))
            edges.append((d, s))
    g = _g(spark, edges, n=320)  # 20 isolated nodes → own components
    out = visit_all(g, symmetric=True)
    rows = {r["id"]: (r["round"], r["dist"]) for r in out.collect()}
    assert len(rows) == 320
    # triangle c is round c (heads 0,3,6,… precede isolated 300..319)
    for c in range(100):
        b = c * 3
        assert rows[b] == (c, 0)
        assert rows[b + 1] == (c, 1) and rows[b + 2] == (c, 1)
    for i, nid in enumerate(range(300, 320)):
        assert rows[nid] == (100 + i, 0)


def test_visit_all_sequential_matches_parallel(spark):
    edges = [(0, 1), (1, 0), (2, 3), (3, 2), (3, 4), (4, 3)]
    g = _g(spark, edges, n=6)
    par = {(r["id"], r["round"], r["dist"]) for r in visit_all(g, symmetric=True).collect()}
    seq = {(r["id"], r["round"], r["dist"]) for r in visit_all(g, symmetric=False, checkpoint_every=2).collect()}
    assert par == seq


# ---------------------------------------------------------------------------
# global_cumsum + arc-balanced repartition (no global window)
# ---------------------------------------------------------------------------


def test_global_cumsum(spark):
    df = spark.createDataFrame([(i, i % 5 + 1) for i in range(200)], "id long, v long")
    got = {r["id"]: r["cum"] for r in global_cumsum(df, ["id"], "v").collect()}
    acc = 0
    for i in range(200):
        acc += i % 5 + 1
        assert got[i] == acc


def test_repartition_by_cumulative_degree_no_global_window(spark):
    edges = [(0, d) for d in range(1, 50)] + [(i, 0) for i in range(1, 10)]
    g = _g(spark, edges)
    out = repartition_by_cumulative_degree(g, 4)
    assert out.count() == len(set(edges))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


# ---------------------------------------------------------------------------
# HLL precision knob
# ---------------------------------------------------------------------------


def test_hyperball_log2m_accuracy_ordering(spark):
    import math

    edges = [(i, (i + 1) % 60) for i in range(60)] + [
        (i, (i + 7) % 60) for i in range(60)
    ]
    g = _g(spark, edges, n=60)
    # exact NF(2): every node reaches {self, +1, +7, +2, +8, +14} = 6 nodes
    exact = 60 * 6
    errs = {}
    for log2m in (4, 6, 8):
        nf = {r["t"]: r["nf"] for r in hyperball(g, 2, log2m=log2m).collect()}
        errs[log2m] = abs(nf[2] - exact) / exact
    # highest precision must beat lowest on this fixture
    assert errs[8] < errs[4]
    assert errs[8] < 0.15
    # config sanity: alpha switches with m, width matches
    assert _cfg(4).p == 16 and _cfg(8).p == 256
    assert "172.288" in _cfg(4).est_expr  # m=16 bias constant: 0.673·16²


# ---------------------------------------------------------------------------
# labelled hub decode stays linear (posexplode over zipped arrays)
# ---------------------------------------------------------------------------


def test_labelled_hub_store_load_linear(spark, tmp_path):
    hub_deg = 2000
    edges = [(0, d + 1) for d in range(hub_deg)] + [(5, 2), (7, 3)]
    df = spark.createDataFrame(
        [(s, d, (s * 7 + d) % 100) for s, d in edges], "src long, dst long, w long"
    )
    g = Graph(df, dense=False)
    base = str(tmp_path / "hub")
    g.store(base, buckets=2)
    back = Graph.load(spark, base)
    got = {(r["src"], r["dst"]): r["w"] for r in back.edges.collect()}
    assert len(got) == hub_deg + 2
    for s, d in edges:
        assert got[(s, d)] == (s * 7 + d) % 100
    # the decode plan must not re-project whole label arrays per row:
    # the exploded side carries scalars only
    plan = back.edges._jdf.queryExecution().optimizedPlan().toString()
    assert "arrays_zip" in plan or "posexplode" in plan


def test_labelled_duplicate_arc_min_label(spark, tmp_path):
    df = spark.createDataFrame(
        [(0, 1, 9), (0, 1, 4), (0, 2, 5)], "src long, dst long, w long"
    )
    g = Graph(df, dense=False)
    base = str(tmp_path / "dup")
    g.store(base, buckets=1)
    back = Graph.load(spark, base)
    got = {(r["src"], r["dst"]): r["w"] for r in back.edges.collect()}
    assert got == {(0, 1): 4, (0, 2): 5}  # deterministic min label


# ---------------------------------------------------------------------------
# FW-BW SCC: completes instead of returning partial labellings
# ---------------------------------------------------------------------------


def test_scc_fwbw_raises_on_tiny_bound(spark):
    from webgraph_big_spark.algorithms.scc import (
        strongly_connected_components_fwbw,
    )

    # 6 separate 2-cycles with ids DECREASING along the resolution order
    edges = []
    for c in range(6):
        a, b = 100 - c * 2, 101 - c * 2
        edges += [(a, b), (b, a)]
        if c:
            edges.append((100 - (c - 1) * 2, 100 - c * 2))  # chain them
    g = _g(spark, edges)
    with pytest.raises(RuntimeError):
        strongly_connected_components_fwbw(g, max_outer=1, giant_pivots=0)
    # and with the default bound it completes and is correct
    out = strongly_connected_components_fwbw(g)
    comps = {}
    for r in out.collect():
        comps.setdefault(r["comp"], set()).add(r["id"])
    assert {frozenset(s) for s in comps.values()} == {
        frozenset({100 - c * 2, 101 - c * 2}) for c in range(6)
    }
