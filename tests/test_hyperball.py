"""HyperBall (packed registers, ``algorithms/hyperball.py``) against the
unrolled DuckDB oracles: raw registers, the NF estimate and the
centralities; precision beyond the centralities' log2m cap; the
``t_max=None`` fixpoint; and no session-conf mutation."""

from __future__ import annotations

from collections import deque

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

from webgraph_big_spark import synth
from webgraph_big_spark.algorithms.hyperball import (
    hyperball,
    hyperball_centralities,
    hyperball_centralities_sql,
    hyperball_nf_sql,
    hyperball_registers,
    hyperball_registers_sql,
)
from webgraph_big_spark.graph import Graph

SMALL_PAIRS = [(i, (i * 7 + 3) % 60) for i in range(60)] + [
    (i, (i + 1) % 60) for i in range(60)
]


@pytest.fixture(scope="module")
def small_graph(spark):
    g = Graph.from_pairs(spark, SMALL_PAIRS, num_nodes=60)
    g.edges = g.edges.localCheckpoint(eager=True)
    return g


def _g(spark, edges, n):
    return Graph(
        spark.createDataFrame([(int(a), int(b)) for a, b in edges], "src long, dst long"),
        num_nodes=n,
    )


def _edge_sql(edges, n):
    """The arcs as a DuckDB relation, plus a self-loop on every node
    0..n-1: the oracles take their node set from the arcs, and a
    self-loop adds a node without changing any register (a counter
    merged with itself is unchanged)."""
    rows = sorted({(int(s), int(d)) for s, d in edges} | {(x, x) for x in range(n)})
    values = ", ".join(f"({s}::BIGINT, {d}::BIGINT)" for s, d in rows)
    return f"SELECT * FROM (VALUES {values}) AS t(src, dst)"


def _duck(sql):
    con = duckdb.connect()
    try:
        return sorted(con.execute(sql).fetchall())
    finally:
        con.close()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _rounded_centralities(df, discount):
    """The centralities gate's rounding: 3 dp for reachable/harmonic,
    2 dp for the ratio-derived columns."""
    extra = [F.round("discounted", 2)] if discount else []
    return _rows(
        df.select(
            "id",
            F.round("reachable", 3),
            F.round("harmonic", 3),
            F.round("closeness", 2),
            F.round("lin", 2),
            *extra,
        )
    )


def _max_distance(edges, n):
    """Largest finite directed distance (BFS from every node)."""
    adj = {x: [] for x in range(n)}
    for s, d in edges:
        adj[int(s)].append(int(d))
    best = 0
    for x in range(n):
        dist = {x: 0}
        queue = deque([x])
        while queue:
            u = queue.popleft()
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    queue.append(v)
        best = max(best, max(dist.values()))
    return best


@pytest.mark.parametrize("log2m,t", [(4, 3), (6, 3), (8, 2)])
def test_registers_match_sql_oracle(small_graph, log2m, t):
    """The bit-sliced row merge yields the oracle's register vectors
    exactly (same hash, same j/rho, same maxes), at m = 16, 64, 256."""
    got = _rows(hyperball_registers(small_graph, t, log2m=log2m))
    want = _duck(hyperball_registers_sql(_edge_sql(SMALL_PAIRS, 60), t, log2m=log2m))
    assert len(got) == 60
    assert got == want


def test_registers_at_log2m_13(spark):
    """log2m=13 (m=8192): above the centralities' log2m cap (their
    estimate trees are m terms wide), the register merge still runs —
    rows scale with m, plan width does not."""
    g = Graph.from_pairs(spark, [(0, 1), (1, 2), (2, 0)], num_nodes=3)
    with pytest.raises(ValueError):
        hyperball_centralities(g, t_max=1, log2m=13)
    with pytest.raises(ValueError):
        hyperball_registers(g, 1, log2m=21)
    out = hyperball_registers(g, 2, log2m=13).collect()
    assert len(out) == 3
    for r in out:
        vals = r["regs_csv"].split(",")
        assert len(vals) == 8192
        assert any(v != "0" for v in vals)


def test_nf_matches_sql_oracle(small_graph):
    """The NF estimate folds per-slot partials, the oracle a per-node
    balanced tree: equal at the gate's 3 dp."""
    got = _rows(hyperball(small_graph, 3, log2m=6).select("t", F.round("nf", 3)))
    want = _duck(hyperball_nf_sql(_edge_sql(SMALL_PAIRS, 60), 3, log2m=6))
    assert got == want


def test_nf_converges_with_t_max_none(small_graph):
    """``t_max=None`` runs to the register fixpoint (the slow tests'
    convergence criterion): the final NF equals a long bounded run's and
    the last two rounds agree (registers stopped changing)."""
    conv = sorted(
        (r["t"], r["nf"]) for r in hyperball(small_graph, None, log2m=5).collect()
    )
    bounded = sorted(
        (r["t"], r["nf"]) for r in hyperball(small_graph, 30, log2m=5).collect()
    )
    assert conv[-1][1] == pytest.approx(bounded[-1][1], rel=1e-9)
    assert conv[-1][0] <= 30
    assert conv[-1][1] == pytest.approx(conv[-2][1], rel=1e-9)


def test_centralities_match_sql_oracle_with_discount(spark):
    edges = synth.erdos_renyi(60, 0.06, seed=3)
    g = _g(spark, edges, 60)
    got = _rounded_centralities(
        hyperball_centralities(g, t_max=4, discount=lambda t: 0.5**t), True
    )
    want = _duck(
        hyperball_centralities_sql(
            _edge_sql(edges, 60),
            4,
            full=True,
            discount_weights=[0.5**t for t in range(1, 5)],
        )
    )
    assert got == want


def test_centralities_fixpoint_match_bounded_oracle_m16(spark):
    """``t_max=None`` stops at the register fixpoint; rounds past it add
    exactly zero, so the oracle bounded at the diameter agrees."""
    edges = synth.erdos_renyi(40, 0.12, seed=9)
    g = _g(spark, edges, 40)
    got = _rounded_centralities(hyperball_centralities(g, t_max=None, log2m=4), False)
    t = max(1, _max_distance(edges, 40))
    want = _duck(hyperball_centralities_sql(_edge_sql(edges, 40), t, log2m=4, full=True))
    assert got == want


def test_centralities_empty_graph(spark):
    """No arcs: every node keeps its own counter — harmonic and
    closeness 0, lin 1."""
    g = _g(spark, [], 5)
    got = _rounded_centralities(hyperball_centralities(g, t_max=2), False)
    want = _duck(hyperball_centralities_sql(_edge_sql([], 5), 2, full=True))
    assert len(got) == 5
    assert got == want


def test_no_session_conf_mutation(small_graph, monkeypatch):
    """No HyperBall entry point changes session-global conf while it
    runs: a concurrent query on the same session must not see a setting
    flip under it."""

    def refuse(self, key, *args):
        raise AssertionError(f"session conf mutated: {key}")

    monkeypatch.setattr(RuntimeConfig, "set", refuse)
    monkeypatch.setattr(RuntimeConfig, "unset", refuse)
    hyperball(small_graph, 2).collect()
    for log2m in (4, 6, 8):
        hyperball_registers(small_graph, 2, log2m=log2m).collect()
    hyperball_centralities(small_graph, t_max=2).collect()
    hyperball_centralities(small_graph, t_max=2, discount=lambda t: 0.5**t).collect()
