"""Input generator for the benchmark: writes one workload's inputs and the
oracle answers its outputs are checked against.

It runs in its own process before the measured process starts, so the
program under test only ever receives the parquet files written here.
The oracle answers come from independent NumPy/Python code
(``tests/oracle.py`` plus the vectorised helpers below), never from Spark.

    python3 perfbench/gen.py --workload NAME --seed N --out DIR

Writes ``DIR/*.parquet``, ``DIR/expected.npz`` and ``DIR/manifest.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.spec import WORKLOADS  # noqa: E402
from tests import oracle  # noqa: E402


# ---------------------------------------------------------------------------
# vectorised oracles for graphs too large for the pure-Python ones
# ---------------------------------------------------------------------------


def dense_ids(edges: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(sorted node ids, edges renumbered to indices into them)."""
    ids, inv = np.unique(edges, return_inverse=True)
    return ids, inv.reshape(edges.shape)


def wcc_min_label(edges: np.ndarray, n: int) -> np.ndarray:
    """Component label = min node id, by min-label hooking plus pointer
    jumping (labels only ever point at a smaller id of the same component)."""
    lab = np.arange(n, dtype=np.int64)
    src, dst = edges[:, 0], edges[:, 1]
    while True:
        low = np.minimum(lab[src], lab[dst])
        new = lab.copy()
        np.minimum.at(new, src, low)
        np.minimum.at(new, dst, low)
        np.minimum.at(new, lab, new)  # hook the old root onto the new label
        while True:
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, lab):
            return lab
        lab = new


def bfs_levels(edges: np.ndarray, n: int, source: int) -> np.ndarray:
    """BFS distance per node over arcs in both directions (the program's
    default for a graph not declared symmetric), -1 where unreachable."""
    edges = np.concatenate([edges, edges[:, ::-1]])
    order = np.argsort(edges[:, 0], kind="stable")
    dsts = edges[order, 1]
    starts = np.searchsorted(edges[order, 0], np.arange(n + 1))
    dist = np.full(n, -1, dtype=np.int64)
    dist[source] = 0
    frontier = np.array([source], dtype=np.int64)
    level = 0
    while frontier.size:
        level += 1
        lo, hi = starts[frontier], starts[frontier + 1]
        if (hi - lo).sum() == 0:
            break
        nbrs = np.unique(np.concatenate([dsts[a:b] for a, b in zip(lo, hi)]))
        nbrs = nbrs[dist[nbrs] < 0]
        dist[nbrs] = level
        frontier = nbrs
    return dist


def neighbourhood_function(edges: np.ndarray, n: int, t: int) -> np.ndarray:
    """NF(0..t): #pairs (x, y) with d(x→y) ≤ t, by a bounded BFS per node."""
    adj = defaultdict(list)
    for s, d in edges.tolist():
        if s != d:
            adj[s].append(d)
    at_depth = np.zeros(t + 1, dtype=np.int64)
    at_depth[0] = n
    for y in range(n):
        seen = {y}
        frontier = [y]
        for depth in range(1, t + 1):
            nxt = [v for u in frontier for v in adj.get(u, ()) if v not in seen]
            nxt = list(dict.fromkeys(nxt))
            seen.update(nxt)
            at_depth[depth] += len(nxt)
            frontier = nxt
    return np.cumsum(at_depth).astype(np.float64)


def pagerank_converged(edges: np.ndarray, n: int, tol: float, check_every: int) -> np.ndarray:
    """Ranks at the first probed round whose L∞ change is below ``tol`` —
    the program probes every ``check_every`` rounds."""
    k = check_every
    while True:
        prev = oracle.pagerank_oracle(edges, n, fixed_iterations=k - 1)
        cur = oracle.pagerank_oracle(edges, n, fixed_iterations=k)
        if np.max(np.abs(cur - prev)) < tol:
            return cur
        k += check_every


def unique_arcs(edges: np.ndarray) -> np.ndarray:
    """Distinct arcs sorted by (src, dst); ids must fit in 31 bits."""
    key = np.unique((edges[:, 0] << 32) | edges[:, 1])
    return np.stack([key >> 32, key & 0xFFFFFFFF], axis=1)


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------


def write(out: str, name: str, cols: dict[str, np.ndarray]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def tpch_graphs(rng: np.random.Generator, p: dict, out: str) -> dict[str, np.ndarray]:
    """TPC-H-shaped customer/orders/lineitem tables (the columns G1 and G2
    read) and the G1, G2, G6 arc sets derived from them in NumPy."""
    n_cust, n_supp = p["customers"], p["suppliers"]
    custkey = np.arange(1, n_cust + 1, dtype=np.int64)
    nation = rng.integers(0, 25, n_cust).astype(np.int32)
    buyers = custkey[custkey % 3 != 0]  # TPC-H: a third of customers never order
    orderkey = np.arange(1, p["orders"] + 1, dtype=np.int64)
    o_cust = rng.choice(buyers, p["orders"])
    lines = rng.integers(1, 8, p["orders"])
    l_order = np.repeat(orderkey, lines)
    l_supp = rng.integers(1, n_supp + 1, l_order.size).astype(np.int64)
    write(out, "customer", {"c_custkey": custkey, "c_nationkey": nation})
    write(out, "orders", {"o_orderkey": orderkey, "o_custkey": o_cust})
    write(out, "lineitem", {"l_orderkey": l_order, "l_suppkey": l_supp})

    g1 = unique_arcs(np.stack([o_cust[l_order - 1], 100000 + l_supp], axis=1))
    band = []
    for k in range(25):
        members = np.sort(custkey[nation == k])
        for step in range(1, p["band"] + 1):
            band.append(np.stack([members[:-step], members[step:]], axis=1))
    g2 = unique_arcs(np.concatenate(band))
    rev = g1[(g1[:, 0] + g1[:, 1]) % 3 == 0][:, ::-1]
    g6 = unique_arcs(np.concatenate([g1, rev]))
    return {"g1": g1, "g2": g2, "g6": g6}


def imports_graph(rng: np.random.Generator, n: int, exponent: float) -> np.ndarray:
    """Module-import graph over ids [0, n): each module imports
    1 + Poisson(1.5) others, targets drawn from a power-law popularity
    (rank r has weight r^-exponent; ranks are shuffled over ids, so hubs
    are scattered).  Duplicate imports and self-imports are dropped."""
    outdeg = 1 + rng.poisson(1.5, n)
    src = np.repeat(np.arange(n, dtype=np.int64), outdeg)
    weight = np.arange(1, n + 1, dtype=np.float64) ** -exponent
    cdf = np.cumsum(weight)
    ranks = np.searchsorted(cdf, rng.random(src.size) * cdf[-1], side="right")
    dst = rng.permutation(n).astype(np.int64)[np.minimum(ranks, n - 1)]
    edges = unique_arcs(np.stack([src, dst], axis=1))
    return edges[edges[:, 0] != edges[:, 1]]


# ---------------------------------------------------------------------------
# per-workload expected answers
# ---------------------------------------------------------------------------


def expect_suite(p: dict, graphs: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    g1, g2, g6 = graphs["g1"], graphs["g2"], graphs["g6"]
    ids1, d1 = dense_ids(g1)
    ids2, d2 = dense_ids(g2)
    ids6, d6 = dense_ids(g6)
    n1, n2 = len(ids1), len(ids2)
    sym1 = unique_arcs(np.concatenate([g1, g1[:, ::-1]]))
    hop = pd.DataFrame(g2, columns=["src", "mid"]).merge(
        pd.DataFrame(g2, columns=["mid", "dst"]), on="mid"
    )
    return {
        "g2_ids": ids2,
        "g6_ids": ids6,
        "g1_ids": ids1,
        "pr_fixed": oracle.pagerank_oracle(d1, n1, fixed_iterations=p["pr_rounds"]),
        "pr_conv": pagerank_converged(d1, n1, p["pr_tol"], p["pr_check_every"]),
        "wcc": ids2[wcc_min_label(d2, n2)],
        "lp": ids2[oracle.label_propagation_oracle(d2, n2, p["lp_rounds"])],
        "triangles": np.array([oracle.triangles_oracle(d2, n2)]),
        "compose": unique_arcs(hop[["src", "dst"]].to_numpy(np.int64)),
        "simplify": sym1[sym1[:, 0] != sym1[:, 1]],
        "bfs": bfs_levels(d1, n1, 0),
        "nf": neighbourhood_function(d1, n1, p["hb_t"]),
        "scc": ids6[oracle.scc_oracle(d6, len(ids6))],
    }


def expect_imports(p: dict, edges: np.ndarray) -> dict[str, np.ndarray]:
    n = p["nodes"]
    return {
        "pr_fixed": oracle.pagerank_oracle(edges, n, fixed_iterations=p["pr_rounds"]),
        "wcc": wcc_min_label(edges, n),
    }


def expect_durable(p: dict, edges: np.ndarray) -> dict[str, np.ndarray]:
    n, r = p["nodes"], p["pr_rounds"]
    return {
        "edges": edges,
        "pr_fixed": oracle.pagerank_oracle(edges, n, fixed_iterations=r),
        "pr_resumed": oracle.pagerank_oracle(edges, n, fixed_iterations=r + p["resume_rounds"]),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    p = WORKLOADS[a.workload]
    rng = np.random.default_rng([a.seed, sorted(WORKLOADS).index(a.workload)])
    os.makedirs(a.out, exist_ok=True)
    if p["kind"] == "suite":
        graphs = tpch_graphs(rng, p, a.out)
        expected = expect_suite(p, graphs)
        sizes = {k: {"nodes": int(len(np.unique(v))), "arcs": int(len(v))} for k, v in graphs.items()}
    else:
        edges = imports_graph(rng, p["nodes"], p["exponent"])
        write(a.out, "arcs", {"src": edges[:, 0], "dst": edges[:, 1]})
        expected = (expect_imports if p["kind"] == "imports" else expect_durable)(p, edges)
        sizes = {"graph": {"nodes": p["nodes"], "arcs": int(len(edges))}}
    np.savez(os.path.join(a.out, "expected.npz"), **expected)
    with open(os.path.join(a.out, "manifest.json"), "w") as fh:
        json.dump({"workload": a.workload, "seed": a.seed, "sizes": sizes}, fh)


if __name__ == "__main__":
    main()
