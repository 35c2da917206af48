"""Benchmark harness — one JSON line for the round driver.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Without ``$SPARK_GRAFT_CPUS`` it uses ``get_spark``'s default: the cores
this process may run on.

Headline metric (BASELINE.md): PageRank throughput in edges/sec per
iteration on the purchase graph + total convergence wall-time, plus the
rest of the suite timed individually.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from webgraph_big_spark.session import get_spark
    from webgraph_big_spark.algorithms.pagerank import pagerank
    from webgraph_big_spark.algorithms.components import connected_components_star
    from webgraph_big_spark.algorithms.labelprop import label_propagation
    from webgraph_big_spark.algorithms.triangles import triangle_edges
    from webgraph_big_spark.algorithms.bfs import bfs_distances
    from webgraph_big_spark.algorithms.hyperball import hyperball
    from webgraph_big_spark import transforms as tr

    spark = get_spark("wbs-bench", cpus=None)
    cpus = spark.sparkContext.defaultParallelism

    queries: dict[str, float] = {}
    extra: dict[str, float] = {}

    def timed(name: str, fn):
        t0 = time.time()
        out = fn()
        dt = time.time() - t0
        queries[name] = round(dt, 3)
        print(f"# {name}: {dt:.1f}s", file=sys.stderr, flush=True)
        return out

    # -- graph sizes (not timed as queries) --
    g1 = entry.load_g1(spark, sf_dir)
    g1.edges = g1.edges.localCheckpoint(eager=True)
    m1 = g1.num_arcs()
    g2 = entry.load_g2(spark, sf_dir)
    g2.edges = g2.edges.localCheckpoint(eager=True)
    m2 = g2.num_arcs()

    # 1. PageRank fixed 10 iterations → edges/sec/iteration (headline)
    iters = 10
    t0 = time.time()
    pr = pagerank(g1, fixed_iterations=iters)
    pr.count()
    pr_time = time.time() - t0
    queries["pagerank10_g1"] = round(pr_time, 3)
    extra["pagerank_edges_per_sec_per_iter"] = round(m1 * iters / pr_time, 1)

    # 2. PageRank to convergence → total wall-time
    t0 = time.time()
    prc = pagerank(g1, tol=1e-8, check_every=5)
    prc.count()
    queries["pagerank_conv_g1"] = round(time.time() - t0, 3)

    # 3. connected components (large/small-star, the O(log n) scale path)
    timed("wcc_star_g2", lambda: connected_components_star(g2).count())

    # 4. label propagation, 4 synchronous rounds
    timed("labelprop4_g2", lambda: label_propagation(g2, rounds=4).count())

    # 5. triangle counting (degree-oriented intersection)
    timed(
        "triangles_g2",
        lambda: triangle_edges(g2).agg(F.sum("tri")).collect(),
    )

    # 6. composition (2-hop join) + transpose/symmetrize chain
    timed("compose_g2_g2", lambda: tr.compose(g2, g2).edges.count())
    timed("simplify_g1", lambda: tr.simplify(g1).edges.count())

    # 7. full BFS from the min node of G1 (small-diameter, web-like; G2's
    # ~120-hop per-nation chains would need 120 level-synchronous rounds —
    # the known worst case for frontier BFS, reference
    # ParallelBreadthFirstVisit.java:72-77)
    src = g1.touched_nodes().agg(F.min("id")).first()[0]
    timed("bfs_full_g1", lambda: bfs_distances(g1, [int(src)]).count())

    # 8. approximate neighbourhood function (HLL registers, Arrow merge)
    timed("hyperball_t2_g1", lambda: hyperball(g1, 2).count())

    R1_QUERIES = set(queries)  # the round-1-comparable suite ends here

    # 9. HLL centralities to the systolic fixpoint (round 2)
    from webgraph_big_spark.algorithms.hyperball import hyperball_centralities

    timed("hyperball_cent_g1", lambda: hyperball_centralities(g1, t_max=3).count())

    # 10. labelled storage roundtrip: store gap-encoded CSR, linear decode
    import tempfile

    from webgraph_big_spark.graph import Graph

    def _roundtrip():
        base = tempfile.mkdtemp(prefix="wbs_bench_store_")
        g1.store(base)
        return Graph.load(spark, base).edges.count()

    timed("store_load_g1", _roundtrip)

    # 11. FW-BW SCC on the directed purchase graph + reversals (giant-SCC
    # shape; the closure variant is quadratic here)
    from webgraph_big_spark.algorithms.scc import strongly_connected_components_fwbw

    rev = g1.edges.filter((F.col("src") + F.col("dst")) % 3 == 0).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    from webgraph_big_spark.graph import Graph as _G

    g6 = _G(g1.edges.union(rev).distinct().localCheckpoint(eager=True), dense=False)
    timed("scc_fwbw_g6", lambda: strongly_connected_components_fwbw(g6).count())

    total = round(sum(queries.values()), 3)
    extra["r1_comparable_total"] = round(
        sum(v for k, v in queries.items() if k in R1_QUERIES), 3
    )
    result = {
        "metric": "headline suite wall-time (pagerank/cc/lp/triangles/compose/bfs/hyperball)",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "extras": {
            **extra,
            "g1_edges": m1,
            "g2_edges": m2,
            "cpus": cpus,
        },
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
