"""cnr-2000 end-to-end validation — the reference's own golden web graph.

The reference's slow tests load ``cnr-2000`` (325,557 nodes / 3,216,152
arcs, ``slow/it/unimi/dsi/big/webgraph/cnr-2000.graph-txt.gz`` with the
ground truth in ``cnr-2000.properties:4-5``) and run components /
HyperBall on it (``slow/.../algo/ConnectedComponentsSlowTest.java:31-36``,
``slow/.../algo/HyperBallSlowTest.java``).  This runner ingests the same
fixture with :func:`Graph.from_adjacency_text` and validates:

- exact node/arc counts vs ``cnr-2000.properties``;
- ``graph_stats`` scalars;
- WCC via hash-min AND via large/small-star — the two algorithms must
  produce the SAME partition (the cross-check the reference's
  ``ConnectedComponentsSlowTest`` does between its CC and an
  independently computed union-find);
- SCC (FW-BW scale path) and the SCC⊆WCC containment invariant;
- HyperBall (m = 64 registers, the slow test's configuration) run to
  convergence — the t→∞ neighbourhood-function estimate must approach
  the exact count of reachable pairs' upper bound plausibly (we assert
  the estimate is within HLL error of n² reachable-pair mass ONLY in
  relative-growth terms: monotone, converged).

Usage: python tools/cnr2000.py [--skip-scc] [--skip-wcc] [--skip-hb]
                               [--skip-stats] [--hb-t N | --hb-converge]
                               [--hb-log2m N]
                               [--hb-truth] [--scc-run-dir DIR]
(writes one JSON line; --hb-t bounds the HyperBall rounds, --hb-converge
runs to changed==0 — the slow test's fixpoint; --hb-truth additionally
validates the per-round estimates against the EXACT neighbourhood
function of cnr-2000 that the reference embeds in
``HyperBallSlowTest.java:36-44`` and replays the
``EstimateEffectiveDiameterSlowTest.java:38`` protocol (effective
diameter at alpha=.9 within ±1 of the true value; that test runs
HyperBall at log2m=8, so pass ``--hb-log2m 8`` to reproduce it);
--scc-run-dir makes the FW-BW outer loop durably checkpointed/resumable,
so a host-window kill costs at most one outer round; the directory holds
the loop driver's iter_* checkpoints, the newest 3 kept, and runs.jsonl
with one record per outer round — an older outer_* layout is not read)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CNR_TXT = "/root/reference/slow/it/unimi/dsi/big/webgraph/cnr-2000.graph-txt.gz"
CNR_NODES = 325_557
CNR_ARCS = 3_216_152
#: the reference embeds the EXACT neighbourhood function of cnr-2000
#: (computed by its NeighbourhoodFunction breadth-first sweep) as ground
#: truth for the HyperBall slow tests — HyperBallSlowTest.java:35-44.
CNR_NF_TRUTH_SRC = (
    "/root/reference/slow/it/unimi/dsi/big/webgraph/HyperBallSlowTest.java"
)


def load_true_nf() -> list[float]:
    """Parse the exact cnr-2000 neighbourhood function out of the
    reference's slow-test fixture (ground-truth DATA, like the
    ``.graph-txt.gz`` ingest — 85 doubles, t = 0..84)."""
    import re

    with open(CNR_NF_TRUTH_SRC) as f:
        src = f.read()
    body = re.search(r"cnr2000NF\s*=\s*\{(.*?)\};", src, re.S).group(1)
    nf = [float(x) for x in re.findall(r"[0-9][0-9.Ee+]*", body)]
    assert len(nf) == 85 and nf[0] == float(CNR_NODES), (len(nf), nf[0])
    return nf


def effective_diameter(nf: list[float], alpha: float = 0.9) -> float:
    """Library ``effective_diameter_value`` (re-exported so this tool's
    truth-check callers keep one import site)."""
    from webgraph_big_spark.algorithms.hyperball import effective_diameter_value

    return effective_diameter_value(nf, alpha)


def main() -> None:
    from pyspark.sql import functions as F

    from webgraph_big_spark.session import get_spark
    from webgraph_big_spark.graph import Graph
    from webgraph_big_spark.algorithms.components import (
        connected_components,
        connected_components_star,
        component_sizes,
    )
    from webgraph_big_spark.algorithms.hyperball import hyperball
    from webgraph_big_spark.algorithms.scc import strongly_connected_components_fwbw
    from webgraph_big_spark.algorithms.stats import graph_stats

    skip_scc = "--skip-scc" in sys.argv
    skip_wcc = "--skip-wcc" in sys.argv
    skip_hb = "--skip-hb" in sys.argv
    skip_stats = "--skip-stats" in sys.argv
    hb_converge = "--hb-converge" in sys.argv
    scc_run_dir = None
    if "--scc-run-dir" in sys.argv:
        scc_run_dir = sys.argv[sys.argv.index("--scc-run-dir") + 1]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    spark = get_spark("cnr2000", cpus=cpus, shuffle_partitions=32)
    res: dict = {"graph": "cnr-2000", "cpus": cpus}

    def progress(msg: str) -> None:
        print(f"[cnr2000] {msg}", file=sys.stderr, flush=True)

    t0 = time.time()
    g0 = Graph.from_adjacency_text(spark, CNR_TXT)
    edges = g0.edges.localCheckpoint(eager=True)
    g = Graph(edges, dense=True)
    n, m = g.num_nodes(), g.num_arcs()
    res["ingest_sec"] = round(time.time() - t0, 1)
    progress(f"ingest {res['ingest_sec']}s")
    res["nodes"], res["arcs"] = n, m
    assert n == CNR_NODES, f"nodes {n} != properties {CNR_NODES}"
    assert m == CNR_ARCS, f"arcs {m} != properties {CNR_ARCS}"

    if not skip_stats:
        t0 = time.time()
        st = graph_stats(g)
        res["stats_sec"] = round(time.time() - t0, 1)
        progress(f"stats {res['stats_sec']}s")
        res["max_outdegree"] = st["max_outdegree"]
        res["max_indegree"] = st["max_indegree"]
        res["dangling"] = st["dangling"]
        res["loops"] = st["loops"]

    cc_star = None
    if not skip_wcc:
        # WCC two ways — the partitions must agree exactly
        t0 = time.time()
        cc_star = connected_components_star(g).localCheckpoint(eager=True)
        res["wcc_star_sec"] = round(time.time() - t0, 1)
        progress(f"wcc_star {res['wcc_star_sec']}s")
        t0 = time.time()
        cc_min = connected_components(g).localCheckpoint(eager=True)
        res["wcc_hashmin_sec"] = round(time.time() - t0, 1)
        progress(f"wcc_hashmin {res['wcc_hashmin_sec']}s")
        n_star = cc_star.select("comp").distinct().count()
        n_min = cc_min.select("comp").distinct().count()
        pairs = (
            cc_star.withColumnRenamed("comp", "a")
            .join(cc_min.withColumnRenamed("comp", "b"), "id")
            .select("a", "b")
            .distinct()
            .count()
        )
        assert n_star == n_min == pairs, (n_star, n_min, pairs)
        res["wcc_components"] = n_star
        sizes = component_sizes(cc_star)
        res["wcc_largest"] = int(sizes.agg(F.max("size")).first()[0])

    if not skip_hb:
        # HyperBall — --hb-t bounds the rounds, --hb-converge runs to
        # changed==0 (the slow tests' register fixpoint); --hb-truth
        # validates against the reference's exact NF
        hb_t: int | None = 64
        if hb_converge:
            hb_t = None
        elif "--hb-t" in sys.argv:
            hb_t = int(sys.argv[sys.argv.index("--hb-t") + 1])
        hb_log2m = 6
        if "--hb-log2m" in sys.argv:
            hb_log2m = int(sys.argv[sys.argv.index("--hb-log2m") + 1])
        res["hb_t_max"] = hb_t
        res["hb_log2m"] = hb_log2m
        t0 = time.time()
        nf = hyperball(g, t_max=hb_t, log2m=hb_log2m).collect()
        res["hyperball_sec"] = round(time.time() - t0, 1)
        progress(f"hyperball {res['hyperball_sec']}s")
        ests = [r["nf"] for r in sorted(nf, key=lambda r: r["t"])]
        # registers only grow, so per-node estimates are monotone except
        # for the linear-counting→raw estimator switch (small local dips)
        assert all(b >= a * (1 - 0.02) for a, b in zip(ests, ests[1:])), "NF not monotone"
        res["hyperball_rounds"] = len(ests) - 1
        res["hyperball_converged"] = hb_converge
        res["nf_final"] = round(ests[-1], 1)
        res["nf_t0"] = round(ests[0], 1)

        if "--hb-truth" in sys.argv:
            truth = load_true_nf()
            # Reference protocol (HyperBallSlowTest.java:67,71): per
            # round, error within 2·rsd in ≥9 of 10 seeded attempts.
            # This single-attempt check deliberately LOOSENS that to a
            # 9·rsd bound on one run (no multi-seed loop here) — a
            # smoke bound, not the replayed protocol (round-5 ADVICE
            # corrected an earlier comment that conflated the two).
            # EstimateEffectiveDiameterSlowTest.java:38 wants the
            # alpha=.9 effective diameter within ±1 (it runs log2m=8).
            # Pad our tail with the fixpoint value — registers stopped
            # changing.
            rsd = 1.06 / (1 << hb_log2m) ** 0.5
            padded = ests + [ests[-1]] * (len(truth) - len(ests))
            rel = [
                abs(e / t_ - 1.0) for e, t_ in zip(padded[: len(truth)], truth)
            ]
            res["nf_max_rel_err"] = round(max(rel), 4)
            res["nf_mean_rel_err"] = round(sum(rel) / len(rel), 4)
            res["nf_rsd_bound"] = round(9 * rsd, 4)
            d_true = effective_diameter(truth)
            d_est = effective_diameter(ests)
            res["eff_diameter_true"] = round(d_true, 2)
            res["eff_diameter_est"] = round(d_est, 2)
            assert max(rel) <= 9 * rsd, (max(rel), 9 * rsd)
            assert abs(d_est - d_true) <= 1.0, (d_est, d_true)
            progress(
                f"truth check: max rel err {max(rel):.4f} (bound {9*rsd:.4f}), "
                f"eff diameter {d_est:.2f} vs true {d_true:.2f}"
            )

    if not skip_scc:
        t0 = time.time()
        scc = strongly_connected_components_fwbw(
            g, max_outer=10_000, progress=progress, run_dir=scc_run_dir
        ).localCheckpoint(eager=True)
        res["scc_sec"] = round(time.time() - t0, 1)
        progress(f"scc {res['scc_sec']}s")
        res["scc_components"] = scc.select("comp").distinct().count()
        res["scc_largest"] = int(
            component_sizes(scc).agg(F.max("size")).first()[0]
        )
        assert scc.count() == n
        if cc_star is not None:
            # containment: each SCC lies inside exactly one weak component
            cross = (
                scc.withColumnRenamed("comp", "s")
                .join(cc_star.withColumnRenamed("comp", "w"), "id")
                .select("s", "w")
                .distinct()
                .count()
            )
            assert cross == res["scc_components"], (cross, res["scc_components"])

    print(json.dumps(res))


if __name__ == "__main__":
    main()
