"""Round 5: FW-BW SCC durable checkpoints + hoisted edge pins,
sort_by_size without a single-task global window, discount-weight
validation."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from webgraph_big_spark.graph import Graph
from webgraph_big_spark.algorithms.components import sort_by_size
from webgraph_big_spark.algorithms.scc import strongly_connected_components_fwbw
from webgraph_big_spark.checkpoint import IterativeRunner


def _g(spark, edges):
    return Graph.from_pairs(spark, edges)


# ---------------------------------------------------------------------------
# FW-BW durable checkpoints
# ---------------------------------------------------------------------------

# chain of cycles with ids DECREASING along it: coloring resolves only
# the max-color root's SCC per outer round, forcing ≥2 coloring rounds
CHAINED_CYCLES = [(10, 11), (11, 10), (0, 1), (1, 0), (11, 0)]
CHAINED_EXPECTED = {10: 10, 11: 10, 0: 0, 1: 0}


def _run_dir_listing(run_dir):
    with open(os.path.join(run_dir, "runs.jsonl")) as fh:
        records = len(fh.readlines())
    return records, sorted(d for d in os.listdir(run_dir) if d.startswith("iter_"))


def test_fwbw_checkpoint_roundtrip(spark, tmp_path):
    """A run with run_dir produces the same labelling as without, and
    leaves a complete (manifest-committed) checkpoint behind.  A second
    call over the converged run_dir returns that labelling without
    running a round."""
    run_dir = str(tmp_path / "scc_run")
    g = _g(spark, CHAINED_CYCLES)

    def labels(progress=None):
        return {
            r["id"]: r["comp"]
            for r in strongly_connected_components_fwbw(
                g, giant_pivots=0, run_dir=run_dir, progress=progress
            ).collect()
        }

    assert labels() == CHAINED_EXPECTED
    assert IterativeRunner(spark, run_dir=run_dir).latest_checkpoint() is not None
    before = _run_dir_listing(run_dir)
    phases = []
    assert labels(phases.append) == CHAINED_EXPECTED
    assert _run_dir_listing(run_dir) == before
    assert not any("peeling" in p for p in phases), phases


def test_fwbw_resumes_from_interrupted_run(spark, tmp_path):
    """Kill the run after outer round 0 (max_outer=1 raises mid-round-1);
    a second call with the same run_dir resumes from the committed
    round-0 checkpoint and completes with the exact labelling."""
    run_dir = str(tmp_path / "scc_resume")
    g = _g(spark, CHAINED_CYCLES)
    with pytest.raises(RuntimeError, match="max_outer"):
        strongly_connected_components_fwbw(
            g, giant_pivots=0, max_outer=1, run_dir=run_dir
        )
    # round 0 committed before the kill (the runner counts rounds from 1)
    assert IterativeRunner(spark, run_dir=run_dir).latest_checkpoint() == 1
    phases = []
    got = {
        r["id"]: r["comp"]
        for r in strongly_connected_components_fwbw(
            g, giant_pivots=0, run_dir=run_dir, progress=phases.append
        ).collect()
    }
    assert got == CHAINED_EXPECTED
    assert any("resuming" in p for p in phases)


def test_fwbw_with_pivot_and_run_dir(spark, tmp_path):
    """Checkpointing also covers the giant-pivot rounds (round 4's code
    only pinned/checkpointed inside coloring)."""
    run_dir = str(tmp_path / "scc_pivot")
    edges = [(i, (i + 1) % 5) for i in range(5)] + [(5, 6), (6, 5), (4, 5)]
    g = _g(spark, edges)
    got = {
        r["id"]: r["comp"]
        for r in strongly_connected_components_fwbw(g, run_dir=run_dir).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5, 6: 5}


# ---------------------------------------------------------------------------
# sort_by_size scalability
# ---------------------------------------------------------------------------


def test_sort_by_size_no_single_partition_exchange(spark):
    """Renumbering ranks (size desc, comp) via global_rank: correct
    dense [0, #comps) labels and NO single-partition Exchange in the
    executed plan (the former Window.orderBy funneled every component
    through one task)."""
    # comps: size 3 (comp 7), size 2 (comps 2, 9), size 1 (comp 5)
    rows = [(1, 7), (2, 7), (3, 7), (4, 2), (5, 2), (6, 9), (8, 9), (0, 5)]
    comps = spark.createDataFrame(rows, "id long, comp long")
    out = sort_by_size(comps)
    got = {r["id"]: r["comp"] for r in out.collect()}
    # expected order: comp7 (size3) -> 0; ties size 2 by min comp: 2 -> 1,
    # 9 -> 2; comp5 (size1) -> 3
    assert got == {1: 0, 2: 0, 3: 0, 4: 1, 5: 1, 6: 2, 8: 2, 0: 3}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


# ---------------------------------------------------------------------------
# LSH hot-bucket hardening
# ---------------------------------------------------------------------------


def _adversarial_docs(spark, n_identical=1000):
    """n identical docs (every band bucket width n → n²/2 candidate
    pairs on the naive path) plus one near-dup pair and one loner."""
    rows = [(i, "the quick brown fox jumps over the lazy dog again and again", "w")
            for i in range(n_identical)]
    rows += [
        (5000, "completely different content about graph compression methods here", "w"),
        (5001, "completely different content about graph compression method here", "w"),
        (6000, "a singleton document sharing no shingles with anything else at all", "w"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_lsh_prefilter_exact_collapses_identical_docs(spark):
    """1k byte-identical docs collapse to ONE representative before
    signatures: candidates stay linear-bounded and the near-dup pair is
    still surfaced."""
    from webgraph_big_spark.datapipe.dedup import lsh_candidate_pairs

    docs = _adversarial_docs(spark)
    got = lsh_candidate_pairs(docs, prefilter_exact=True).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in got}
    # the identical block contributes no pairs (single keeper), the
    # near-dup pair survives banding
    assert (5000, 5001) in pairs
    assert all(not (0 < a < 1000 or 0 < b < 1000) for a, b in pairs)


def test_lsh_bucket_cap_drops_hot_buckets_with_accounting(spark):
    """Without the prefilter, the width cap bounds the quadratic bucket:
    hot buckets are dropped WHOLE and the drop is accounted per band —
    never silent."""
    from webgraph_big_spark.datapipe.dedup import (
        LSH_BAND_ROWS, NUM_HASHES, lsh_candidate_pairs,
    )

    docs = _adversarial_docs(spark)
    stats = {}
    got = lsh_candidate_pairs(docs, max_bucket_width=50, stats=stats).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in got}
    # the 1000-wide buckets are gone; fine buckets (width 2) survive
    assert (5000, 5001) in pairs
    assert len(pairs) < 10
    n_bands = NUM_HASHES // LSH_BAND_ROWS
    assert set(stats) == {f"band{b}" for b in range(n_bands)}
    for rec in stats.values():
        assert rec["dropped_buckets"] == 1
        assert rec["dropped_rows"] == 1000


def test_lsh_default_path_unchanged(spark):
    """Defaults (no prefilter, no cap) keep the exact gate semantics:
    every co-bucketed pair is emitted."""
    from webgraph_big_spark.datapipe.dedup import lsh_candidate_pairs

    docs = _adversarial_docs(spark, n_identical=6)
    pairs = {(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(docs).collect()}
    assert (5000, 5001) in pairs
    assert {(a, b) for a, b in pairs if a < 1000 and b < 1000} == {
        (a, b) for a in range(6) for b in range(6) if a < b
    }


# ---------------------------------------------------------------------------
# discount-weight validation
# ---------------------------------------------------------------------------


def test_centralities_sql_validates_discount_weight_length():
    from webgraph_big_spark.algorithms.hyperball import hyperball_centralities_sql

    with pytest.raises(ValueError, match="discount_weights has 1"):
        hyperball_centralities_sql(
            "SELECT 0 AS src, 1 AS dst", t_max=2, discount_weights=[0.5]
        )
    with pytest.raises(ValueError, match="discount_weights has 3"):
        hyperball_centralities_sql(
            "SELECT 0 AS src, 1 AS dst", t_max=2, discount_weights=[0.5, 0.25, 0.1]
        )


# ---------------------------------------------------------------------------
# distance statistics (NeighbourhoodFunction-class utilities)
# ---------------------------------------------------------------------------


def test_distance_stats_on_path_graph(spark):
    """Directed path 0→1→2→3: NF = [4, 7, 9, 10].  Distance
    distribution over the 10 reachable pairs: d=0 ×4, d=1 ×3, d=2 ×2,
    d=3 ×1 → mean 1.0, variance 1.0, spid 1.0; 0.9·10 = 9 lands
    exactly on NF(2) → effective diameter 2.0."""
    from webgraph_big_spark.algorithms.hyperball import (
        distance_stats,
        neighbourhood_function_exact,
    )
    from webgraph_big_spark.graph import Graph

    g = Graph.from_pairs(spark, [(0, 1), (1, 2), (2, 3)], num_nodes=4)
    nf = neighbourhood_function_exact(g, 3)
    row = distance_stats(nf).first()
    assert row["reachable_pairs"] == 10
    assert row["avg_distance"] == pytest.approx(1.0)
    assert row["spid"] == pytest.approx(1.0)
    assert row["eff_diameter"] == pytest.approx(2.0)
    # 0.5·10 = 5 first reached at NF(1)=7 → integer median distance 1
    assert row["median_distance"] == 1


def test_distance_stats_truncation_semantics(spark):
    """Truncated NF (t_max below the diameter) yields the statistics of
    the restricted distribution — the documented contract that keeps
    the Spark and DuckDB sides agreeing at every scale factor."""
    from webgraph_big_spark.algorithms.hyperball import (
        distance_stats,
        neighbourhood_function_exact,
    )
    from webgraph_big_spark.graph import Graph

    g = Graph.from_pairs(spark, [(0, 1), (1, 2), (2, 3)], num_nodes=4)
    nf = neighbourhood_function_exact(g, 1)  # pairs within distance 1 only
    row = distance_stats(nf).first()
    assert row["reachable_pairs"] == 7
    assert row["avg_distance"] == pytest.approx(3.0 / 7.0)
    # 0.9·7 = 6.3 between NF(0)=4 and NF(1)=7 → 0 + (6.3-4)/(7-4)
    assert row["eff_diameter"] == pytest.approx((6.3 - 4.0) / 3.0, abs=1e-6)


def test_effective_diameter_value_single_node(spark):
    from webgraph_big_spark.algorithms.hyperball import effective_diameter_value

    assert effective_diameter_value([1.0]) == 0.0
    assert effective_diameter_value([2.0, 10.0, 20.0, 20.0]) == pytest.approx(
        1.0 + 8.0 / 10.0
    )
