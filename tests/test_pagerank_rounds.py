"""PageRank's round shape: oracle equality on dangling-heavy and
degenerate graphs, the probe round of the ``tol`` path, durable
checkpoints and resume, Spark jobs per round and per checkpoint, and
loop pins that per-round joins reuse without an Exchange."""

import json
import os

import numpy as np
import pytest

from tests.oracle import pagerank_oracle
from webgraph_big_spark import synth
from webgraph_big_spark.algorithms.bfs import bfs_distances
from webgraph_big_spark.algorithms.components import connected_components
from webgraph_big_spark.algorithms.hyperball import hyperball
from webgraph_big_spark.algorithms.labelprop import label_propagation
from webgraph_big_spark.algorithms.pagerank import pagerank
from webgraph_big_spark.algorithms.scc import strongly_connected_components_fwbw
from webgraph_big_spark.checkpoint import IterativeRunner
from webgraph_big_spark.graph import Graph, co_partitioned

PATHS = {"broadcast": {}, "co_partitioned": {"broadcast_threshold_bytes": 1}}

DEGENERATE = {
    # every arc points into node 0, the only dangling node
    "sink": ([(i, 0) for i in range(1, 12)], 12),
    "self_loops": ([(i, i) for i in range(7)], 7),
    "no_arcs": ([], 5),
    # ids 4..9 touch no arc; they and 3 are dangling
    "isolated": ([(0, 1), (1, 2), (2, 0), (2, 3)], 10),
}


def _g(spark, edges, n):
    return Graph.from_pairs(spark, [(int(s), int(d)) for s, d in edges], num_nodes=n)


def _ranks(df, n):
    got = np.full(n, np.nan)
    for r in df.collect():
        got[r["id"]] = r["rank"]
    return got


def _probe_round(edges, n, tol, check_every):
    """First round k (a multiple of ``check_every``) whose L∞ change
    from round k − 1 is below ``tol``, as the program probes."""
    k = check_every
    while True:
        prev = pagerank_oracle(edges, n, fixed_iterations=k - 1)
        cur = pagerank_oracle(edges, n, fixed_iterations=k)
        if np.max(np.abs(cur - prev)) < tol:
            return k, cur
        k += check_every


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _manifests(run_dir):
    out = {}
    for name in os.listdir(run_dir):
        p = os.path.join(run_dir, name, "manifest.json")
        if os.path.exists(p):
            with open(p) as fh:
                out[int(name.split("_")[1])] = json.load(fh)
    return out


@pytest.mark.parametrize("path", sorted(PATHS))
@pytest.mark.parametrize("case", sorted(DEGENERATE))
def test_pagerank_degenerate_graphs(spark, case, path):
    edges, n = DEGENERATE[case]
    arr = np.array(edges, dtype=np.int64).reshape(-1, 2)
    g = _g(spark, edges, n)
    got = _ranks(pagerank(g, fixed_iterations=6, **PATHS[path]), n)
    np.testing.assert_allclose(got, pagerank_oracle(arr, n, fixed_iterations=6), rtol=1e-12, atol=1e-15)
    assert got.sum() == pytest.approx(1.0, abs=1e-12)


@pytest.mark.parametrize("path", sorted(PATHS))
@pytest.mark.parametrize("case", ["sink", "isolated"])
def test_pagerank_tol_stops_at_oracle_probe_round(spark, tmp_path, case, path):
    edges, n = DEGENERATE[case]
    arr = np.array(edges, dtype=np.int64).reshape(-1, 2)
    tol, check_every = 1e-6, 3
    run_dir = str(tmp_path / "pr")
    got = _ranks(
        pagerank(
            _g(spark, edges, n), tol=tol, check_every=check_every, run_dir=run_dir, **PATHS[path]
        ),
        n,
    )
    k, want = _probe_round(arr, n, tol, check_every)
    recs = [json.loads(line) for line in open(os.path.join(run_dir, "runs.jsonl"))]
    assert recs[-1]["iteration"] == k
    assert [r["changed"] for r in recs if r["changed"] is not None] == [1] * (
        k // check_every - 1
    ) + [0]
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-15)


def test_pagerank_tol_on_random_graph(spark, tmp_path):
    edges = synth.erdos_renyi(40, 0.08, seed=21)
    run_dir = str(tmp_path / "pr")
    got = _ranks(pagerank(_g(spark, edges, 40), tol=1e-7, check_every=4, run_dir=run_dir), 40)
    k, want = _probe_round(edges, 40, 1e-7, 4)
    recs = [json.loads(line) for line in open(os.path.join(run_dir, "runs.jsonl"))]
    assert recs[-1]["iteration"] == k
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-15)
    # the converged run_dir resumes straight to its result: no new round
    again = _ranks(pagerank(_g(spark, edges, 40), tol=1e-7, check_every=4, run_dir=run_dir), 40)
    np.testing.assert_allclose(again, got, rtol=1e-12, atol=1e-15)
    assert len(open(os.path.join(run_dir, "runs.jsonl")).readlines()) == len(recs)


@pytest.mark.parametrize("path", sorted(PATHS))
def test_pagerank_converged_run_dir_skips_setup(spark, tmp_path, path):
    """A call on a converged run_dir runs no round and builds no setup
    (degree-joined edges, no-in-arc set): at most its checkpoint load,
    and it returns the first call's ranks."""
    edges = synth.erdos_renyi(40, 0.08, seed=21)
    g = _g(spark, edges, 40)
    g.num_nodes()
    run_dir = str(tmp_path / "pr")
    kw = dict(tol=1e-3, check_every=4, run_dir=run_dir, **PATHS[path])
    first = _ranks(pagerank(g, **kw), 40)
    out = {}
    assert _jobs(spark, f"pr_conv_{path}", lambda: out.setdefault("df", pagerank(g, **kw))) <= 2
    np.testing.assert_allclose(_ranks(out["df"], 40), first, rtol=0, atol=0)


@pytest.mark.parametrize("rule", ["tol", "alpha", "fixed_iterations"])
def test_pagerank_converged_run_dir_other_rule_resumes(spark, tmp_path, rule):
    """A run dir converged at tol=1e-3 is only a starting point for a
    call with another stop rule: it resumes and runs to that rule."""
    edges = synth.erdos_renyi(40, 0.08, seed=21)
    run_dir = str(tmp_path / "pr")
    pagerank(_g(spark, edges, 40), tol=1e-3, check_every=4, run_dir=run_dir)
    k, _ = _probe_round(edges, 40, 1e-3, 4)
    kwargs, want = {
        "tol": ({"tol": 1e-12}, pagerank_oracle(edges, 40, tol=1e-12)),
        "alpha": ({"alpha": 0.5, "tol": 1e-12}, pagerank_oracle(edges, 40, alpha=0.5, tol=1e-12)),
        "fixed_iterations": (
            {"fixed_iterations": k + 3},
            pagerank_oracle(edges, 40, fixed_iterations=k + 3),
        ),
    }[rule]
    got = _ranks(pagerank(_g(spark, edges, 40), check_every=4, run_dir=run_dir, **kwargs), 40)
    np.testing.assert_allclose(got, want, rtol=0, atol=1e-10)
    recs = [json.loads(line) for line in open(os.path.join(run_dir, "runs.jsonl"))]
    assert recs[-1]["iteration"] > k


@pytest.mark.parametrize("rounds,every", [(7, 3), (6, 3), (7, 1)])
def test_pagerank_resume_after_checkpoints(spark, tmp_path, rounds, every):
    """Resume from the last checkpoint whether or not ``every`` divides
    the round count; a dividing count writes its last round once, and
    only the newest three complete checkpoints are kept."""
    edges = synth.erdos_renyi(30, 0.15, seed=4)
    g = _g(spark, edges, 30)
    run_dir = str(tmp_path / "pr")
    pagerank(g, fixed_iterations=rounds, run_dir=run_dir, checkpoint_every=every)
    written = sorted(_manifests(run_dir))
    assert written == sorted(set(range(every, rounds + 1, every)) | {rounds})[-3:]
    assert len([d for d in os.listdir(run_dir) if d.startswith("iter_")]) == len(written)
    assert IterativeRunner(spark, run_dir=run_dir).latest_checkpoint() == rounds
    got = _ranks(pagerank(g, fixed_iterations=rounds + 4, run_dir=run_dir, checkpoint_every=every), 30)
    np.testing.assert_allclose(
        got, pagerank_oracle(edges, 30, fixed_iterations=rounds + 4), rtol=1e-12, atol=1e-15
    )
    for it, man in _manifests(run_dir).items():
        assert man["iteration"] == it
        assert man["rows"] == 30 and sum(man["partition_sizes"]) == 30
        # checkpoints hold true ranks
        state = spark.read.parquet(os.path.join(run_dir, f"iter_{it:06d}", "state"))
        np.testing.assert_allclose(
            _ranks(state, 30), pagerank_oracle(edges, 30, fixed_iterations=it), rtol=1e-12, atol=1e-15
        )


def test_pagerank_resumes_legacy_run_dir(spark, tmp_path):
    """A run_dir written by the earlier runner (true ranks, a manifest
    with rows and partition sizes) resumes to the same answer."""
    edges = synth.erdos_renyi(25, 0.2, seed=8)
    run_dir = tmp_path / "pr"
    state = pagerank_oracle(edges, 25, fixed_iterations=5)
    ckpt = run_dir / "iter_000005"
    spark.createDataFrame(
        [(i, float(r)) for i, r in enumerate(state)], "id long, rank double"
    ).write.parquet(str(ckpt / "state"))
    (ckpt / "manifest.json").write_text(
        json.dumps({"iteration": 5, "rows": 25, "partition_sizes": [25], "ts": 0.0, "final": True})
    )
    got = _ranks(pagerank(_g(spark, edges, 25), fixed_iterations=11, run_dir=str(run_dir)), 25)
    np.testing.assert_allclose(
        got, pagerank_oracle(edges, 25, fixed_iterations=11), rtol=1e-12, atol=1e-15
    )


def test_pagerank_jobs_per_round_and_per_checkpoint(spark, tmp_path):
    """Broadcast path: one round is three Spark jobs (rank broadcast, the
    inflow shuffle, the localCheckpoint); a durable checkpoint is one
    more (the parquet write)."""
    edges = synth.erdos_renyi(30, 0.15, seed=2)
    g = _g(spark, edges, 30)
    g.num_nodes()

    def run(k, **kw):
        return lambda: pagerank(g, fixed_iterations=k, **kw).collect()

    base = _jobs(spark, "pr4", run(4))
    assert _jobs(spark, "pr5", run(5)) == base + 3
    run_dir = str(tmp_path / "pr")
    # 4 rounds, checkpoints at 2 and 4, no second write of round 4
    assert _jobs(spark, "pr4c", run(4, run_dir=run_dir, checkpoint_every=2)) == base + 2
    # a probe round costs no extra job: tol=0 never converges
    assert _jobs(spark, "pr4p", lambda: pagerank(g, tol=0.0, max_iterations=4, check_every=2).collect()) == base


def _exchange_above_pin(plan: str) -> bool:
    """An Exchange whose child scans a ``co_partitioned`` pin (a cached
    plan rooted in a REPARTITION_BY_NUM exchange)."""
    lines = plan.split("\n")

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    for i, line in enumerate(lines[1:], 1):
        if "InMemoryTableScan" not in line or "Exchange" not in lines[i - 1]:
            continue
        subtree = []
        for below in lines[i + 1 :]:
            if depth(below) <= depth(line):
                break
            subtree.append(below)
        if any("REPARTITION_BY_NUM" in x for x in subtree):
            return True
    return False


def test_no_exchange_above_pin_in_round_plans(spark, monkeypatch):
    """Every per-round join reuses the pin's hash partitioning: no plan
    materialized by a loop has an Exchange directly above the cached
    edge scan (a one-partition pin reports SinglePartition, which forces
    that Exchange every round)."""
    edges = synth.erdos_renyi(40, 0.1, seed=6)
    g = _g(spark, edges, 40)
    cls = type(g.edges)
    plans = []
    original = cls.localCheckpoint

    def recording(self, eager=True, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return original(self, eager, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", recording)
    runs = {
        "pagerank": lambda: pagerank(g, fixed_iterations=2, broadcast_threshold_bytes=1),
        "bfs": lambda: bfs_distances(g, [0], fixed_rounds=2),
        "components": lambda: connected_components(g, fixed_iterations=2),
        "labelprop": lambda: label_propagation(g, rounds=2),
        "hyperball": lambda: hyperball(g, 2),
        "scc": lambda: strongly_connected_components_fwbw(g),
    }
    for name, run in runs.items():
        plans.clear()
        run().collect()
        pinned = [p for p in plans if "InMemoryTableScan" in p]
        assert pinned, name
        assert not any(_exchange_above_pin(p) for p in pinned), (name, pinned)


def test_co_partitioned_sizing(spark):
    """A small relation pins as 2 partitions."""
    g = _g(spark, [(i, (i + 1) % 20) for i in range(20)], 20)
    pin = co_partitioned(g.edges.select("src", "dst"), "src", rows=20)
    try:
        assert pin.rdd.getNumPartitions() == 2
    finally:
        pin.unpersist()
