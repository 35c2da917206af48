"""WCC: the large/small-star loop against the union-find oracle and
networkx on degenerate graphs, a component whose root partition spills,
its Spark jobs per round, kill-and-resume from a run directory, and the
hash-min loop's jobs per round."""

import json
import os

import networkx as nx
import numpy as np
import pytest

from tests.oracle import components_oracle
from tests.test_pagerank_rounds import _jobs
from webgraph_big_spark.algorithms import components
from webgraph_big_spark.algorithms.components import (
    connected_components,
    connected_components_star,
)
from webgraph_big_spark.graph import Graph

HUB = 5000  # leaves on both sides of the hub id

STAR_CASES = {
    # arcs, n
    "empty": ([], 0),
    "one_node": ([], 1),
    "self_loops": ([(i, i) for i in range(5)], 5),
    "duplicate_arcs": ([(0, 1), (0, 1), (1, 2), (1, 2), (2, 1), (3, 4), (4, 3), (3, 4)], 6),
    "isolated": ([(0, 1), (2, 3), (7, 3)], 10),
    "two_cycle": ([(0, 1), (1, 0)], 2),
    "chain_decreasing": ([(i + 1, i) for i in range(29)], 30),
    # one 10k-row window partition, in large-star (the hub's
    # neighbours) and in small-star (every leaf below the hub attaches
    # to it)
    "hub_fan": ([(HUB, i) for i in range(10_001) if i != HUB], 10_001),
}


def _g(spark, arcs, n):
    return Graph.from_pairs(spark, arcs, num_nodes=n)


def _comp_map(df):
    return {r["id"]: r["comp"] for r in df.collect()}


def _want(arcs, n):
    labels = components_oracle(np.array(arcs, dtype=np.int64).reshape(-1, 2), n)
    ref = nx.Graph(arcs)
    ref.add_nodes_from(range(n))
    by_nx = {i: min(c) for c in nx.connected_components(ref) for i in c}
    want = {i: int(labels[i]) for i in range(n)}
    assert want == by_nx
    return want


@pytest.mark.parametrize("case", sorted(STAR_CASES))
def test_star_degenerate_graphs(spark, case):
    arcs, n = STAR_CASES[case]
    assert _comp_map(connected_components_star(_g(spark, arcs, n))) == _want(arcs, n)


def _in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _spilled_bytes(spark, group):
    """Disk bytes spilled by the job group's stages, from the status store."""
    sc = spark.sparkContext
    store, jvm, tracker = sc._jsc.sc().statusStore(), sc._jvm, sc.statusTracker()
    total = 0
    for job in tracker.getJobIdsForGroup(group):
        for stage in tracker.getJobInfo(job).stageIds:
            attempts = store.stageData(
                stage, False, jvm.java.util.ArrayList(), False, sc._gateway.new_array(jvm.double, 0)
            )
            total += sum(attempts.apply(i).diskBytesSpilled() for i in range(attempts.size()))
    return total


def test_star_root_partition_spills(spark):
    """Once the relation is a star forest, the root's large-star
    partition holds every member of its component.  The window buffers
    that partition in a spillable row array: with 64 rows held in memory
    and a spill forced every 4096, a 20k-node component spills to disk
    and still matches the oracle."""
    n = 20_001
    # a fan around the middle id: from round 2 on, one root partition
    # of all n nodes
    arcs = [(n // 2, i) for i in range(n) if i != n // 2]
    g = _g(spark, arcs, n)
    g.num_arcs()
    limits = {
        "spark.sql.windowExec.buffer.in.memory.threshold": "64",
        "spark.sql.windowExec.buffer.spill.threshold": "4096",
    }
    saved = {k: spark.conf.get(k) for k in limits}
    try:
        for k, v in limits.items():
            spark.conf.set(k, v)
        got = _in_group(spark, "star_spill", lambda: _comp_map(connected_components_star(g)))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert got == dict.fromkeys(range(n), 0)
    assert _spilled_bytes(spark, "star_spill") > 0


def test_star_jobs_per_round(spark, monkeypatch):
    """A round is the two window shuffles and the round's checkpoint —
    3 Spark jobs under AQE, with convergence read off that checkpoint.
    Longer chains need more rounds; k more rounds may cost at most 4k
    more jobs.  The join-based rounds this replaced ran about 10 jobs
    each (3 shuffles, the checkpoint and a signature probe job)."""
    cls = type(spark.range(1))
    original = cls.localCheckpoint
    calls = []

    def counting(self, *args, **kwargs):
        calls.append(1)
        return original(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", counting)

    def run(n):
        """Rounds run (checkpoints less the initial one) and jobs."""
        g = _g(spark, [(i + 1, i) for i in range(n - 1)], n)
        g.num_arcs()
        calls.clear()
        jobs = _jobs(spark, f"star_chain_{n}", lambda: connected_components_star(g).collect())
        return len(calls) - 1, jobs

    short_rounds, short_jobs = run(8)
    long_rounds, long_jobs = run(128)
    k = long_rounds - short_rounds
    assert k >= 3
    assert long_jobs - short_jobs <= 4 * k


def _runs(run_dir):
    with open(os.path.join(run_dir, "runs.jsonl")) as fh:
        return [json.loads(line)["iteration"] for line in fh]


def test_star_resumes_after_kill(spark, tmp_path, monkeypatch):
    """The third checkpoint (round 2) raises; a rerun with the same run
    directory resumes from round 1's durable checkpoint and ends where an
    uninterrupted run does, at the oracle's components."""
    arcs, n = [(i + 1, i) for i in range(39)], 40
    g = _g(spark, arcs, n)
    plain = _comp_map(connected_components_star(g))
    assert plain == _want(arcs, n)

    run_dir = str(tmp_path / "star")
    monkeypatch.setattr(components, "STAR_CHECKPOINT_EVERY", 1)
    cls = type(g.edges)
    original = cls.localCheckpoint
    calls = []

    def failing(self, *args, **kwargs):
        calls.append(1)
        if len(calls) == 3:
            raise RuntimeError("injected failure")
        return original(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", failing)
    with pytest.raises(RuntimeError, match="injected failure"):
        connected_components_star(g, run_dir=run_dir).collect()
    monkeypatch.setattr(cls, "localCheckpoint", original)
    assert _runs(run_dir) == [1]

    resumed = _comp_map(connected_components_star(g, run_dir=run_dir))
    assert resumed == plain
    rounds = _runs(run_dir)
    assert rounds == list(range(1, len(rounds) + 1)) and len(rounds) > 2


def test_hashmin_jobs_per_round(spark):
    """Three more hash-min rounds (a chain three nodes longer) cost 12
    Spark jobs: each round is one checkpoint action run as 4 jobs, and
    the count that ends the loop is observed on it.  Before, a separate
    join-and-count probe made it 27 (9 per round), and a sort-merge
    state join 15 (5 per round)."""

    def run(n):
        g = _g(spark, [(i, i + 1) for i in range(n - 1)], n)
        g.num_arcs()
        return _jobs(spark, f"hashmin_chain_{n}", lambda: connected_components(g).collect())

    assert run(13) - run(10) == 12
