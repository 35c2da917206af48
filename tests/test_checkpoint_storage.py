"""Resumability (north rule) + graph storage roundtrip + skew utilities
+ HyperBall accuracy."""

import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.oracle import (
    components_oracle,
    label_propagation_oracle,
    neighbourhood_function_oracle,
    pagerank_oracle,
)
from webgraph_big_spark import synth, typed
from webgraph_big_spark.graph import Graph
from webgraph_big_spark.algorithms.components import connected_components
from webgraph_big_spark.algorithms.labelprop import label_propagation
from webgraph_big_spark.algorithms.pagerank import pagerank
from webgraph_big_spark.algorithms.hyperball import (
    hyperball,
    neighbourhood_function_exact,
)
from webgraph_big_spark.checkpoint import IterativeRunner
from webgraph_big_spark.skew import (
    hub_nodes,
    repartition_by_cumulative_degree,
    salted_sum,
    skew_metrics,
)


def _g(spark, edges, n):
    return Graph.from_pairs(spark, [(int(s), int(d)) for s, d in edges], num_nodes=n)


def test_store_load_roundtrip(spark, tmp_path):
    edges = synth.erdos_renyi(25, 0.2, seed=5)
    g = _g(spark, edges, 25)
    base = str(tmp_path / "graph")
    g.store(base, buckets=4)
    meta = json.load(open(os.path.join(base, "meta.json")))
    assert meta["nodes"] == 25 and meta["arcs"] == len({(int(a), int(b)) for a, b in edges})
    g2 = Graph.load(spark, base)
    assert g2.same_graph(g)
    assert g2.num_nodes() == 25


def _column_chunks(path):
    """(column, compression, encodings) of every column chunk in the
    non-empty parquet files under ``path``."""
    out = []
    for root, _dirs, files in os.walk(path):
        for name in files:
            if not name.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(root, name))
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                out += [
                    (rg.column(j).path_in_schema, rg.column(j).compression, rg.column(j).encodings)
                    for j in range(rg.num_columns)
                ]
    assert out, f"no column chunks under {path}"
    return out


def test_engine_parquet_writes_are_v2_zstd(spark, tmp_path):
    """Every parquet file the engine writes is zstd-compressed: a stored
    graph's ``adj/`` (whose ascending ``src`` is delta-coded, a v2-page
    encoding), a durable checkpoint's ``state/`` and a typed graph's
    ``arcs/`` and ``ids/``."""
    edges = synth.erdos_renyi(200, 0.03, seed=6)
    g = _g(spark, edges, 200)
    base = str(tmp_path / "graph")
    g.store(base)
    adj = _column_chunks(os.path.join(base, "adj"))
    run_dir = str(tmp_path / "pr")
    pagerank(g, fixed_iterations=2, run_dir=run_dir, checkpoint_every=1)
    state = _column_chunks(os.path.join(run_dir, "iter_000002", "state"))
    nt = g.nodes().select("id", (F.col("id") % 3).cast("int").alias("type"))
    typed.convert_to_typed(g, nt, str(tmp_path / "typed"))
    typed_chunks = _column_chunks(str(tmp_path / "typed"))
    for col, codec, _enc in adj + state + typed_chunks:
        assert codec == "ZSTD", (col, codec)
    assert {c for c, _, _ in adj} == {"src", "outdeg", "dst_gaps.list.element"}
    assert all("DELTA_BINARY_PACKED" in enc for c, _, enc in adj if c == "src")


def test_store_written_v1_snappy_still_loads(spark, tmp_path):
    """An ``adj/`` written with Spark's default parquet options (v1 pages,
    snappy) loads through the same decoder."""
    edges = synth.erdos_renyi(40, 0.1, seed=7)
    g = _g(spark, edges, 40)
    base = str(tmp_path / "graph")
    g.store(base)
    legacy = tmp_path / "legacy"
    spark.read.parquet(os.path.join(base, "adj")).write.parquet(str(legacy / "adj"))
    (legacy / "meta.json").write_text(open(os.path.join(base, "meta.json")).read())
    chunks = _column_chunks(str(legacy / "adj"))
    assert {codec for _, codec, _ in chunks} == {"SNAPPY"}
    assert not any("DELTA_BINARY_PACKED" in enc for _, _, enc in chunks)
    back = Graph.load(spark, str(legacy))
    assert back.same_graph(g) and back.num_nodes() == 40


def test_successor_access_paths_agree(spark):
    """Cross-check random access vs CSR vs degree — the
    WebGraphTestCase.assertGraph consistency discipline."""
    edges = synth.erdos_renyi(20, 0.25, seed=9)
    g = _g(spark, edges, 20)
    adj = {r["src"]: list(r["dsts"]) for r in g.adjacency().collect()}
    for x in [0, 3, 7, 19]:
        succ = g.successors(x)
        assert succ == adj.get(x, [])
        assert g.out_degree(x) == len(succ)
        assert succ == sorted(set(succ))


def test_pagerank_resume_matches_uninterrupted(spark, tmp_path):
    edges = synth.erdos_renyi(30, 0.2, seed=13)
    g = _g(spark, edges, 30)
    # uninterrupted run: 12 fixed iterations
    full = {r["id"]: r["rank"] for r in pagerank(g, fixed_iterations=12).collect()}

    # interrupted run: 6 iterations checkpointed, then resume to 12.
    run_dir = str(tmp_path / "pr")
    pagerank(g, fixed_iterations=6, run_dir=run_dir, checkpoint_every=3)
    runner = IterativeRunner(spark, run_dir=run_dir)
    assert runner.latest_checkpoint() == 6
    resumed = {
        r["id"]: r["rank"]
        for r in pagerank(g, fixed_iterations=12, run_dir=run_dir).collect()
    }
    assert all(abs(full[i] - resumed[i]) < 1e-12 for i in full)
    # runs.jsonl has the per-iteration lineage/metrics records
    lines = [json.loads(l) for l in open(os.path.join(run_dir, "runs.jsonl"))]
    assert {rec["iteration"] for rec in lines} >= set(range(1, 13)) - set(range(1, 7))


PATH_12 = np.array([(i, i + 1) for i in range(11)], dtype=np.int64)

# (first call, second call over the same run_dir, column, wanted labels):
# a fixed-round first call ends unconverged, so the second call resumes
# from its last round instead of returning that round's state as final
FIXED_THEN_RESUMED = {
    "hashmin": (
        lambda g, d: connected_components(g, fixed_iterations=2, run_dir=d),
        lambda g, d: connected_components(g, run_dir=d),
        "comp",
        components_oracle(PATH_12, 12),
    ),
    "labelprop": (
        lambda g, d: label_propagation(g, rounds=2, run_dir=d, checkpoint_every=1),
        lambda g, d: label_propagation(g, rounds=5, run_dir=d, checkpoint_every=1),
        "label",
        label_propagation_oracle(PATH_12, 12, rounds=5),
    ),
}


@pytest.mark.parametrize("loop", sorted(FIXED_THEN_RESUMED))
def test_fixed_round_run_dir_resumes(spark, tmp_path, loop):
    first, second, col, want = FIXED_THEN_RESUMED[loop]
    g = _g(spark, PATH_12, 12)
    run_dir = str(tmp_path / loop)
    first(g, run_dir).collect()
    got = {r["id"]: r[col] for r in second(g, run_dir).collect()}
    assert got == {i: int(want[i]) for i in range(12)}


def test_checkpoint_manifest_partition_metrics(spark, tmp_path):
    run_dir = str(tmp_path / "cc")
    edges = synth.erdos_renyi(30, 0.2, seed=1)
    from webgraph_big_spark.algorithms.components import connected_components

    connected_components(_g(spark, edges, 30), run_dir=run_dir, checkpoint_every=2)
    manifests = []
    for d in sorted(os.listdir(run_dir)):
        p = os.path.join(run_dir, d, "manifest.json")
        if os.path.exists(p):
            manifests.append(json.load(open(p)))
    assert manifests, "no checkpoints written"
    for man in manifests:
        assert man["rows"] == 30
        assert sum(man["partition_sizes"]) == 30


def test_skew_hub_detection_and_salted_sum(spark):
    edges = synth.star(200, direction="in")  # every node → hub 0
    g = _g(spark, edges, 200)
    hubs = hub_nodes(g, direction="in")
    ids = [r["id"] for r in hubs.collect()]
    assert ids == [0]
    # salted two-phase sum == plain sum
    df = g.edges.select("dst", F.lit(1.0).alias("v"))
    got = {r["dst"]: r["v"] for r in salted_sum(df, "dst", "v", hubs.select("id")).collect()}
    assert got == {0: 199.0}


def test_cumulative_degree_repartition_balances_arcs(spark):
    # hub 0 has 500 out-arcs, 100 other nodes have ~5 each
    hub = synth.star(501, direction="out")
    rest = synth.erdos_renyi(100, 0.05, seed=2) + 1000
    import numpy as np2

    edges = np.concatenate([hub, rest])
    g = Graph.from_pairs(spark, [(int(a), int(b)) for a, b in edges])
    out = repartition_by_cumulative_degree(g, 8)
    sizes = [r["count"] for r in out.groupBy(F.spark_partition_id()).count().collect()]
    m = sum(sizes)
    assert m == len(edges)
    # no partition holds more than ~2x the fair share
    assert max(sizes) <= 2.2 * m / 8 + 64
    met = skew_metrics(g.edges, "src")
    assert met["max_cnt"] == 500 and met["skew_ratio"] > 10


def test_neighbourhood_function_exact_and_hll(spark):
    edges = synth.erdos_renyi(40, 0.08, seed=21)
    g = _g(spark, edges, 40)
    got = {r["t"]: r["nf"] for r in neighbourhood_function_exact(g, 3).collect()}
    want = neighbourhood_function_oracle(edges, 40, 3)
    assert [got[t] for t in range(4)] == want
    # HLL estimate within 3 sigma (rel std ~13% for 64 registers)
    est = {r["t"]: r["nf"] for r in hyperball(g, 3).collect()}
    for t in range(4):
        assert abs(est[t] - want[t]) / want[t] < 0.4, (t, est[t], want[t])
