"""Round 4: typed-conversion write parallelism, global_cumsum dtypes,
adjacency_labelled guard, co_partitioned helper."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from webgraph_big_spark import typed as ty
from webgraph_big_spark.functions import global_cumsum
from webgraph_big_spark.graph import TARGET_PIN_PARTITION_BYTES, Graph, co_partitioned


def test_typed_conversion_splits_pairs_across_tasks(spark, tmp_path):
    """A 2-type graph dominated by one type pair must write that pair
    through MULTIPLE tasks/files (range partitioning on src_tid inside
    the pair), not funnel the whole table through one partition — the
    reference parallelizes per-pair streams the same way
    (``typed/ConvertToTypedGraph.java:61``)."""
    base = str(tmp_path / "typed_par")
    # 400 arcs, all in pair (0,0); a handful in (0,1)
    pairs = [(i, (i + 1) % 200) for i in range(200)] + [
        (i, 200 + (i % 4)) for i in range(200)
    ]
    g = Graph.from_pairs(spark, pairs, num_nodes=204)
    nt = spark.range(204).select(
        F.col("id"), F.when(F.col("id") < 200, 0).otherwise(1).alias("type")
    )
    meta = ty.convert_to_typed(g, nt, base, write_partitions=4)
    assert meta["arcs_per_pair"]["0,0"] == 200
    pair_dir = os.path.join(base, "arcs", "src_type=0", "dst_type=0")
    files = [f for f in os.listdir(pair_dir) if f.endswith(".parquet")]
    assert len(files) >= 2, f"pair (0,0) written by {len(files)} task(s)"
    # loads stay correct after the layout change
    arcs = spark.read.parquet(os.path.join(base, "arcs"))
    got = arcs.filter((F.col("src_type") == 0) & (F.col("dst_type") == 0)).count()
    assert got == 200


def test_global_cumsum_double_column(spark):
    """A double-valued column must accumulate as doubles — the previous
    int64 cast silently truncated (ADVICE r3)."""
    df = spark.createDataFrame(
        [(i, 0.5) for i in range(10)], "id long, w double"
    )
    out = global_cumsum(df, ["id"], "w", out="cum", partitions=3)
    rows = {r["id"]: r["cum"] for r in out.collect()}
    assert rows == {i: pytest.approx(0.5 * (i + 1)) for i in range(10)}
    assert dict(out.dtypes)["cum"] == "double"


def test_global_cumsum_rejects_strings(spark):
    df = spark.createDataFrame([(1, "x")], "id long, w string")
    with pytest.raises(TypeError, match="global_cumsum"):
        global_cumsum(df, ["id"], "w")


def test_adjacency_labelled_unlabelled_graph(spark):
    """adjacency_labelled() on a graph with no label columns returns the
    plain CSR instead of crashing on an empty aggregate list."""
    g = Graph.from_pairs(spark, [(0, 1), (0, 2), (1, 2), (0, 1)], num_nodes=3)
    rows = {r["src"]: list(r["dsts"]) for r in g.adjacency_labelled().collect()}
    assert rows == {0: [1, 2], 1: [2]}


def test_pagerank_salted_matches_unsalted(spark):
    """salt_buckets changes the physical layout (hub arcs spread over
    salt partitions, rank side replicated) but NOT the numbers."""
    from webgraph_big_spark.algorithms.pagerank import pagerank

    pairs = [(0, i) for i in range(1, 40)] + [(i, (i + 1) % 40) for i in range(40)]
    g = Graph.from_pairs(spark, pairs, num_nodes=40)
    base = {
        r["id"]: r["rank"]
        for r in pagerank(
            g, fixed_iterations=5, broadcast_threshold_bytes=1
        ).collect()
    }
    salted = {
        r["id"]: r["rank"]
        for r in pagerank(
            g, fixed_iterations=5, broadcast_threshold_bytes=1, salt_buckets=4
        ).collect()
    }
    assert set(base) == set(salted)
    for i in base:
        assert salted[i] == pytest.approx(base[i], rel=1e-12)


def test_co_partitioned_preserves_partitioning(spark):
    """The pinned relation must satisfy a same-key join's distribution
    requirement from the cache: the join plan contains no Exchange above
    the InMemoryTableScan edge side."""
    g = Graph.from_pairs(spark, [(i, (i + 1) % 50) for i in range(50)], num_nodes=50)
    # size the pin (two long columns, 32 B a row) as 4 partitions against
    # the session's 2 shuffle partitions: the join must take its
    # distribution from the pin, not from spark.sql.shuffle.partitions
    edges = co_partitioned(
        g.edges.select("src", "dst"), "src", rows=4 * TARGET_PIN_PARTITION_BYTES // 32
    )
    assert edges.rdd.getNumPartitions() == 4
    try:
        state = (
            g.nodes()
            .select(F.col("id").alias("src"), F.lit(1).alias("v"))
            .localCheckpoint(eager=True)
        )
        joined = edges.join(state.hint("shuffle_hash"), "src")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # the edge side is the SHJ's DIRECT child (InMemoryTableScan with
        # no Exchange between it and the join) …
        assert "ShuffledHashJoin" in plan
        join_idx = plan.index("ShuffledHashJoin")
        left_child = plan[join_idx:].split("\n")[1]
        assert "InMemoryTableScan" in left_child, plan
        # … and the only distribution-driven Exchange is the state
        # side's (the REPARTITION_BY_NUM inside the cached build plan is
        # the one-time materialization, not per-join work)
        assert plan.count("ENSURE_REQUIREMENTS") == 1, plan
        assert joined.count() == 50
    finally:
        edges.unpersist()
