"""Capture formatted physical plans for the flagship operators into
PLANS.md — the evidence that filters push to the parquet scan, small
sides broadcast, and the hot path stays inside whole-stage codegen.

Usage: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from webgraph_big_spark.session import get_spark
    from webgraph_big_spark.algorithms.triangles import triangle_edges
    from webgraph_big_spark.datapipe import dedup as dd

    spark = get_spark("plans", cpus=8, shuffle_partitions=8)

    sections: list[tuple[str, str, object]] = []

    # 1. scan pushdown: projection+filter over lineitem
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    pushdown = li.filter(F.col("l_shipdate") < "1996-01-01").select(
        "l_orderkey", "l_extendedprice"
    )
    sections.append(
        (
            "Scan pushdown (filter + projection reach the parquet reader)",
            "Expect PushedFilters: [LessThan(l_shipdate,...)], ReadSchema with 3 columns only.",
            pushdown,
        )
    )

    # 2. one PageRank round: broadcast of the rank side, partial agg
    g1 = entry.load_g1(spark, sf)
    edges_w = g1.edges.join(
        g1.out_degrees().withColumnRenamed("id", "src"), "src"
    )
    ranks = g1.nodes().select("id", F.lit(0.001).alias("rank")).localCheckpoint(eager=True)
    contribs = (
        edges_w.join(F.broadcast(ranks.select(F.col("id").alias("src"), "rank")), "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("inflow"))
    )
    sections.append(
        (
            "PageRank round (contribs)",
            "Expect BroadcastHashJoin on the rank side (edge table never shuffles in the join) "
            "and HashAggregate partial/final pair (map-side combine ahead of the dst shuffle).",
            contribs,
        )
    )

    # 3. triangles: degree-oriented intersection, codegen
    tri = triangle_edges(entry.load_g2(spark, sf))
    sections.append(
        (
            "Triangle counting (oriented CSR intersection)",
            "Expect array_intersect inside WholeStageCodegen (JVM hot path, no Python).",
            tri,
        )
    )

    # 4. minhash signatures: explode + grouped min aggregates
    sig = dd.minhash_signatures(spark.read.parquet(f"{sf}/documents.parquet"))
    sections.append(
        (
            "MinHash signatures",
            "Expect generate/explode + two-phase HashAggregate; all expressions codegen'd.",
            sig,
        )
    )

    # 5. co-partitioned PageRank round (the beyond-broadcast path): edge
    # table pre-hash-partitioned by src, rank side shuffle-hash joined
    edges_b = (
        g1.edges.join(g1.out_degrees().withColumnRenamed("id", "src"), "src")
        .repartition(8, "src")
        .cache()
    )
    edges_b.count()
    contribs_b = (
        edges_b.join(
            ranks.select(F.col("id").alias("src"), "rank").hint("shuffle_hash"), "src"
        )
        .groupBy(F.col("dst").alias("id"))
        .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("inflow"))
    )
    sections.append(
        (
            "PageRank round, co-partitioned path (n beyond broadcast)",
            "Expect ShuffledHashJoin reading the edge side from InMemoryTableScan "
            "with NO Exchange above it (the cache preserves the src hash "
            "partitioning) — only the rank side exchanges per iteration.",
            contribs_b,
        )
    )

    # 6. global_rank: the zipWithIndex pattern — no single-partition sort
    from webgraph_big_spark.functions import global_rank

    ranked = global_rank(
        g1.touched_nodes().select("id"), ["id"], out="rank", partitions=8
    )
    sections.append(
        (
            "global_rank (dense-id assignment)",
            "Expect NO Exchange SinglePartition / global Sort: one range "
            "repartition + per-partition sort + broadcast offset join.",
            ranked,
        )
    )

    # 6b. sort_by_size: component renumbering through global_rank —
    # round 5 removed the unpartitioned Window.orderBy (one-task sort of
    # ~#components rows)
    from webgraph_big_spark.algorithms.components import sort_by_size

    comps_demo = g1.touched_nodes().select(
        "id", (F.col("id") % 7).alias("comp")
    )
    sections.append(
        (
            "sort_by_size (component renumber by decreasing size)",
            "Expect NO Exchange SinglePartition / global Sort: sizes rank "
            "through global_rank (range repartition + within-partition sort), "
            "then a plain equi-join on comp (NOT broadcast — remap is "
            "#components rows).",
            sort_by_size(comps_demo),
        )
    )

    # 7-9. the round-4 consistency fix: WCC / label-prop / BFS rounds on
    # the SAME co-partitioned recipe as PageRank/HyperBall (one shared
    # helper, graph.py:co_partitioned) — state/frontier moves, edges don't
    from webgraph_big_spark.graph import co_partitioned

    edges_cc = co_partitioned(g1.edges.select("src", "dst"), "src", num_partitions=8)
    cc_state = (
        g1.nodes().select("id", F.col("id").alias("comp")).localCheckpoint(eager=True)
    )
    cc_msgs = (
        edges_cc.join(
            cc_state.select(F.col("id").alias("src"), "comp").hint("shuffle_hash"),
            "src",
        )
        .groupBy(F.col("dst").alias("id"))
        .agg(F.min("comp").alias("nbr_min"))
    )
    cc_round = cc_state.join(cc_msgs, "id", "left").select(
        "id", F.least("comp", F.coalesce("nbr_min", "comp")).alias("comp")
    )
    sections.append(
        (
            "WCC hash-min round (co-partitioned edges)",
            "Expect ShuffledHashJoin with the edge side read from "
            "InMemoryTableScan and NO Exchange above it — only the comp "
            "state exchanges per round; HashAggregate partial/final pair "
            "for the min-merge.",
            cc_round,
        )
    )

    from pyspark.sql.window import Window

    lp_state = (
        g1.nodes().select("id", F.col("id").alias("label")).localCheckpoint(eager=True)
    )
    lp_votes = (
        edges_cc.join(
            lp_state.select(F.col("id").alias("src"), "label").hint("shuffle_hash"),
            "src",
        )
        .groupBy(F.col("dst").alias("id"), "label")
        .agg(F.count("*").alias("cnt"))
    )
    lp_w = Window.partitionBy("id").orderBy(F.desc("cnt"), F.asc("label"))
    lp_round = (
        lp_votes.withColumn("_rn", F.row_number().over(lp_w))
        .filter(F.col("_rn") == 1)
        .select("id", F.col("label").alias("new_label"))
    )
    sections.append(
        (
            "Label propagation round (co-partitioned edges)",
            "Expect the edge side from InMemoryTableScan with NO Exchange "
            "above it; the vote count aggregates partial/final; the window "
            "argmax runs over the (node,label,cnt) table, never the edges.",
            lp_round,
        )
    )

    frontier = g1.nodes().limit(50).select("id").localCheckpoint(eager=True)
    bfs_level = (
        edges_cc.join(
            frontier.select(F.col("id").alias("src")).hint("shuffle_hash"), "src"
        )
        .select(F.col("dst").alias("id"))
        .distinct()
        .join(frontier, "id", "left_anti")
    )
    sections.append(
        (
            "BFS level expansion (co-partitioned edges)",
            "Expect the edge side from InMemoryTableScan with NO Exchange "
            "above it — only the frontier exchanges per level.",
            bfs_level,
        )
    )

    out = ["# PLANS — formatted physical plans of flagship operators\n"]
    out.append(
        "Captured by `tools/explain_plans.py` at sf dir `%s`. Each section notes\n"
        "what the plan must show for the operator to be scale-correct.\n" % sf
    )
    for title, expect, df in sections:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"\n## {title}\n\n{expect}\n\n```\n{buf.getvalue().strip()}\n```\n")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as fh:
        fh.write("".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
