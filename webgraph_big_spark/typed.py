"""Typed graphs — per-type-pair partitioned conversion and storage.

Reference mapping:

- ``typed/TypedGraph.java:37-62`` — a node is a 16-bit type ⊕ 48-bit
  per-type id packed in one long (:func:`webgraph_big_spark.functions.
  pack_node` family).
- ``typed/ConvertToTypedGraph.java:95`` — ``convert``: per-type DENSE
  renumbering (``id[node] = count[type]++`` walking nodes in id order),
  arcs regrouped into per-(source type, target type) streams, per-type
  node counts and the numTypes×numTypes arc-count matrix recorded in
  ``.properties``; arcs whose type pair is not in the *type graph* are
  dropped with an error count (``ConvertToTypedGraph.java:168-177``).
- ``typed/BVImmutableTypedGraph.java:45`` — loading one type's streams;
  here a per-pair load is a parquet read of ``arcs/`` filtered on
  ``src_type`` and ``dst_type``, which Spark prunes to that pair's
  partition.

Spark design: conversion is two broadcast-able joins + one scalable
rank (:func:`webgraph_big_spark.functions.global_rank` — no global
single-task window); storage is ONE parquet table partitioned by
``(src_type, dst_type)``, so loading a pair touches exactly that pair's
files (the role of the reference's per-type ``.offsets`` streams), and
the pair partitions keep (src_tid, dst_tid) sort order for locality.
The type count is small (16-bit), so the count matrix is a driver-side
dict in ``meta.json``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, functions as F

from webgraph_big_spark.functions import global_rank, pack_node
from webgraph_big_spark.graph import PARQUET_WRITE_OPTIONS, Graph


def assign_typed_ids(node_types: DataFrame) -> DataFrame:
    """(id, type) → (id, type, typed_id): dense 0-based per-type ids in
    node-id order — ``ConvertToTypedGraph.java:110-114``'s
    ``count[type]++`` loop, done as one scalable global rank over
    (type, id) minus per-type driver-side offsets (#types is ≤ 2^16 by
    the packing contract, so the offset table is tiny)."""
    spark = node_types.sparkSession
    nt = node_types.select("id", F.col("type").cast("int").alias("type"))
    ranked = global_rank(nt, ["type", "id"], out="_gr")
    counts = sorted(
        (r["type"], r["c"])
        for r in nt.groupBy("type").agg(F.count("*").alias("c")).collect()
    )
    offsets, acc = [], 0
    for t, c in counts:
        offsets.append((int(t), acc))
        acc += int(c)
    off = F.broadcast(
        spark.createDataFrame(offsets or [(0, 0)], "type int, _off long")
    )
    return ranked.join(off, "type").select(
        "id", "type", (F.col("_gr") - F.col("_off")).alias("typed_id")
    )


def convert_to_typed(
    g: Graph,
    node_types: DataFrame,
    basename: str,
    type_graph: DataFrame | None = None,
    write_partitions: int | None = None,
) -> dict:
    """``ConvertToTypedGraph.convert`` analogue.

    ``node_types`` is (id, type); ``type_graph`` (src_type, dst_type),
    when given, lists the ALLOWED type pairs — arcs outside it are
    dropped and counted (the reference logs them as errors and clears
    the leftover successor lists).  Writes

    - ``basename/arcs``: parquet partitioned by (src_type, dst_type)
      with columns (src_tid, dst_tid, src_packed, dst_packed), per-pair
      sorted by (src_tid, dst_tid);
    - ``basename/ids``: the node → (type, typed_id) map (the ``.ids``
      sidecar, ``ConvertToTypedGraph.java:65``);
    - ``basename/meta.json``: per-type node counts + per-pair arc
      counts (the ``.properties`` ``nodes``/``arcs`` matrices) + the
      dropped-arc count.

    Both parquet tables are written with the engine's one encoding
    (:data:`webgraph_big_spark.graph.PARQUET_WRITE_OPTIONS`): v2 data
    pages, where a long column whose dictionary stops paying falls back
    to DELTA_BINARY_PACKED rather than PLAIN, under zstd.

    ``write_partitions`` (default: ``spark.sql.shuffle.partitions``)
    sizes the conversion's write stage.  The write range-partitions on
    (src_type, dst_type, src_tid): each type pair spans MANY contiguous
    src_tid ranges, so a 2-type graph still writes through all tasks —
    hashing on the pair columns alone would funnel the whole table
    through ≤ #distinct-pairs tasks (the reference parallelizes per-pair
    streams the same way, ``typed/ConvertToTypedGraph.java:61``), while
    the ``partitionBy`` clause keeps the per-pair file layout and the
    range keys keep per-file (src_tid, dst_tid) clustering.

    Returns the meta dict.
    """
    typed = assign_typed_ids(node_types).localCheckpoint(eager=True)
    e = g.edges.select("src", "dst")
    src_m = typed.selectExpr("id AS src", "type AS src_type", "typed_id AS src_tid")
    dst_m = typed.selectExpr("id AS dst", "type AS dst_type", "typed_id AS dst_tid")
    arcs = e.join(src_m, "src").join(dst_m, "dst")
    dropped = 0
    if type_graph is not None:
        allowed = F.broadcast(
            type_graph.select(
                F.col("src_type").cast("int"), F.col("dst_type").cast("int")
            ).distinct()
        )
        dropped = arcs.join(allowed, ["src_type", "dst_type"], "left_anti").count()
        arcs = arcs.join(allowed, ["src_type", "dst_type"], "left_semi")
    out = arcs.select(
        "src_type",
        "dst_type",
        "src_tid",
        "dst_tid",
        pack_node(F.col("src_type"), F.col("src_tid")).alias("src_packed"),
        pack_node(F.col("dst_type"), F.col("dst_tid")).alias("dst_packed"),
    )
    spark = g.edges.sparkSession
    if write_partitions is None:
        write_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    (
        out.repartitionByRange(write_partitions, "src_type", "dst_type", "src_tid")
        .sortWithinPartitions("src_type", "dst_type", "src_tid", "dst_tid")
        .write.options(**PARQUET_WRITE_OPTIONS)
        .mode("overwrite")
        .partitionBy("src_type", "dst_type")
        .parquet(os.path.join(basename, "arcs"))
    )
    typed.write.options(**PARQUET_WRITE_OPTIONS).mode("overwrite").parquet(
        os.path.join(basename, "ids")
    )
    node_counts = {
        int(r["type"]): int(r["c"])
        for r in typed.groupBy("type").agg(F.count("*").alias("c")).collect()
    }
    pair_counts = {
        f"{int(r['src_type'])},{int(r['dst_type'])}": int(r["c"])
        for r in out.groupBy("src_type", "dst_type")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    meta = {
        "format": "wbs-typed-v1",
        "nodes_per_type": node_counts,
        "arcs_per_pair": pair_counts,
        "dropped_arcs": int(dropped),
    }
    with open(os.path.join(basename, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    return meta
