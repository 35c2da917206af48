"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k — query set ⨯ corpus cross
  join with the dot product folded JVM-side (``F.zip_with`` +
  ``F.aggregate`` in float64, sequential fold = deterministic).  The
  correctness baseline; O(|Q|·N).
- ``kmeans_fit`` / ``kmeans_assign``: a real (seeded, deterministic)
  Lloyd quantizer, vector-at-a-time — centroid updates are ONE
  ``posexplode`` + (cell, pos) mean + re-collect, so a 1536-d embedding
  costs 1536× rows in one aggregation, never 1536 aggregate *columns*
  (plan size stays O(1) in the dimension).
- ``ivf_topk``: IVF ANN — k-means-quantize the corpus, probe the
  ``nprobe`` nearest centroids per query, exact-rank only inside probed
  cells.  At 100 TB this turns a full scan into a broadcast join
  against k centroids plus a cell-pruned scan (cells as parquet
  partitions → partition pruning does the skip).

Determinism across engines (the DuckDB oracle replicates every step):
seeds = k smallest md5-prefix hashes; distances and centroid
coordinates rounded to 9 decimals each step; ties broken by cell id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from webgraph_big_spark.functions import stable_long_hash

KM_RND = 9  # rounding for centroid coords / distances (engine-portable)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rnd: int = 6,
) -> DataFrame:
    """(query_id, neighbor_id, cos_sim, rank): exact top-k by cosine.

    Ranking happens on the *rounded* similarity (ties then broken by
    neighbor id) so results are reproducible across engines and
    partitionings — float64 noise is ~1e-16, far below the rounding step.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    sims = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("_qv"), F.col("_cv")), rnd).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("long"))
    )


def _mean_vectors(assigned: DataFrame, vec_col: str, rnd: int = KM_RND) -> DataFrame:
    """(cell, centroid): element-wise mean of ``vec_col`` per cell via
    posexplode — one aggregation regardless of dimension."""
    exploded = assigned.select(
        "cell", F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v")
    )
    per_dim = exploded.groupBy("cell", "pos").agg(F.round(F.avg("v"), rnd).alias("v"))
    return (
        per_dim.groupBy("cell")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "v"))).alias("_pv"))
        .select("cell", F.transform("_pv", lambda x: x.getField("v")).alias("centroid"))
    )


def _sq_dist(a: Column, b: Column) -> Column:
    """‖a−b‖² as dot(a,a) − 2·dot(a,b) + dot(b,b) — the same expression
    shape (and fold order) the SQL oracle uses."""
    return _dot(a, a) - 2 * _dot(a, b) + _dot(b, b)


def kmeans_fit(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cell, centroid): seeded deterministic Lloyd iterations.

    Init: the k corpus vectors with the smallest engine-portable
    md5-prefix hash of their id (ties by id) become cells 0..k−1.  Each
    iteration assigns every point to the nearest centroid (squared L2
    rounded to 9 dp, ties by cell id) and recomputes means (rounded to
    9 dp).  Cells that lose all points drop out (documented).  All
    steps are DataFrame ops — broadcast join against k centroids, one
    posexplode mean — no per-dimension plan blowup, no Python.
    """
    pts = corpus.select(
        F.col(id_col).alias("_pid"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    h = stable_long_hash(F.concat(F.lit("km:"), F.col("_pid").cast("string")))
    seeds = pts.withColumn("_h", h).orderBy("_h", "_pid").limit(k)
    wseed = Window.orderBy("_h", "_pid")
    cents = seeds.select(
        (F.row_number().over(wseed) - 1).cast("long").alias("cell"),
        F.transform("_v", lambda x: F.round(x, KM_RND)).alias("centroid"),
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        assigned = kmeans_assign(pts, cents, id_col="_pid", vec_col="_v")
        joined = assigned.join(pts, "_pid")
        cents = _mean_vectors(joined, "_v").localCheckpoint(eager=True)
    return cents


def kmeans_assign(
    points: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell): nearest centroid per point — broadcast join against
    the (small) codebook, argmin by rounded squared distance."""
    p = points.select(
        F.col(id_col).alias("_pid"), F.col(vec_col).cast("array<double>").alias("_pv")
    )
    scored = p.crossJoin(F.broadcast(cents)).select(
        "_pid",
        "cell",
        F.round(_sq_dist(F.col("_pv"), F.col("centroid")), KM_RND).alias("_d2"),
    )
    # argmin by (_d2 asc, cell asc) as ONE partially-aggregated groupBy
    # (min of the (_d2, cell) struct) — the old per-point window cost an
    # exchange + full sort of the |points|·k scored relation per call
    # (and kmeans_fit calls this every Lloyd iteration); the struct min
    # has identical tie semantics, so assignments are unchanged
    return (
        scored.groupBy("_pid")
        .agg(F.min(F.struct(F.col("_d2"), F.col("cell"))).alias("_w"))
        .select(F.col("_pid"), F.col("_w.cell").alias("cell"))
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rnd: int = 6,
    k_cells: int = 8,
    km_iters: int = 3,
) -> DataFrame:
    """Approximate top-k: k-means-quantize the corpus, probe the
    ``nprobe`` cells whose centroids are closest (cosine) to each query,
    exact-rank inside probed cells only."""
    cents = F.broadcast(
        kmeans_fit(corpus, k=k_cells, iters=km_iters, id_col=id_col, vec_col=vec_col)
    )
    assign = kmeans_assign(corpus, cents, id_col=id_col, vec_col=vec_col)
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    scored_cells = q.crossJoin(cents).select(
        "query_id",
        "_qv",
        "cell",
        F.round(cosine(F.col("_qv"), F.col("centroid")), KM_RND).alias("_cs"),
    )
    wcell = Window.partitionBy("query_id").orderBy(F.desc("_cs"), F.asc("cell"))
    probed = (
        scored_cells.withColumn("_r", F.row_number().over(wcell))
        .filter(F.col("_r") <= nprobe)
        .select("query_id", "_qv", "cell")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
    ).join(
        assign.select(F.col("_pid").alias("neighbor_id"), "cell"), "neighbor_id"
    )
    sims = (
        probed.join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("_qv"), F.col("_cv")), rnd).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("long"))
    )
