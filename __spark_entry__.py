"""Driver contract for the spark-graft builder (PySpark target).

Queries below exercise the webgraph_big_spark engine over graphs derived
from the driver's TPC-H-ish parquet tables:

- **G1** — the customer→supplier purchase graph (bipartite, *hubby*:
  suppliers are ~100× rarer than customers — the skew fixture);
- **G2** — the per-nation "band" graph over customers (each customer
  linked to the next 5 customers of its nation in custkey order): a
  bounded-degree, high-diameter graph with a known triangle structure;
- **G3** — G2 with every 7th edge reversed (nontrivial directed cycles);
- **G5** — the nation-level quotient of G1 with half its arcs reversed.

The training-data pipeline gates run over the ``documents`` and
``embeddings`` tables.

Every iterative algorithm is gated in *fixed-round* form so the DuckDB
oracle (unrolled CTE chain, generated programmatically below) computes
the identical trajectory; converged forms are exercised in pytest
against NumPy oracles.  Float outputs are rounded to 9 decimals on both
sides (well above both engines' ulp noise, well below any semantic
difference).

``queries()`` and ``oracle_sql()`` at the bottom are the one registry:
each gate name maps to a Spark query and to its DuckDB oracle.
"""

from __future__ import annotations

import math
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from webgraph_big_spark import functions as wf
from webgraph_big_spark import transforms as tr
from webgraph_big_spark import typed as ty
from webgraph_big_spark.algorithms.bfs import bfs_distances
from webgraph_big_spark.algorithms.centrality import harmonic_centrality
from webgraph_big_spark.algorithms.components import connected_components
from webgraph_big_spark.algorithms.hyperball import (
    distance_stats,
    hyperball,
    hyperball_centralities,
    hyperball_centralities_sql,
    hyperball_nf_sql,
    hyperball_registers,
    hyperball_registers_sql,
    neighbourhood_function_exact,
)
from webgraph_big_spark.algorithms.labelprop import label_propagation
from webgraph_big_spark.algorithms.pagerank import pagerank
from webgraph_big_spark.algorithms.scc import (
    scc_buckets,
    strongly_connected_components,
    strongly_connected_components_fwbw,
)
from webgraph_big_spark.algorithms.stats import degree_histogram
from webgraph_big_spark.algorithms.triangles import triangle_edges
from webgraph_big_spark.datapipe import dedup as dd
from webgraph_big_spark.datapipe import multimodal as dm
from webgraph_big_spark.datapipe import similarity as ds
from webgraph_big_spark.datapipe import text as dt
from webgraph_big_spark.graph import Graph

ALPHA = 0.85
PR_ITERS = 12
WCC_ITERS = 16
LP_ROUNDS = 4
BFS_ROUNDS = 6
BAND = 5
NF_T = 3
RND = 9  # float rounding decimals (both engines)
SCC_T = 32
HC_T = 16
HB_T = 2
KM_K = 8
KM_ITERS = 3
EMB_DIM = 64
TOPK_K = 5
TOPK_RND = 6
NEAR_DUP_T = 0.05


# ---------------------------------------------------------------------------
# graph derivations (Spark side, each with its DuckDB twin)
# ---------------------------------------------------------------------------

def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_g1(spark: SparkSession, sf_dir: str) -> Graph:
    """Bipartite purchase graph: customer → 100000+supplier, distinct."""
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").cast("long").alias("src"),
            (F.lit(100000) + F.col("l_suppkey")).cast("long").alias("dst"),
        )
        .distinct()
    )
    return Graph(e, dense=False)


G1_SQL = (
    "SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst "
    "FROM orders JOIN lineitem ON l_orderkey = o_orderkey"
)


def load_g2(spark: SparkSession, sf_dir: str) -> Graph:
    """Per-nation band graph (window + range self-join, DataFrame API)."""
    cust = _read(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    rk = cust.select(
        F.col("c_custkey").cast("long").alias("ck"),
        "c_nationkey",
        F.row_number().over(w).alias("rk"),
    )
    a, b = rk.alias("a"), rk.alias("b")
    e = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("b.rk") > F.col("a.rk"))
        & (F.col("b.rk") <= F.col("a.rk") + BAND),
    ).select(F.col("a.ck").alias("src"), F.col("b.ck").alias("dst"))
    return Graph(e, dense=False)


G2_SQL = (
    "WITH _rk AS (SELECT c_custkey AS ck, c_nationkey, "
    "row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS rk FROM customer) "
    "SELECT a.ck AS src, b.ck AS dst FROM _rk a JOIN _rk b "
    f"ON a.c_nationkey = b.c_nationkey AND b.rk > a.rk AND b.rk <= a.rk + {BAND}"
)


def load_g1_weighted(spark: SparkSession, sf_dir: str, half: int) -> Graph:
    """customer→supplier with w = #lineitems, split by order date."""
    orders = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    cond = (
        F.col("o_orderdate") < "1995-06-01"
        if half == 0
        else F.col("o_orderdate") >= "1995-06-01"
    )
    e = (
        orders.filter(cond)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").cast("long").alias("src"),
            (F.lit(100000) + F.col("l_suppkey")).cast("long").alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )
    return Graph(e, dense=False)


def _g1w_sql(half: int) -> str:
    op = "<" if half == 0 else ">="
    return (
        "SELECT o_custkey AS src, 100000 + l_suppkey AS dst, COUNT(*)::BIGINT AS w "
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
        f"WHERE o_orderdate {op} TIMESTAMP '1995-06-01' GROUP BY 1, 2"
    )


def load_g3(spark: SparkSession, sf: str) -> Graph:
    """The band graph plus every 7th edge reversed → nontrivial directed
    cycles."""
    b = load_g2(spark, sf).edges
    rev = b.filter((F.col("src") + F.col("dst")) % 7 == 0).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return Graph(b.union(rev).distinct(), dense=False)


G3_SQL = (
    f"WITH _b AS ({G2_SQL}) "
    "SELECT src, dst FROM _b UNION "
    "SELECT dst AS src, src AS dst FROM _b WHERE (src + dst) % 7 = 0"
)


def _customer_supplier_to(spark: SparkSession, sf: str) -> DataFrame:
    """(id, to): every G1 node mapped to its nation — customers to
    c_nationkey, suppliers to 100000 + s_nationkey."""
    cust = _read(spark, sf, "customer").select(
        F.col("c_custkey").cast("long").alias("id"),
        F.col("c_nationkey").cast("long").alias("to"),
    )
    supp = _read(spark, sf, "supplier").select(
        (F.lit(100000) + F.col("s_suppkey")).cast("long").alias("id"),
        (F.lit(100000) + F.col("s_nationkey")).cast("long").alias("to"),
    )
    return cust.union(supp)


def load_g5(spark: SparkSession, sf: str) -> Graph:
    """Nation-level quotient of G1 with half the arcs reversed — a tiny
    (≤50-node) directed graph with nontrivial SCCs and small diameter,
    the hash-matched fixture for the FW-BW path (whose closure-free
    oracle stays cheap here; big-graph FW-BW behaviour is
    pytest-covered)."""
    q = tr.quotient_graph(load_g1(spark, sf), _customer_supplier_to(spark, sf)).edges
    rev = q.filter((F.col("src") + F.col("dst")) % 2 == 0).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return Graph(q.union(rev).distinct(), dense=False)


G5_SQL = (
    f"WITH _q AS (SELECT DISTINCT c.c_nationkey::BIGINT AS src, "
    "(100000 + s.s_nationkey)::BIGINT AS dst "
    f"FROM ({G1_SQL}) g JOIN customer c ON g.src = c.c_custkey "
    "JOIN supplier s ON g.dst - 100000 = s.s_suppkey) "
    "SELECT src, dst FROM _q UNION "
    "SELECT dst AS src, src AS dst FROM _q WHERE (src + dst) % 2 = 0"
)


def _docs(spark: SparkSession, sf: str) -> DataFrame:
    return _read(spark, sf, "documents")


def _emb(spark: SparkSession, sf: str) -> DataFrame:
    return _read(spark, sf, "embeddings")


# ---------------------------------------------------------------------------
# Spark-side query bodies too long for a lambda
# ---------------------------------------------------------------------------

def _bfs_g2(spark: SparkSession, sf: str, parents: bool = False) -> DataFrame:
    g = load_g2(spark, sf)
    source = g.touched_nodes().agg(F.min("id")).first()[0]
    out = bfs_distances(g, [int(source)], fixed_rounds=BFS_ROUNDS, parents=parents)
    cols = ["id", F.col("dist").cast("int").alias("dist")]
    return out.select(*cols, *(["parent"] if parents else []))


def _compose_minplus(spark: SparkSession, sf: str) -> DataFrame:
    g = load_g2(spark, sf)
    gw = Graph(g.edges.withColumn("w", (F.col("dst") - F.col("src")).cast("long")), dense=False)
    return tr.compose_semiring(gw, gw, label_col="w").edges


def _quotient_nation(spark: SparkSession, sf: str) -> DataFrame:
    g1 = load_g1(spark, sf)
    return tr.quotient_graph(g1, _customer_supplier_to(spark, sf), weight=True).edges.select(
        "src", "dst", F.col("weight").cast("long").alias("weight")
    )


def _subgraph_building(spark: SparkSession, sf: str) -> DataFrame:
    g1 = load_g1(spark, sf)
    cust = _read(spark, sf, "customer")
    sub = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").cast("long").alias("id"))
        .union(
            _read(spark, sf, "supplier").select(
                (F.lit(100000) + F.col("s_suppkey")).cast("long").alias("id")
            )
        )
    )
    return tr.induced_subgraph(g1, sub, renumber=True).edges


def _graph_stats_df(spark: SparkSession, sf: str) -> DataFrame:
    """Single-row stats over G1, kept as one declarative plan."""
    g = load_g1(spark, sf)
    edges = g.edges
    nodes = g.touched_nodes()
    outdeg = nodes.join(
        edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("d")), "id", "left"
    ).select(F.coalesce("d", F.lit(0)).alias("d"))
    indeg = nodes.join(
        edges.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("d")), "id", "left"
    ).select(F.coalesce("d", F.lit(0)).alias("d"))
    a = edges.agg(
        F.count("*").cast("long").alias("arcs"),
        F.sum(F.when(F.col("src") == F.col("dst"), 1).otherwise(0)).cast("long").alias("loops"),
    )
    b = nodes.agg(F.count("*").cast("long").alias("nodes"))
    c = outdeg.agg(
        F.max("d").cast("long").alias("max_outdeg"),
        F.sum(F.when(F.col("d") == 0, 1).otherwise(0)).cast("long").alias("dangling"),
    )
    d = indeg.agg(F.max("d").cast("long").alias("max_indeg"))
    return a.crossJoin(b).crossJoin(c).crossJoin(d).select(
        "nodes", "arcs", "loops", "dangling", "max_outdeg", "max_indeg"
    )


def _typed_pack(spark: SparkSession, sf: str) -> DataFrame:
    cust = _read(spark, sf, "customer").select(
        F.col("c_custkey").cast("long").alias("id"), F.lit(0).cast("long").alias("typ")
    )
    supp = _read(spark, sf, "supplier").select(
        F.col("s_suppkey").cast("long").alias("id"), F.lit(1).cast("long").alias("typ")
    )
    u = cust.union(supp)
    packed = u.select("id", "typ", wf.pack_node(F.col("typ"), F.col("id")).alias("packed"))
    return packed.select(
        "id",
        "typ",
        "packed",
        wf.node_type(F.col("packed")).alias("typ_check"),
        wf.node_id(F.col("packed")).alias("id_check"),
    )


def _store_load_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """Labelled-storage roundtrip: store the weighted purchase graph
    (gap-encoded CSR + aligned label arrays), load it back, return the
    arcs — the ``BVGraph.storeLabelled`` gate (identity oracle)."""
    g = load_g1_weighted(spark, sf, 0)
    base = tempfile.mkdtemp(prefix="wbs_store_gate_")
    try:
        g.store(base, buckets=8)
        loaded = Graph.load(spark, base)
        # materialized before the stored copy is removed
        return loaded.edges.select(
            "src", "dst", F.col("w").cast("long").alias("w")
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _relabel_g2(spark: SparkSession, sf: str, which: str) -> DataFrame:
    g = load_g2(spark, sf)
    keys = {"lex": tr.lex_key, "gray": tr.gray_key, "random": lambda g: tr.random_key(g, seed=0)}
    relabeled, _perm = tr.relabel_by_order(g, keys[which](g))
    return relabeled.edges


def _typed_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Convert G1 to a typed graph (customers type 0, suppliers type 1),
    store partitioned by (src_type, dst_type), and return per-pair arc
    counts + the sum of per-type-dense dst ids from the STORED table —
    gating both the pair partitioning and the ConvertToTypedGraph
    renumbering (``typed/ConvertToTypedGraph.java:95``)."""
    g = load_g1(spark, sf)
    nt = g.nodes().select(
        "id",
        F.when(F.col("id") < 100000, 0).otherwise(1).cast("int").alias("type"),
    )
    base = tempfile.mkdtemp(prefix="wbs_typed_gate_")
    try:
        ty.convert_to_typed(g, nt, base)
        arcs = spark.read.parquet(base + "/arcs")
        # materialized before the stored copy is removed
        return arcs.groupBy(
            F.col("src_type").cast("long").alias("src_type"),
            F.col("dst_type").cast("long").alias("dst_type"),
        ).agg(
            F.count("*").alias("arcs"),
            F.sum(F.col("dst_tid").cast("double")).alias("sum_tdst"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# oracle SQL generators (unrolled iterative CTE chains for DuckDB)
# ---------------------------------------------------------------------------

def _sym_cte(edge_sql: str) -> str:
    return (
        f"_e0 AS MATERIALIZED ({edge_sql}), "
        "e AS MATERIALIZED (SELECT src, dst FROM _e0 UNION SELECT dst AS src, src AS dst FROM _e0), "
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM e)"
    )


def _pagerank_sql(edge_sql: str, iters: int, alpha: float) -> str:
    parts = [
        f"WITH e AS MATERIALIZED ({edge_sql})",
        "nodes AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e))",
        "meta AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM nodes)",
        "deg AS MATERIALIZED (SELECT src, count(*)::DOUBLE AS outdeg FROM e GROUP BY src)",
        "r0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT n FROM meta) AS rank FROM nodes)",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"r{k} AS MATERIALIZED (SELECT n.id, "
            f"(1 - {alpha}) / m.n + {alpha} * (COALESCE(inf.inflow, 0) + (1 - t.tot) / m.n) AS rank "
            "FROM nodes n CROSS JOIN meta m "
            f"LEFT JOIN (SELECT e.dst AS id, sum(r.rank / d.outdeg) AS inflow "
            f"FROM e JOIN r{k-1} r ON e.src = r.id JOIN deg d ON d.src = e.src GROUP BY e.dst) inf "
            "ON inf.id = n.id "
            f"CROSS JOIN (SELECT COALESCE(sum(r.rank / d.outdeg), 0) AS tot "
            f"FROM e JOIN r{k-1} r ON e.src = r.id JOIN deg d ON d.src = e.src) t)"
        )
    return ", ".join(parts) + f" SELECT id, ROUND(rank, {RND}) AS rank FROM r{iters}"


def _wcc_sql(edge_sql: str, iters: int) -> str:
    parts = [
        "WITH " + _sym_cte(edge_sql),
        "c0 AS MATERIALIZED (SELECT id, id AS comp FROM nodes)",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"c{k} AS MATERIALIZED (SELECT c.id, LEAST(c.comp, COALESCE(m.mn, c.comp)) AS comp "
            f"FROM c{k-1} c LEFT JOIN (SELECT e.dst AS id, min(cc.comp) AS mn "
            f"FROM e JOIN c{k-1} cc ON e.src = cc.id GROUP BY e.dst) m ON m.id = c.id)"
        )
    return ", ".join(parts) + f" SELECT id, comp FROM c{iters}"


def _lp_sql(edge_sql: str, rounds: int) -> str:
    parts = [
        "WITH " + _sym_cte(edge_sql),
        "l0 AS MATERIALIZED (SELECT id, id AS label FROM nodes)",
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"l{k} AS MATERIALIZED (SELECT l.id, COALESCE(w.lab, l.label) AS label FROM l{k-1} l "
            "LEFT JOIN (SELECT id, lab FROM ("
            "SELECT e.dst AS id, ll.label AS lab, count(*) AS cnt, "
            "row_number() OVER (PARTITION BY e.dst ORDER BY count(*) DESC, ll.label ASC) AS rn "
            f"FROM e JOIN l{k-1} ll ON e.src = ll.id GROUP BY e.dst, ll.label) x "
            "WHERE rn = 1) w ON w.id = l.id)"
        )
    return ", ".join(parts) + f" SELECT id, label FROM l{rounds}"


def _bfs_sql(edge_sql: str, rounds: int) -> str:
    parts = [
        "WITH " + _sym_cte(edge_sql),
        "d0 AS MATERIALIZED (SELECT (SELECT min(id) FROM nodes) AS id, 0 AS dist)",
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT id, min(dist) AS dist FROM ("
            f"SELECT id, dist FROM d{k-1} UNION ALL "
            f"SELECT e.dst AS id, d.dist + 1 AS dist FROM e JOIN d{k-1} d ON e.src = d.id) u "
            "GROUP BY id)"
        )
    return ", ".join(parts) + f" SELECT id, dist::INT AS dist FROM d{rounds}"


def _bfs_parents_sql(edge_sql: str, rounds: int) -> str:
    parts = [
        "WITH " + _sym_cte(edge_sql),
        "v0 AS MATERIALIZED (SELECT (SELECT min(id) FROM nodes) AS id, 0 AS dist, "
        "(SELECT min(id) FROM nodes) AS parent)",
        "f0 AS MATERIALIZED (SELECT * FROM v0)",
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"f{k} AS MATERIALIZED (SELECT id, {k} AS dist, parent FROM ("
            f"SELECT e.dst AS id, min(f.id) AS parent FROM e JOIN f{k-1} f ON e.src = f.id "
            f"GROUP BY e.dst) x WHERE id NOT IN (SELECT id FROM v{k-1}))"
        )
        parts.append(
            f"v{k} AS MATERIALIZED (SELECT * FROM v{k-1} UNION ALL SELECT * FROM f{k})"
        )
    return ", ".join(parts) + f" SELECT id, dist::INT AS dist, parent FROM v{rounds}"


def _nf_sql(edge_sql: str, t_max: int) -> str:
    parts = [
        f"WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edge_sql}))",
        "nodes AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e))",
        "b0 AS MATERIALIZED (SELECT id AS x, id AS y FROM nodes)",
    ]
    for k in range(1, t_max + 1):
        parts.append(
            f"b{k} AS MATERIALIZED (SELECT DISTINCT x, y FROM ("
            f"SELECT b.x, e.dst AS y FROM b{k-1} b JOIN e ON b.y = e.src "
            f"UNION ALL SELECT x, y FROM b{k-1}) u)"
        )
    selects = " UNION ALL ".join(
        f"SELECT {t}::BIGINT AS t, (SELECT count(*) FROM b{t})::BIGINT AS nf"
        for t in range(t_max + 1)
    )
    return ", ".join(parts) + " " + selects


def _distance_stats_sql(edge_sql: str, t_max: int) -> str:
    """Distance statistics from the exact-NF closure: identical
    arithmetic to algorithms.hyperball.distance_stats (rounded mean
    reused inside spid, 6-dp rounding) so values hash-match."""
    return (
        f"WITH nfv AS MATERIALIZED ({_nf_sql(edge_sql, t_max)}), "
        "d AS (SELECT t, nf::DOUBLE AS nf, "
        "      (nf - coalesce(lag(nf) OVER (ORDER BY t), 0))::DOUBLE AS cnt, "
        "      coalesce(lag(nf) OVER (ORDER BY t), 0)::DOUBLE AS pnf FROM nfv), "
        "tot AS (SELECT max(nf) AS tot, 0.9 * max(nf) AS target FROM d), "
        "mom AS (SELECT max(nf)::BIGINT AS reachable_pairs, "
        "        round(sum(t * cnt) / (SELECT tot FROM tot), 6) AS avg_distance, "
        "        sum(t * t * cnt) / (SELECT tot FROM tot) AS m2 FROM d), "
        "ed AS (SELECT min(CASE "
        "         WHEN t = 0 AND nf >= (SELECT target FROM tot) THEN 0.0 "
        "         WHEN t > 0 AND nf >= (SELECT target FROM tot) "
        "              AND pnf < (SELECT target FROM tot) "
        "         THEN t - 1 + ((SELECT target FROM tot) - pnf) / (nf - pnf) "
        "         END) AS ed, "
        "       min(CASE WHEN nf >= 0.5 * (SELECT tot FROM tot) THEN t END)::BIGINT "
        "         AS median_distance FROM d) "
        "SELECT reachable_pairs, avg_distance, round(ed, 6) AS eff_diameter, "
        "median_distance, "
        "round(CASE WHEN avg_distance > 0 "
        "      THEN (m2 - avg_distance * avg_distance) / avg_distance "
        "      ELSE 0.0 END, 6) AS spid "
        "FROM mom, ed"
    )


def _closure_sql(edge_sql: str, t: int) -> tuple[str, str]:
    rounds = max(1, math.ceil(math.log2(t)))
    parts = [
        f"WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edge_sql}))",
        "nodes AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e))",
        "r0 AS MATERIALIZED (SELECT id AS x, id AS y FROM nodes UNION SELECT src AS x, dst AS y FROM e)",
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"r{k} AS MATERIALIZED (SELECT DISTINCT x, y FROM ("
            f"SELECT a.x, b.y FROM r{k-1} a JOIN r{k-1} b ON a.y = b.x "
            f"UNION ALL SELECT x, y FROM r{k-1}) u)"
        )
    return ", ".join(parts), f"r{rounds}"


def _scc_sql(edge_sql: str, t: int) -> str:
    ctes, last = _closure_sql(edge_sql, t)
    return (
        ctes
        + f", m AS (SELECT r.x, r.y FROM {last} r JOIN {last} s ON r.x = s.y AND r.y = s.x) "
        "SELECT x AS id, min(y) AS comp FROM m GROUP BY x"
    )


def _scc_buckets_sql(edge_sql: str, t: int) -> str:
    return _scc_sql(edge_sql, t).replace(
        "SELECT x AS id, min(y) AS comp FROM m GROUP BY x",
        ", comps AS MATERIALIZED (SELECT x AS id, min(y) AS comp FROM m GROUP BY x), "
        "arcs AS MATERIALIZED (SELECT cs.comp AS c_src, cd.comp AS c_dst FROM e "
        "JOIN comps cs ON e.src = cs.id JOIN comps cd ON e.dst = cd.id) "
        "SELECT DISTINCT c_src AS comp FROM arcs WHERE c_src NOT IN "
        "(SELECT c_src FROM arcs WHERE c_src <> c_dst)",
    )


def _harmonic_sql(edge_sql: str, t: int) -> str:
    parts = [
        f"WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edge_sql}))",
        "nodes AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e))",
        "d0 AS MATERIALIZED (SELECT id AS x, id AS y, 0 AS dist FROM nodes)",
    ]
    for k in range(1, t + 1):
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT x, y, min(dist) AS dist FROM ("
            f"SELECT x, y, dist FROM d{k-1} UNION ALL "
            f"SELECT d.x, e.dst AS y, d.dist + 1 AS dist FROM d{k-1} d "
            f"JOIN e ON d.y = e.src WHERE d.dist = {k-1}) u GROUP BY x, y)"
        )
    return (
        ", ".join(parts)
        + f" SELECT y AS id, round(sum(1.0 / dist), {RND}) AS harmonic "
        f"FROM d{t} WHERE dist > 0 GROUP BY y"
    )


def _perm_sql(edge_sql: str, key_expr: str) -> str:
    """Relabel oracle: build per-node sorted successor arrays, order by
    the given key expression (+ id tiebreak), remap both endpoints."""
    return (
        f"WITH _e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edge_sql})), "
        "nodes AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM _e0 UNION ALL SELECT dst FROM _e0)), "
        "adj AS MATERIALIZED (SELECT n.id, COALESCE(l.k, []::BIGINT[]) AS k FROM nodes n "
        "LEFT JOIN (SELECT src AS id, list(dst ORDER BY dst) AS k FROM _e0 GROUP BY src) l "
        "ON l.id = n.id), "
        f"keyed AS MATERIALIZED (SELECT id, {key_expr} AS key FROM adj), "
        "perm AS MATERIALIZED (SELECT id, row_number() OVER (ORDER BY key, id) - 1 AS t FROM keyed) "
        "SELECT DISTINCT ps.t AS src, pd.t AS dst FROM _e0 e "
        "JOIN perm ps ON e.src = ps.id JOIN perm pd ON e.dst = pd.id"
    )


def _lex_key_sql() -> str:
    # reference lex comparator = every slot descending (Transform.java:2029)
    return f"list_transform(k, x -> {tr.GRAY_MAXV} - x)"


def _gray_key_sql() -> str:
    maxv, inf = tr.GRAY_MAXV, tr.GRAY_INF
    gk = (
        "list_transform(generate_series(1, len(k)), "
        f"i -> CASE WHEN (i - 1) % 2 = 0 THEN {maxv} - k[i] ELSE k[i] END)"
    )
    return f"CASE WHEN len(k) % 2 = 1 THEN list_append({gk}, {inf}) ELSE {gk} END"


def _random_perm_sql(edge_sql: str, seed: int) -> str:
    key = f"('0x' || substr(md5('{seed}:' || id::VARCHAR), 1, 12))::BIGINT"
    return (
        f"WITH _e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edge_sql})), "
        "nodes AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM _e0 UNION ALL SELECT dst FROM _e0)), "
        f"perm AS MATERIALIZED (SELECT id, row_number() OVER (ORDER BY {key}, id) - 1 AS t FROM nodes) "
        "SELECT DISTINCT ps.t AS src, pd.t AS dst FROM _e0 e "
        "JOIN perm ps ON e.src = ps.id JOIN perm pd ON e.dst = pd.id"
    )


_TYPED_PAIRS_SQL = (
    f"WITH e AS MATERIALIZED (SELECT src, dst FROM ({G1_SQL})), "
    "nodes AS MATERIALIZED (SELECT DISTINCT id FROM "
    "(SELECT src AS id FROM e UNION ALL SELECT dst FROM e)), "
    "typed AS MATERIALIZED (SELECT id, "
    "CASE WHEN id < 100000 THEN 0 ELSE 1 END AS type, "
    "row_number() OVER (PARTITION BY (CASE WHEN id < 100000 THEN 0 ELSE 1 END) "
    "ORDER BY id) - 1 AS tid FROM nodes) "
    "SELECT ts.type::BIGINT AS src_type, td.type::BIGINT AS dst_type, "
    "count(*)::BIGINT AS arcs, sum(td.tid::DOUBLE) AS sum_tdst "
    "FROM e JOIN typed ts ON e.src = ts.id JOIN typed td ON e.dst = td.id "
    "GROUP BY ts.type, td.type"
)

# --- training-data pipeline fragments, mirroring the Spark-side constants

_TOKS = "string_split(lower(text), ' ')"
_COS = (
    "round(list_dot_product(qv, cv) / "
    "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), "
    f"{TOPK_RND})"
)
# squared distance point → centroid, as ds.kmeans_fit rounds it
_KM_D2 = (
    "round(list_dot_product(p.v, p.v) - 2 * list_dot_product(p.v, c.centroid) "
    "+ list_dot_product(c.centroid, c.centroid), 9)"
)


def _h(x: str) -> str:
    return f"('0x' || substr(md5({x}), 1, 12))::BIGINT"


def _shingle_ctes() -> str:
    k = dd.SHINGLE_K
    return (
        f"_t AS MATERIALIZED (SELECT doc_id, {_TOKS} AS toks FROM documents), "
        "_g AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(list_transform("
        f"generate_series(1, greatest(len(toks) - {k - 1}, 0)), "
        f"i -> array_to_string(toks[i:i+{k - 1}], ' ')))) AS gram FROM _t), "
        f"sh AS MATERIALIZED (SELECT DISTINCT doc_id, {_h('gram')} AS sh FROM _g)"
    )


def _sig_cte() -> str:
    mins = ", ".join(
        f"min((sh * {dd.MH_A[j]} + {dd.MH_B[j]}) % {dd.MH_P}) AS mh{j}"
        for j in range(dd.NUM_HASHES)
    )
    return (
        _shingle_ctes()
        + f", sig AS MATERIALIZED (SELECT doc_id, {mins} FROM sh GROUP BY doc_id)"
    )


def _lsh_pairs_sql_body() -> str:
    n_bands = dd.NUM_HASHES // dd.LSH_BAND_ROWS
    unions = []
    for b in range(n_bands):
        cols = [f"mh{b * dd.LSH_BAND_ROWS + r}" for r in range(dd.LSH_BAND_ROWS)]
        on = " AND ".join(f"a.{c} = b.{c}" for c in cols)
        unions.append(
            f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sig a JOIN sig b "
            f"ON {on} AND a.doc_id < b.doc_id"
        )
    return " UNION ALL ".join(unions)


def _simhash_sql() -> str:
    sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(dd.SIMHASH_BITS)
    )
    bits = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(dd.SIMHASH_BITS)
    )
    return (
        f"WITH tk AS MATERIALIZED (SELECT doc_id, {_h('tok')} AS h FROM "
        f"(SELECT doc_id, unnest({_TOKS}) AS tok FROM documents)), "
        f"s AS (SELECT doc_id, {sums} FROM tk GROUP BY doc_id) "
        f"SELECT doc_id, ({bits})::BIGINT AS simhash FROM s"
    )


def _lang_id_sql() -> str:
    langs = sorted(dt.STOPWORDS)
    score_cols = ", ".join(
        "len(list_filter({toks}, x -> x IN ({words})))::BIGINT AS s_{lg}".format(
            toks=_TOKS,
            words=", ".join(f"'{w}'" for w in dt.STOPWORDS[lg]),
            lg=lg,
        )
        for lg in langs
    )
    cases = []
    for i, lg in enumerate(langs[:-1]):
        rest = [f"s_{x}" for x in langs[i + 1 :]]
        gt = f"greatest({', '.join(rest)})" if len(rest) > 1 else rest[0]
        cases.append(f"WHEN s_{lg} >= {gt} THEN '{lg}'")
    case_expr = "CASE " + " ".join(cases) + f" ELSE '{langs[-1]}' END"
    return (
        f"WITH s AS (SELECT doc_id, {score_cols} FROM documents) "
        f"SELECT doc_id, {case_expr} AS lang_pred, "
        f"greatest({', '.join('s_' + lg for lg in langs)}) AS best_score FROM s"
    )


def _kmeans_ctes(k: int, iters: int, dim: int) -> tuple[str, str]:
    """Unrolled Lloyd iterations mirroring ds.kmeans_fit exactly;
    returns (cte_block, final_centroid_cte_name)."""
    h = "('0x' || substr(md5('km:' || pid::VARCHAR), 1, 12))::BIGINT"
    parts = [
        "pts AS MATERIALIZED (SELECT vec_id AS pid, embedding::DOUBLE[] AS v FROM embeddings)",
        f"dims AS MATERIALIZED (SELECT unnest(generate_series(1, {dim})) AS pos)",
        f"seeds AS MATERIALIZED (SELECT pid, v, {h} AS hh FROM pts ORDER BY hh, pid LIMIT {k})",
        "c0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY hh, pid) - 1 AS cell, "
        "list_transform(v, x -> round(x, 9)) AS centroid FROM seeds)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"a{i} AS MATERIALIZED (SELECT pid, cell FROM ("
            f"SELECT p.pid, c.cell, row_number() OVER (PARTITION BY p.pid "
            f"ORDER BY {_KM_D2} ASC, c.cell ASC) AS rn FROM pts p CROSS JOIN c{i-1} c) WHERE rn = 1)"
        )
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT cell, list(vv ORDER BY pos) AS centroid FROM ("
            f"SELECT a.cell, dims.pos, round(avg(p.v[dims.pos]), 9) AS vv "
            f"FROM a{i} a JOIN pts p USING (pid) CROSS JOIN dims "
            "GROUP BY a.cell, dims.pos) GROUP BY cell)"
        )
    return ", ".join(parts), f"c{iters}"


def _kmeans_assign_sql(k: int, iters: int, dim: int) -> str:
    ctes, cfin = _kmeans_ctes(k, iters, dim)
    return (
        "WITH " + ctes + " SELECT pid AS vec_id, cell FROM ("
        "SELECT p.pid, c.cell, row_number() OVER (PARTITION BY p.pid "
        f"ORDER BY {_KM_D2} ASC, c.cell ASC) AS rn FROM pts p CROSS JOIN {cfin} c) WHERE rn = 1"
    )


def _ivf_kmeans_sql(k_cells: int, iters: int, dim: int, topk: int, nprobe: int) -> str:
    """IVF top-k over a trained quantizer (the k-means cells of
    ``_kmeans_ctes``), not the table's label column."""
    ctes, cfin = _kmeans_ctes(k_cells, iters, dim)
    _cos_qc = (
        "round(list_dot_product(q.qv, c.centroid) / "
        "(sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.centroid, c.centroid))), 9)"
    )
    return (
        "WITH " + ctes + ", "
        "assign AS MATERIALIZED (SELECT pid, cell FROM ("
        "SELECT p.pid, c.cell, row_number() OVER (PARTITION BY p.pid "
        f"ORDER BY {_KM_D2} ASC, c.cell ASC) AS rn FROM pts p CROSS JOIN {cfin} c) WHERE rn = 1), "
        "q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 8), "
        f"cellscore AS (SELECT q.query_id, q.qv, c.cell, {_cos_qc} AS cs "
        f"FROM q CROSS JOIN {cfin} c), "
        "probed AS (SELECT query_id, qv, cell FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY query_id ORDER BY cs DESC, cell ASC) AS r FROM cellscore) WHERE r <= {nprobe}), "
        "cc AS (SELECT p.pid AS neighbor_id, a.cell, p.v AS cv FROM pts p JOIN assign a USING (pid)), "
        f"sims AS (SELECT query_id, neighbor_id, {_COS} AS cos_sim "
        "FROM probed JOIN cc USING (cell) WHERE query_id <> neighbor_id), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cos_sim DESC, neighbor_id ASC) AS rank FROM sims) "
        f"SELECT query_id, neighbor_id, cos_sim, rank::BIGINT AS rank FROM r WHERE rank <= {topk}"
    )


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: converged PageRank on the sf0.001 purchase graph."""
    g = load_g1(spark, "/root/testdata/sf0.001")
    ranks = pagerank(g, alpha=ALPHA, tol=1e-9, max_iterations=60, check_every=5)
    return ranks.select("id", F.round("rank", RND).alias("rank"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # ---- whole-graph algorithms (fixed-round forms) ----
        "pagerank_g1": lambda spark, sf: pagerank(
            load_g1(spark, sf), alpha=ALPHA, fixed_iterations=PR_ITERS
        ).select("id", F.round("rank", RND).alias("rank")),
        "pagerank_bucketed_g1": lambda spark, sf: pagerank(
            load_g1(spark, sf),
            alpha=ALPHA,
            fixed_iterations=PR_ITERS,
            broadcast_threshold_bytes=1,  # force the co-partitioned path
        ).select("id", F.round("rank", RND).alias("rank")),
        "wcc_g2": lambda spark, sf: connected_components(
            load_g2(spark, sf), fixed_iterations=WCC_ITERS
        ).select("id", "comp"),
        "labelprop_g2": lambda spark, sf: label_propagation(
            load_g2(spark, sf), rounds=LP_ROUNDS
        ).select("id", "label"),
        "bfs_g2": lambda spark, sf: _bfs_g2(spark, sf),
        "bfs_parents_g2": lambda spark, sf: _bfs_g2(spark, sf, parents=True),
        "triangles_g2": lambda spark, sf: (
            triangle_edges(load_g2(spark, sf))
            .agg(F.coalesce(F.sum("tri"), F.lit(0)).cast("long").alias("n_triangles"))
        ),
        "neighbourhood_fn_g1": lambda spark, sf: neighbourhood_function_exact(
            load_g1(spark, sf), NF_T
        ),
        # NeighbourhoodFunction-class statistics (effectiveDiameter /
        # averageDistance / spid — the utilities the reference's slow tests
        # drive); truncated-at-NF_T semantics on both engines
        "distance_stats_g1": lambda spark, sf: distance_stats(
            neighbourhood_function_exact(load_g1(spark, sf), NF_T)
        ),
        "scc_g3": lambda spark, sf: strongly_connected_components(
            load_g3(spark, sf), t=SCC_T
        ),
        "scc_fwbw_g5": lambda spark, sf: strongly_connected_components_fwbw(
            load_g5(spark, sf)
        ),
        "scc_buckets_g3": lambda spark, sf: scc_buckets(
            load_g3(spark, sf),
            strongly_connected_components(load_g3(spark, sf), t=SCC_T),
        ).select(F.col("comp").cast("long")),
        "harmonic_g2": lambda spark, sf: harmonic_centrality(load_g2(spark, sf), t=HC_T),
        # ---- HyperBall ----
        "hyperball_regs_g2": lambda spark, sf: hyperball_registers(load_g2(spark, sf), HB_T),
        # reference-ctor precision knob (HyperBall.java:217 log2m): the m=16
        # variant exercises the parameterized register width end to end
        "hyperball_regs_m16_g2": lambda spark, sf: hyperball_registers(
            load_g2(spark, sf), HB_T, log2m=4
        ),
        # registers are packed 8 six-bit fields per long (bit-sliced
        # max-merge, plan width O(1) in m): the *_packed_* gate names predate
        # the single engine and run the same function; the m=256 gate
        # exercises a precision above the default
        "hyperball_regs_packed_g2": lambda spark, sf: hyperball_registers(
            load_g2(spark, sf), HB_T
        ),
        "hyperball_regs_packed_m256_g2": lambda spark, sf: hyperball_registers(
            load_g2(spark, sf), HB_T, log2m=8
        ),
        # the NF estimator (per-row partial sums + absent-slot correction):
        # rounded to 3 dp so the float fold-order difference vs the oracle's
        # balanced per-node tree is absorbed — registers themselves are
        # gated integer-exact above
        "hyperball_packed_nf_g2": lambda spark, sf: hyperball(
            load_g2(spark, sf), HB_T
        ).select("t", F.round("nf", 3).alias("nf")),
        # HLL centralities: the estimator is a deterministic SQL expression,
        # so the unrolled transpose-side register recursion + per-round est
        # deltas reproduce it exactly (hyperball_centralities_sql).  All five
        # columns are gated; the ratio-derived ones (closeness/lin/
        # discounted) quantize at 2 dp — ratios amplify libm ULP divergence
        # between JVM and DuckDB, so the hash gate uses a coarser digit there.
        "hyperball_centralities_g2": lambda spark, sf: hyperball_centralities(
            load_g2(spark, sf), t_max=4, discount=lambda t: 0.5**t
        ).select("id", F.round("reachable", 3).alias("reachable"),
                 F.round("harmonic", 3).alias("harmonic"),
                 F.round("closeness", 2).alias("closeness"),
                 F.round("lin", 2).alias("lin"),
                 F.round("discounted", 2).alias("discounted")),
        # ---- transforms ----
        "transpose_g1": lambda spark, sf: tr.transpose(load_g1(spark, sf)).edges,
        "symmetrize_g2": lambda spark, sf: tr.symmetrize(load_g2(spark, sf)).edges,
        "simplify_g2": lambda spark, sf: tr.simplify(load_g2(spark, sf)).edges,
        "compose_g2_g2": lambda spark, sf: tr.compose(
            load_g2(spark, sf), load_g2(spark, sf)
        ).edges,
        "compose_minplus_g2": _compose_minplus,
        "filter_arcs_g2": lambda spark, sf: tr.filter_arcs(
            load_g2(spark, sf),
            (F.col("src") % 2 == 0) & (F.col("dst") - F.col("src") <= 7),
        ).edges,
        "quotient_nation_g1": _quotient_nation,
        "subgraph_building_g1": _subgraph_building,
        "union_weighted_g1": lambda spark, sf: tr.union_labelled(
            load_g1_weighted(spark, sf, 0),
            load_g1_weighted(spark, sf, 1),
            merge={"w": F.sum("w").cast("long").alias("w")},
        ).edges,
        "relabel_lex_g2": lambda spark, sf: _relabel_g2(spark, sf, "lex"),
        "relabel_gray_g2": lambda spark, sf: _relabel_g2(spark, sf, "gray"),
        "relabel_random_g2": lambda spark, sf: _relabel_g2(spark, sf, "random"),
        # ---- storage, aggregations, stats, scalar kernels ----
        "store_load_weighted_g1": _store_load_weighted,
        "typed_pairs_g1": _typed_pairs,
        "degree_hist_g1": lambda spark, sf: degree_histogram(
            load_g1(spark, sf), "out", include_zero=True
        ).select(F.col("deg").cast("long").alias("deg"), F.col("n_nodes").cast("long")),
        "graph_stats_g1": _graph_stats_df,
        "typed_pack": _typed_pack,
        # ---- training-data pipeline ----
        "dedup_exact": lambda spark, sf: dd.exact_duplicates(_docs(spark, sf)),
        "minhash_signatures": lambda spark, sf: dd.minhash_signatures(_docs(spark, sf)),
        "lsh_candidates": lambda spark, sf: dd.lsh_candidate_pairs(_docs(spark, sf)),
        "near_dup_pairs": lambda spark, sf: dd.jaccard_pairs(
            _docs(spark, sf),
            candidates=dd.lsh_candidate_pairs(_docs(spark, sf)),
            threshold=NEAR_DUP_T,
        ),
        "simhash_docs": lambda spark, sf: dd.simhash(_docs(spark, sf)),
        "token_stats": lambda spark, sf: dt.token_stats(_docs(spark, sf)),
        "lang_id": lambda spark, sf: dt.lang_id(_docs(spark, sf)),
        "quality_score": lambda spark, sf: dt.quality_score(_docs(spark, sf)),
        "fingerprint_docs": lambda spark, sf: dt.fingerprint(_docs(spark, sf)),
        "embedding_topk": lambda spark, sf: ds.brute_force_topk(
            _emb(spark, sf).filter(F.col("vec_id") < 8), _emb(spark, sf), k=TOPK_K, rnd=TOPK_RND
        ),
        "embedding_ivf_topk": lambda spark, sf: ds.ivf_topk(
            _emb(spark, sf).filter(F.col("vec_id") < 8),
            _emb(spark, sf),
            k=TOPK_K,
            nprobe=2,
            rnd=TOPK_RND,
        ),
        "kmeans_cells": lambda spark, sf: ds.kmeans_assign(
            _emb(spark, sf),
            ds.kmeans_fit(_emb(spark, sf), k=KM_K, iters=KM_ITERS),
        ).select(F.col("_pid").alias("vec_id"), "cell"),
        "media_meta": lambda spark, sf: dm.text_as_media(_docs(spark, sf)).select(
            "media_id",
            F.col("meta.format").alias("format"),
            F.col("meta.n_bytes").alias("n_bytes"),
            F.col("meta.checksum").alias("checksum"),
        ),
    }


def oracle_sql() -> dict[str, str]:
    en_words = ", ".join(f"'{w}'" for w in dt.STOPWORDS["en"])
    return {
        # ---- whole-graph algorithms ----
        "pagerank_g1": _pagerank_sql(G1_SQL, PR_ITERS, ALPHA),
        "pagerank_bucketed_g1": _pagerank_sql(G1_SQL, PR_ITERS, ALPHA),
        "wcc_g2": _wcc_sql(G2_SQL, WCC_ITERS),
        "labelprop_g2": _lp_sql(G2_SQL, LP_ROUNDS),
        "bfs_g2": _bfs_sql(G2_SQL, BFS_ROUNDS),
        "bfs_parents_g2": _bfs_parents_sql(G2_SQL, BFS_ROUNDS),
        "triangles_g2": (
            f"WITH e AS ({G2_SQL}) "
            "SELECT count(*)::BIGINT AS n_triangles FROM e e1 "
            "JOIN e e2 ON e2.src = e1.dst JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst"
        ),
        "neighbourhood_fn_g1": _nf_sql(G1_SQL, NF_T),
        "distance_stats_g1": _distance_stats_sql(G1_SQL, NF_T),
        "scc_g3": _scc_sql(G3_SQL, SCC_T),
        "scc_fwbw_g5": _scc_sql(G5_SQL, 8),
        "scc_buckets_g3": _scc_buckets_sql(G3_SQL, SCC_T),
        "harmonic_g2": _harmonic_sql(G2_SQL, HC_T),
        # ---- HyperBall: the *_packed_* gates run the same engine as the
        # two unpacked names and hash against the SAME register oracle ----
        "hyperball_regs_g2": hyperball_registers_sql(G2_SQL, HB_T),
        "hyperball_regs_m16_g2": hyperball_registers_sql(G2_SQL, HB_T, log2m=4),
        "hyperball_regs_packed_g2": hyperball_registers_sql(G2_SQL, HB_T),
        "hyperball_regs_packed_m256_g2": hyperball_registers_sql(G2_SQL, HB_T, log2m=8),
        "hyperball_packed_nf_g2": hyperball_nf_sql(G2_SQL, HB_T),
        "hyperball_centralities_g2": hyperball_centralities_sql(
            G2_SQL, 4, full=True, discount_weights=[0.5**t for t in range(1, 5)]
        ),
        # ---- transforms ----
        "transpose_g1": f"SELECT dst AS src, src AS dst FROM ({G1_SQL})",
        "symmetrize_g2": (
            f"WITH _e0 AS ({G2_SQL}) "
            "SELECT src, dst FROM _e0 UNION SELECT dst AS src, src AS dst FROM _e0"
        ),
        "simplify_g2": (
            f"WITH _e0 AS ({G2_SQL}), u AS "
            "(SELECT src, dst FROM _e0 UNION SELECT dst AS src, src AS dst FROM _e0) "
            "SELECT src, dst FROM u WHERE src <> dst"
        ),
        "compose_g2_g2": (
            f"WITH e AS ({G2_SQL}) "
            "SELECT DISTINCT a.src, b.dst FROM e a JOIN e b ON a.dst = b.src"
        ),
        "compose_minplus_g2": (
            f"WITH e AS (SELECT src, dst, (dst - src)::BIGINT AS w FROM ({G2_SQL})) "
            "SELECT a.src, b.dst, min(a.w + b.w)::BIGINT AS w FROM e a JOIN e b ON a.dst = b.src "
            "GROUP BY a.src, b.dst"
        ),
        "filter_arcs_g2": (
            f"SELECT src, dst FROM ({G2_SQL}) WHERE src % 2 = 0 AND dst - src <= 7"
        ),
        "quotient_nation_g1": (
            f"WITH g AS ({G1_SQL}) "
            "SELECT c.c_nationkey::BIGINT AS src, (100000 + s.s_nationkey)::BIGINT AS dst, "
            "count(*)::BIGINT AS weight "
            "FROM g JOIN customer c ON g.src = c.c_custkey "
            "JOIN supplier s ON g.dst - 100000 = s.s_suppkey GROUP BY 1, 2"
        ),
        "subgraph_building_g1": (
            f"WITH g AS ({G1_SQL}), "
            "sub AS (SELECT c_custkey AS id FROM customer WHERE c_mktsegment = 'BUILDING' "
            "UNION SELECT 100000 + s_suppkey FROM supplier), "
            "remap AS (SELECT id, row_number() OVER (ORDER BY id) - 1 AS t FROM sub) "
            "SELECT DISTINCT rs.t AS src, rd.t AS dst "
            "FROM g JOIN remap rs ON g.src = rs.id JOIN remap rd ON g.dst = rd.id"
        ),
        "union_weighted_g1": (
            f"WITH a AS ({_g1w_sql(0)}), b AS ({_g1w_sql(1)}), "
            "u AS (SELECT * FROM a UNION ALL SELECT * FROM b) "
            "SELECT src, dst, sum(w)::BIGINT AS w FROM u GROUP BY src, dst"
        ),
        "relabel_lex_g2": _perm_sql(G2_SQL, _lex_key_sql()),
        "relabel_gray_g2": _perm_sql(G2_SQL, _gray_key_sql()),
        "relabel_random_g2": _random_perm_sql(G2_SQL, 0),
        # ---- storage, aggregations, stats, scalar kernels ----
        "store_load_weighted_g1": _g1w_sql(0),
        "typed_pairs_g1": _TYPED_PAIRS_SQL,
        "degree_hist_g1": (
            f"WITH g AS ({G1_SQL}), "
            "nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM g UNION ALL SELECT dst FROM g)), "
            "deg AS (SELECT n.id, COALESCE(d.c, 0) AS deg FROM nodes n "
            "LEFT JOIN (SELECT src, count(*) AS c FROM g GROUP BY src) d ON d.src = n.id) "
            "SELECT deg::BIGINT AS deg, count(*)::BIGINT AS n_nodes FROM deg GROUP BY 1"
        ),
        "graph_stats_g1": (
            f"WITH g AS ({G1_SQL}), "
            "nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM g UNION ALL SELECT dst FROM g)), "
            "od AS (SELECT n.id, COALESCE(d.c, 0) AS d FROM nodes n "
            "LEFT JOIN (SELECT src, count(*) AS c FROM g GROUP BY src) d ON d.src = n.id), "
            "idg AS (SELECT n.id, COALESCE(d.c, 0) AS d FROM nodes n "
            "LEFT JOIN (SELECT dst, count(*) AS c FROM g GROUP BY dst) d ON d.dst = n.id) "
            "SELECT (SELECT count(*) FROM nodes)::BIGINT AS nodes, "
            "(SELECT count(*) FROM g)::BIGINT AS arcs, "
            "(SELECT count(*) FROM g WHERE src = dst)::BIGINT AS loops, "
            "(SELECT count(*) FROM od WHERE d = 0)::BIGINT AS dangling, "
            "(SELECT max(d) FROM od)::BIGINT AS max_outdeg, "
            "(SELECT max(d) FROM idg)::BIGINT AS max_indeg"
        ),
        "typed_pack": (
            "WITH u AS (SELECT c_custkey::BIGINT AS id, 0::BIGINT AS typ FROM customer "
            "UNION ALL SELECT s_suppkey::BIGINT, 1::BIGINT FROM supplier) "
            "SELECT id, typ, (typ * 281474976710656 + id)::BIGINT AS packed, "
            "((typ * 281474976710656 + id) // 281474976710656)::BIGINT AS typ_check, "
            "((typ * 281474976710656 + id) % 281474976710656)::BIGINT AS id_check FROM u"
        ),
        # ---- training-data pipeline ----
        "dedup_exact": (
            "SELECT md5(text) AS text_md5, count(*)::BIGINT AS n_copies, "
            "min(doc_id) AS keeper FROM documents GROUP BY 1"
        ),
        "minhash_signatures": "WITH " + _sig_cte() + " SELECT * FROM sig",
        "lsh_candidates": (
            "WITH " + _sig_cte()
            + f", cand AS (SELECT DISTINCT doc_a, doc_b FROM ({_lsh_pairs_sql_body()})) "
            "SELECT doc_a, doc_b FROM cand"
        ),
        "near_dup_pairs": (
            "WITH " + _sig_cte()
            + f", cand AS MATERIALIZED (SELECT DISTINCT doc_a, doc_b FROM ({_lsh_pairs_sql_body()})), "
            "sz AS MATERIALIZED (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY doc_id), "
            "inter AS MATERIALIZED (SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS i FROM cand c "
            "JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh "
            "GROUP BY c.doc_a, c.doc_b) "
            "SELECT c.doc_a, c.doc_b, "
            "round(COALESCE(i.i, 0) / (sa.sz + sb.sz - COALESCE(i.i, 0)), 9) AS jaccard "
            "FROM cand c LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b "
            "JOIN sz sa ON sa.doc_id = c.doc_a JOIN sz sb ON sb.doc_id = c.doc_b "
            f"WHERE round(COALESCE(i.i, 0) / (sa.sz + sb.sz - COALESCE(i.i, 0)), 9) >= {NEAR_DUP_T}"
        ),
        "simhash_docs": _simhash_sql(),
        "token_stats": (
            f"SELECT doc_id, len({_TOKS})::BIGINT AS n_tokens, "
            f"len(list_distinct({_TOKS}))::BIGINT AS n_uniq_tokens, "
            "length(text)::BIGINT AS n_chars FROM documents"
        ),
        "lang_id": _lang_id_sql(),
        # empty docs score 0 on both engines
        "quality_score": (
            f"WITH f AS (SELECT doc_id, len({_TOKS})::DOUBLE AS n, "
            f"len(list_filter({_TOKS}, x -> x IN ({en_words})))::DOUBLE AS stop, "
            f"len(list_distinct({_TOKS}))::DOUBLE AS uniq FROM documents) "
            "SELECT doc_id, CASE WHEN n = 0 THEN 0.0 ELSE "
            "round(0.3 * least(n / 100.0, 1.0) + 0.4 * (stop / n) + 0.3 * (uniq / n), 9) "
            "END AS quality FROM f"
        ),
        "fingerprint_docs": (
            "SELECT doc_id, list_reduce(list_prepend(0::BIGINT, "
            f"list_transform({_TOKS}, t -> {_h('t')})), "
            f"(acc, x) -> (acc * {dt.FP_BASE} + x) % {dt.FP_MOD}) AS fp FROM documents"
        ),
        "embedding_topk": (
            "WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 8), "
            "c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings), "
            f"sims AS (SELECT query_id, neighbor_id, {_COS} AS cos_sim "
            "FROM q CROSS JOIN c WHERE query_id <> neighbor_id), "
            "r AS (SELECT *, row_number() OVER (PARTITION BY query_id "
            "ORDER BY cos_sim DESC, neighbor_id ASC) AS rank FROM sims) "
            f"SELECT query_id, neighbor_id, cos_sim, rank::BIGINT AS rank FROM r WHERE rank <= {TOPK_K}"
        ),
        "embedding_ivf_topk": _ivf_kmeans_sql(KM_K, KM_ITERS, EMB_DIM, TOPK_K, 2),
        "kmeans_cells": _kmeans_assign_sql(KM_K, KM_ITERS, EMB_DIM),
        "media_meta": (
            "SELECT doc_id AS media_id, 'text/plain' AS format, "
            "octet_length(encode(text))::BIGINT AS n_bytes, md5(text) AS checksum FROM documents"
        ),
    }
