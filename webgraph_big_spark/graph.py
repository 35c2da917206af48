"""Core graph data model: an edge DataFrame + CSR adjacency views.

Reference mapping (see SURVEY.md §1.4):

- ``ImmutableGraph`` (reference ``ImmutableGraph.java:201``): node ids are
  dense longs in ``[0, n)``; successor lists sorted ascending, duplicate
  free.  Here a graph is an ``edges(src: long, dst: long)`` DataFrame plus
  a node count; successor lists are a derived CSR DataFrame
  ``adj(src, dsts: array<long>, outdeg)`` built with
  ``sort_array(collect_set(dst))`` — sortedness/dedup enforced exactly as
  the reference enforces it at build time (``Transform.java:848-862``).
- ``outdegrees()`` (``ImmutableGraph.java:453``) → ``groupBy(src).count()``.
- ``splitNodeIterators`` (``ImmutableGraph.java:405``) → Spark partitions.
- ``BVGraph.store`` (``BVGraph.java:1641``) → partitioned parquet write of
  the gap-encoded CSR table + a ``.properties``-style JSON sidecar
  (``meta.json``).  The *semantic* analogue kept from the reference is
  the gap-sorted successor array (``BVGraph.java:141-223``); the bit
  coding is parquet's (:data:`PARQUET_WRITE_OPTIONS`): v2 data pages
  store the ascending ``src`` column DELTA_BINARY_PACKED and the gap
  columns dictionary-coded while the dictionary pays, delta bit-packed
  once it does not (the role of the γ/ζ instantaneous codes), and zstd
  entropy-codes each page, its LZ window over neighbouring gap lists
  the generic analogue of BV's copy references.
- ``ImmutableGraph.equals`` (``ImmutableGraph.java:759``) →
  ``same_graph``: symmetric exceptAll emptiness on canonical arcs.

At 100 TB scale: ``edges`` is bucketed/partitioned by ``src`` so that the
per-source groupBy that builds CSR blocks is shuffle-free after one
repartition, and all iterative algorithms reuse that partitioning.
"""

from __future__ import annotations

import json
import os
from typing import Callable, Iterable

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T
from pyspark.sql.window import Window

ARC_SCHEMA = T.StructType(
    [
        T.StructField("src", T.LongType(), False),
        T.StructField("dst", T.LongType(), False),
    ]
)


# The one encoding of every parquet file the engine writes (stored
# graphs, loop checkpoints, typed graphs), passed per write so no session
# conf changes: v2 data pages, whose fallback from a dictionary is
# DELTA_BINARY_PACKED rather than PLAIN, under zstd.  Readers decode
# whatever a file declares, so files written under other options (v1
# pages, snappy) still load.
PARQUET_WRITE_OPTIONS = {"parquet.writer.version": "v2", "compression": "zstd"}

TARGET_PIN_PARTITION_BYTES = 32 * 1024 * 1024
_PIN_ROW_BYTES_PER_COL = 16  # long column in an UnsafeRow, incl. overhead


def co_partitioned(df: DataFrame, *keys: str, rows: int) -> DataFrame:
    """Pin a STATIC relation hash-partitioned by ``keys`` for an
    iterative loop — the shared recipe behind every per-round join that
    must NOT re-exchange the big side (PageRank, HyperBall, WCC, label
    propagation, SCC colouring, and the :func:`frontier_reach` expansions
    of BFS and the SCC reaches; the reference's whole scaling story is the
    same idea — ``algo/HyperBall.java:96-135``'s systolic iteration
    exists precisely to stop touching unchanged data each round).

    Recipe (and why each part matters):

    - ``repartition(k, *keys)`` + ``cache()``, NOT ``localCheckpoint``:
      InMemoryRelation preserves the child's hash ``outputPartitioning``
      (a LogicalRDD does not), so every later join keyed on ``keys``
      satisfies its distribution requirement straight from the cache.
    - the eager ``count()`` materializes the cache OFF the per-round
      path.
    - callers must pair each per-round join with a ``shuffle_hash`` hint
      on the SMALL (state/frontier) side: post-``localCheckpoint`` state
      has no size statistics, so Catalyst left alone would plan a
      sort-merge join that re-Exchanges this big side every round.

    Callers own the cache: ``unpersist()`` when the loop finishes.

    The partition count is SIZE-DERIVED (guide §2.2: partition by bytes,
    not by a constant tuned to either local mode or one cluster): ``rows``
    sizes the pin at ~``TARGET_PIN_PARTITION_BYTES`` per partition.  A 20 MB sf0.1 edge
    table pins as TWO partitions — every per-round join stage then runs
    two real tasks instead of `cpus` near-empty ones — while a 2 TB
    production table pins as ~64k partitions, with no config change.
    Iterative-loop stages inherit the pin's partition count (the state
    side must co-partition), so this one number sets the whole loop's
    per-round task count.  Never fewer than 2: ``repartition(1, keys)``
    reports SinglePartition, which no hash-distributed join can reuse,
    so the cached side would be re-exchanged every round.

    ``rows`` comes from a count of the SOURCE relation (an upper bound
    is fine, e.g. the ``Graph.num_arcs`` memo): counting ``df`` itself
    would run the whole upstream plan once more before the pin runs it.
    """
    est_bytes = rows * _PIN_ROW_BYTES_PER_COL * max(len(df.columns), 1)
    k = -(-est_bytes // TARGET_PIN_PARTITION_BYTES)
    pinned = df.repartition(max(2, int(k)), *keys).cache()
    pinned.count()
    return pinned


FRONTIER_TRUNCATE_EVERY = 8


def frontier_reach(
    seeds: DataFrame,
    expand: Callable[[DataFrame, int], DataFrame],
    max_rounds: int | None = None,
) -> DataFrame:
    """Grow a visited set level by level from ``seeds`` — the frontier
    loop behind BFS and the SCC reaches, the Spark analogue of
    ``ParallelBreadthFirstVisit``'s barrier per level over a shared
    ``marker`` array (``algo/ParallelBreadthFirstVisit.java:79``).

    ``expand(frontier, level)`` returns the candidate rows of ``level``
    (1, 2, ...): an ``id`` column, unique per id, plus the columns of
    ``seeds`` in the same order.  Candidates already visited are dropped
    by an anti join on ``id``; what remains is the next frontier.  At
    most ``max_rounds`` levels run.  Returns the visited rows, seeds
    included.

    Each level is ONE Spark action, the frontier's ``localCheckpoint``
    (adaptive execution runs its shuffle stages as jobs of their own).
    The loop ends when that action observed an empty frontier, so there
    is no separate emptiness probe.  Visited grows as a lazy union of the
    checkpointed levels, re-materialized every
    ``FRONTIER_TRUNCATE_EVERY`` levels to bound its plan.
    """
    visited = seeds.localCheckpoint(eager=True)
    frontier = visited
    level = 0
    while max_rounds is None or level < max_rounds:
        level += 1
        found = Observation()
        # shuffle_hash on the visited side: the candidates are already
        # hash-partitioned by id (the expansion's distinct/groupBy), so
        # the anti join exchanges only `visited` and skips SMJ sorts
        nxt = (
            expand(frontier, level)
            .join(visited.select("id").hint("shuffle_hash"), "id", "left_anti")
            .observe(found, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        if found.get["n"] == 0:
            break
        visited = visited.union(nxt)
        if level % FRONTIER_TRUNCATE_EVERY == 0:
            visited = visited.localCheckpoint(eager=True)
        frontier = nxt
    return visited


def broadcast_threshold(spark: SparkSession) -> int:
    """The session's ``spark.sql.autoBroadcastJoinThreshold`` in bytes,
    as Spark itself parses it (``"10m"``, ``"1t"``, ...); -1 means
    broadcast joins are off."""
    return int(spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold())


class Graph:
    """An immutable directed graph over an ``edges(src, dst)`` DataFrame.

    Extra columns beyond (src, dst) are arc labels — the analogue of
    ``ArcLabelledImmutableGraph`` (reference
    ``labelling/ArcLabelledImmutableGraph.java:69``).
    """

    def __init__(
        self, edges: DataFrame, num_nodes: int | None = None, dense: bool | None = None
    ):
        """``dense=True`` (reference semantics, ``ImmutableGraph.java:245``):
        the node set is the integer range ``[0, n)`` with n = ``num_nodes``
        or max id + 1.  ``dense=False`` (scattered-id semantics, like
        ``ScatteredArcsASCIIGraph`` *before* its remap): the node set is
        the distinct endpoints actually present.  Defaults to dense when
        ``num_nodes`` is given, else scattered."""
        self.dense = dense if dense is not None else (num_nodes is not None)
        self._declared_nodes = num_nodes
        self.edges = edges

    @property
    def edges(self) -> DataFrame:
        return self._edges

    @edges.setter
    def edges(self, edges: DataFrame) -> None:
        """Replace the arc table.  Every memo derived from the old arcs
        (node and arc counts, the touched-node set) goes with them; a
        node count the caller declared stays."""
        if "src" not in edges.columns or "dst" not in edges.columns:
            raise ValueError(f"edges must have src/dst columns, got {edges.columns}")
        self._edges = edges
        self._num_nodes = self._declared_nodes
        self._num_arcs: int | None = None
        self._touched: DataFrame | None = None

    # ------------------------------------------------------------------
    # construction
    # ------------------------------------------------------------------
    @classmethod
    def from_pairs(
        cls, spark: SparkSession, pairs: Iterable[tuple[int, int]], num_nodes: int | None = None
    ) -> "Graph":
        """Build from an in-memory arc list (tests / tiny fixtures only)."""
        df = spark.createDataFrame(
            [(int(s), int(d)) for s, d in pairs], schema=ARC_SCHEMA
        )
        return cls(df, num_nodes)

    @classmethod
    def from_arc_list_text(
        cls, spark: SparkSession, path: str, sep: str = "\t", shift: int = 0
    ) -> "Graph":
        """Arc-list text source: one ``src<sep>dst`` pair per line.

        Analogue of ``ArcListASCIIGraph`` (``ArcListASCIIGraph.java:102``)
        and, with ``shift=-1``, of ``ShiftedByOneArcListASCIIGraph``
        (``ShiftedByOneArcListASCIIGraph.java:48``).  Unlike the reference,
        input order is irrelevant (Spark shuffles anyway), which also
        covers ``ScatteredArcsASCIIGraph`` (``ScatteredArcsASCIIGraph.java:142``)
        for already-numeric ids; for arbitrary ids use
        :func:`webgraph_big_spark.extract.assign_dense_ids`.
        """
        df = (
            spark.read.schema("src LONG, dst LONG")
            .options(sep=sep, comment="#")
            .csv(path)
        )
        if shift:
            df = df.select(
                (F.col("src") + F.lit(shift)).alias("src"),
                (F.col("dst") + F.lit(shift)).alias("dst"),
            )
        return cls(df, dense=True)

    @classmethod
    def from_adjacency_text(cls, spark: SparkSession, path: str) -> "Graph":
        """ASCII adjacency source: line i = successors of node i, space
        separated (node count header ignored if present on its own line).

        Analogue of ``ASCIIGraph`` (``ASCIIGraph.java:98``), expressed as
        text scan → split → posexplode instead of a sequential parser.
        """
        lines = spark.read.text(path).select(
            (F.monotonically_increasing_id()).alias("_row"), F.col("value")
        )
        # the reference format's first line is the node count; detect a
        # pure single-integer first line and drop it.
        first = lines.orderBy("_row").limit(1).collect()
        skip = 1 if (first and first[0]["value"].strip().isdigit() and " " not in first[0]["value"].strip()) else 0
        # line number = node id: a global window is fine here because this
        # source (like the reference's sequential ASCIIGraph parser,
        # ASCIIGraph.java:98) is inherently order-defined; big inputs
        # should use arc-list/parquet sources instead.
        w_src = F.row_number().over(Window.orderBy("_row")) - 1 - skip
        df = (
            lines.withColumn("src", w_src)
            .filter(F.col("src") >= 0)
            .select(
                "src",
                F.explode(
                    F.filter(F.split(F.trim("value"), r"\s+"), lambda x: x != F.lit(""))
                ).alias("dst_s"),
            )
            .select(F.col("src").cast("long"), F.col("dst_s").cast("long").alias("dst"))
        )
        return cls(df, dense=True)

    @classmethod
    def from_triples_text(
        cls, spark: SparkSession, path: str, sep: str = "\t", label_name: str = "label"
    ) -> "Graph":
        """Labelled triple-text source: one ``src<sep>dst<sep>label`` per
        line, the label a nonnegative integer — the analogue of
        ``examples/IntegerTriplesArcLabelledImmutableGraph.java:55``
        (TAB-separated triples from text, n = max endpoint + 1, labels
        carried arc-aligned; multiple arcs are not allowed there and are
        deduplicated deterministically here at store time)."""
        df = (
            spark.read.schema(f"src LONG, dst LONG, {label_name} LONG")
            .options(sep=sep, comment="#")
            .csv(path)
        )
        return cls(df, dense=True)

    # ------------------------------------------------------------------
    # basic accessors (ImmutableGraph surface)
    # ------------------------------------------------------------------
    def num_nodes(self) -> int:
        """n — like ``ImmutableGraph.numNodes`` (``ImmutableGraph.java:245``).

        Dense graphs: declared n or max id + 1.  Scattered graphs:
        count of distinct endpoint ids.
        """
        if self._num_nodes is None:
            if self.dense:
                row = self.edges.agg(
                    F.greatest(F.max("src"), F.max("dst")).alias("mx")
                ).first()
                self._num_nodes = int(row["mx"]) + 1 if row["mx"] is not None else 0
            else:
                self._num_nodes = self.touched_nodes().count()
        return self._num_nodes

    def num_arcs(self) -> int:
        """m — ``ImmutableGraph.numArcs`` (``ImmutableGraph.java:263``):
        the edge table's row count, counted once per arc table."""
        if self._num_arcs is None:
            self._num_arcs = self.edges.count()
        return self._num_arcs

    def nodes(self) -> DataFrame:
        """The node-id set as a DataFrame: ``[0, n)`` range when dense,
        distinct endpoints when scattered."""
        if not self.dense:
            return self.touched_nodes()
        spark = self.edges.sparkSession
        return spark.range(self.num_nodes()).select(F.col("id").cast("long"))

    def touched_nodes(self) -> DataFrame:
        """Distinct ids that appear as an endpoint (sparse node set)."""
        if self._touched is None:
            self._touched = (
                self.edges.select(F.col("src").alias("id"))
                .union(self.edges.select(F.col("dst").alias("id")))
                .distinct()
                .localCheckpoint(eager=False)
            )
        return self._touched

    def out_degrees(self, include_zero: bool = False) -> DataFrame:
        """(id, outdeg) — the ``outdegrees()`` stream
        (``ImmutableGraph.java:453-480``) as one aggregation."""
        deg = self.edges.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("outdeg")
        )
        if include_zero:
            deg = (
                self.nodes()
                .join(deg, "id", "left")
                .select("id", F.coalesce("outdeg", F.lit(0)).alias("outdeg"))
            )
        return deg

    def in_degrees(self, include_zero: bool = False) -> DataFrame:
        deg = self.edges.groupBy(F.col("dst").alias("id")).agg(
            F.count("*").alias("indeg")
        )
        if include_zero:
            deg = (
                self.nodes()
                .join(deg, "id", "left")
                .select("id", F.coalesce("indeg", F.lit(0)).alias("indeg"))
            )
        return deg

    # ------------------------------------------------------------------
    # CSR adjacency (the BVGraph node-record analogue)
    # ------------------------------------------------------------------
    def adjacency(self, direction: str = "out") -> DataFrame:
        """CSR blocks: (src, dsts sorted+deduped array, outdeg).

        The Spark analogue of a BVGraph node record: successor lists are
        sorted ascending and duplicate-free exactly as the reference
        enforces during batch merge (``Transform.java:848-862``).
        """
        src, dst = ("src", "dst") if direction == "out" else ("dst", "src")
        return self.edges.groupBy(F.col(src).alias("src")).agg(
            F.sort_array(F.collect_set(dst)).alias("dsts"),
            F.size(F.collect_set(dst)).alias("outdeg"),
        )

    def successors(self, node: int) -> list[int]:
        """Random access to one successor list — ``successors(x)``
        (``ImmutableGraph.java:310``).  Point lookup; predicate pushes to
        the parquet scan when the graph was loaded from storage."""
        row = (
            self.edges.filter(F.col("src") == int(node))
            .agg(F.sort_array(F.collect_set("dst")).alias("dsts"))
            .first()
        )
        return list(row["dsts"]) if row and row["dsts"] else []

    def out_degree(self, node: int) -> int:
        """``outdegree(x)`` (``ImmutableGraph.java:341``)."""
        return self.edges.filter(F.col("src") == int(node)).count()

    # ------------------------------------------------------------------
    # equality (the reference's correctness predicate)
    # ------------------------------------------------------------------
    def same_graph(self, other: "Graph") -> bool:
        """Arc-set equality — ``ImmutableGraph.equals``
        (``ImmutableGraph.java:759-779``): same n and identical successor
        lists ⇔ identical deduped arc sets here."""
        a = self.edges.select("src", "dst").distinct()
        b = other.edges.select("src", "dst").distinct()
        return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

    # ------------------------------------------------------------------
    # storage (BVGraph.store / load analogue)
    # ------------------------------------------------------------------
    def adjacency_labelled(self) -> DataFrame:
        """CSR blocks with aligned label arrays: (src, dsts, outdeg,
        lbl_<c> for every label column), successor-sorted.  The analogue
        of an ``ArcLabelledImmutableGraph`` node record
        (``labelling/BitStreamArcLabelledImmutableGraph.java:147``:
        labels are stored arc-ordered alongside the successor stream)."""
        label_cols = [c for c in self.edges.columns if c not in ("src", "dst")]
        if not label_cols:
            # GroupedData.agg rejects an empty aggregate list — an
            # unlabelled graph's "labelled" CSR is just its CSR
            return self.adjacency()
        arr = F.sort_array(
            F.collect_list(F.struct(F.col("dst"), *[F.col(c) for c in label_cols]))
        )
        # duplicate (src,dst) arcs keep the MIN label per column — a
        # deterministic merge (partition-order-independent), matching
        # union_labelled's default LabelMergeStrategy
        dedup = self.edges.groupBy("src", "dst").agg(
            *[F.min(c).alias(c) for c in label_cols]
        )
        out = dedup.groupBy("src").agg(arr.alias("_a"))
        def _field(name):
            # NB: a `lambda x, c=c` default-arg closure would have a
            # 2-parameter signature, which PySpark interprets as the
            # (element, index) lambda form — hence this factory.
            return lambda x: x.getField(name)

        cols = [
            F.col("src"),
            F.transform("_a", _field("dst")).alias("dsts"),
            F.size("_a").alias("outdeg"),
            *[F.transform("_a", _field(c)).alias(f"lbl_{c}") for c in label_cols],
        ]
        return out.select(*cols)

    def store(self, basename: str, buckets: int | None = None) -> dict:
        """Persist as a compressed CSR parquet table + metadata sidecar.

        Analogue of ``BVGraph.store`` (``BVGraph.java:1641``) and, when
        label columns are present, of ``BVGraph.storeLabelled``
        (``BVGraph.java:1735``): the write repartitions by ``src`` range
        (so each file covers a contiguous, min/max-prunable node range —
        the role of ``.offsets`` + Elias–Fano, ``BVGraph.java:306-315``),
        sorts within partitions, and stores *gap-encoded* successor
        arrays (first element absolute, rest deltas−1;
        ``BVGraph.java:141-223``'s residual coding) plus successor-aligned
        label arrays.  Every file is written with
        :data:`PARQUET_WRITE_OPTIONS`: v2 data pages, so the ascending
        ``src`` column is DELTA_BINARY_PACKED and ``outdeg`` and the gaps
        are dictionary-coded while the dictionary pays and delta
        bit-packed once it does not, and zstd on every page.  The layout
        (``wbs-csr-gap-v2``, its columns) does not depend on the
        encoding, so stores written with other parquet options load the
        same way.

        ``meta.json`` — the ``.properties`` analogue
        (``ImmutableGraph.java:162-177``) — records node/arc counts,
        label columns, AND the size accounting the reference's
        ``.properties`` stats assert (``BVGraph.java:1912-1931``,
        ``BVGraphTest.java:68-76``): total bytes, bits/link, bits/node,
        per-file bytes.  Returns the meta dict.
        """
        label_cols = [c for c in self.edges.columns if c not in ("src", "dst")]
        n, m = self.num_nodes(), self.num_arcs()
        if buckets is None:
            # size output files from the data, not a constant (guide §6:
            # aim for large parquet files): ~8 B/arc of gap payload per
            # bucket target keeps a sf0.1 graph in ONE file while a
            # 10⁹-arc graph gets ~100+ range buckets
            buckets = max(1, (m * 8) // TARGET_PIN_PARTITION_BYTES + 1)
        adj = self.adjacency_labelled() if label_cols else self.adjacency()
        gaps_col = F.concat(
            F.slice("dsts", 1, 1),
            F.zip_with(
                F.slice("dsts", 2, F.size("dsts") - 1),
                F.slice("dsts", 1, F.size("dsts") - 1),
                lambda cur, prev: cur - prev - 1,
            ),
        ).alias("dst_gaps")
        keep = ["src", "outdeg", gaps_col] + [F.col(f"lbl_{c}") for c in label_cols]
        adj_dir = os.path.join(basename, "adj")
        (
            adj.select(*keep)
            .repartitionByRange(buckets, "src")
            .sortWithinPartitions("src")
            .write.options(**PARQUET_WRITE_OPTIONS)
            .mode("overwrite")
            .parquet(adj_dir)
        )
        per_file = {}
        for root, _dirs, files in os.walk(adj_dir):
            for f in files:
                if f.endswith(".parquet"):
                    per_file[f] = os.path.getsize(os.path.join(root, f))
        total_bytes = sum(per_file.values())
        meta = {
            "format": "wbs-csr-gap-v2",
            "nodes": n,
            "arcs": m,
            "buckets": buckets,
            "label_cols": label_cols,
            "graphclass": "webgraph_big_spark.Graph",
            # the BVGraph `.properties` bit-accounting analogue
            "bytes": total_bytes,
            "bits_per_link": (total_bytes * 8.0 / m) if m else 0.0,
            "bits_per_node": (total_bytes * 8.0 / n) if n else 0.0,
            "files": per_file,
        }
        with open(os.path.join(basename, "meta.json"), "w") as fh:
            json.dump(meta, fh)
        return meta

    @classmethod
    def load(cls, spark: SparkSession, basename: str) -> "Graph":
        """Load a stored graph — ``ImmutableGraph.load`` dispatch
        (``ImmutableGraph.java:674-713``), reading ``meta.json`` instead
        of reflecting on ``.properties``.

        Gap decode is positional and linear: ``posexplode`` the gap
        array (zipped with the label arrays for labelled graphs, so each
        exploded row carries SCALARS, never the node's full label arrays
        — a 10⁶-degree labelled hub stays O(d) rows × O(1) width, not
        O(d²) bytes), then a per-``src`` running sum reconstructs
        absolute successors (dst_i = Σ_{j≤i} gap_j + i)."""
        with open(os.path.join(basename, "meta.json")) as fh:
            meta = json.load(fh)
        gaps = spark.read.parquet(os.path.join(basename, "adj"))
        label_cols = meta.get("label_cols", [])
        nonempty = gaps.filter(F.size("dst_gaps") > 0)
        if label_cols:
            zipped = F.arrays_zip(
                F.col("dst_gaps"), *[F.col(f"lbl_{c}") for c in label_cols]
            )
            exploded = nonempty.select(
                "src", F.posexplode(zipped).alias("pos", "_z")
            ).select(
                "src",
                "pos",
                F.col("_z.dst_gaps").alias("gap"),
                *[F.col(f"_z.lbl_{c}").alias(f"_l_{c}") for c in label_cols],
            )
        else:
            exploded = nonempty.select(
                "src", F.posexplode("dst_gaps").alias("pos", "gap")
            )
        w = Window.partitionBy("src").orderBy("pos").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        decoded = exploded.select(
            "src",
            (F.sum("gap").over(w) + F.col("pos")).alias("dst"),
            *[F.col(f"_l_{c}").alias(c) for c in label_cols],
        )
        return cls(decoded, num_nodes=meta["nodes"])
