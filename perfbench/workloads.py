"""The operations each workload times, and how each output is checked.

Every operation calls one public function of the program and
materialises its full result on the driver with an Arrow collect, so no
pruned plan can skip work.  Checks compare against the generator's oracle
answers and run outside the timed region.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from perfbench.spec import RANK_ROW_BYTES

import __spark_entry__ as entry
from webgraph_big_spark import transforms as tr
from webgraph_big_spark.algorithms.bfs import bfs_distances
from webgraph_big_spark.algorithms.components import connected_components_star
from webgraph_big_spark.algorithms.hyperball import hyperball
from webgraph_big_spark.algorithms.labelprop import label_propagation
from webgraph_big_spark.algorithms.pagerank import pagerank
from webgraph_big_spark.algorithms.scc import strongly_connected_components_fwbw
from webgraph_big_spark.algorithms.triangles import triangle_edges
from webgraph_big_spark.graph import Graph

HLL_RTOL = 0.25  # 64-register HyperLogLog: 13 % per counter, less in sums


@dataclass
class Op:
    name: str
    layer: str
    call: Callable[[], object]
    check: Callable[[object], bool]
    arc_rounds: int = 0  # arcs × rounds of a fixed-round PageRank call
    rounds: int = 0


def collect(df) -> pa.Table:
    return df.toArrow()


def column(t: pa.Table, name: str) -> np.ndarray:
    return t.column(name).to_numpy()


def by_id(t: pa.Table, value: str) -> tuple[np.ndarray, np.ndarray]:
    ids = column(t, "id")
    order = np.argsort(ids, kind="stable")
    return ids[order], column(t, value)[order]


def same_values(t: pa.Table, value: str, ids: np.ndarray, want: np.ndarray, **tol) -> bool:
    got_ids, got = by_id(t, value)
    if not np.array_equal(got_ids, ids):
        return False
    return np.allclose(got, want, **tol) if tol else np.array_equal(got, want)


def arcs_of(t: pa.Table) -> np.ndarray:
    key = np.sort((column(t, "src") << 32) | column(t, "dst"))
    return np.stack([key >> 32, key & 0xFFFFFFFF], axis=1)


def same_arcs(t: pa.Table, want: np.ndarray) -> bool:
    got = arcs_of(t)
    return got.shape == want.shape and np.array_equal(got, want)


def close(got: float, want: float, rtol: float) -> bool:
    return abs(got - want) <= rtol * abs(want)


def broadcast_threshold(spark) -> int:
    """The session's autoBroadcastJoinThreshold in bytes."""
    raw = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold")).strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    raw = raw.rstrip("b")
    if raw and raw[-1] in units:
        return int(raw[:-1]) * units[raw[-1]]
    return int(raw)


def pagerank_side(spark, nodes: int) -> str:
    """Which join path PageRank takes for ``nodes`` in this session."""
    fits = nodes * RANK_ROW_BYTES <= broadcast_threshold(spark)
    return "broadcast" if fits else "co_partitioned"


class Workload:
    """Set-up (input derivation and pin) plus the operation list."""

    def __init__(self, spark, p: dict, inputs: str, scratch: str):
        self.spark, self.p, self.inputs, self.scratch = spark, p, inputs, scratch
        with open(os.path.join(inputs, "manifest.json")) as fh:
            self.sizes = json.load(fh)["sizes"]
        with np.load(os.path.join(inputs, "expected.npz")) as z:
            self.want = {k: z[k] for k in z.files}
        self.store_meta: dict | None = None
        self.graphs: dict[str, Graph] = {}

    def derive(self) -> None:
        """The timed set-up: read the parquet inputs, derive the graphs
        the operations use and pin them."""
        self.graphs = self._derive()

    def _derive(self) -> dict[str, Graph]:
        spark, p = self.spark, self.p
        if p["kind"] == "suite":
            g1 = entry.load_g1(spark, self.inputs)
            g1.edges = g1.edges.localCheckpoint(eager=True)
            g2 = entry.load_g2(spark, self.inputs)
            g2.edges = g2.edges.localCheckpoint(eager=True)
            rev = g1.edges.filter((F.col("src") + F.col("dst")) % 3 == 0).select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
            g6 = Graph(g1.edges.union(rev).distinct().localCheckpoint(eager=True), dense=False)
            return {"g1": g1, "g2": g2, "g6": g6}
        arcs = spark.read.parquet(os.path.join(self.inputs, "arcs.parquet"))
        return {"g": Graph(arcs.localCheckpoint(eager=True), num_nodes=p["nodes"])}

    def pagerank_nodes(self) -> int:
        return self.sizes["g1" if self.p["kind"] == "suite" else "graph"]["nodes"]

    def arcs(self, name: str) -> int:
        return self.sizes[name]["arcs"]

    # -- shared operation shapes -------------------------------------------

    def reset(self) -> None:
        """Remove the previous pass's stored graph and checkpoints."""
        for name in ("store", "run"):
            shutil.rmtree(os.path.join(self.scratch, name), ignore_errors=True)

    def written_mb(self, name: str) -> float:
        total = 0
        for root, _dirs, files in os.walk(os.path.join(self.scratch, name)):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total / (1 << 20)

    def _store(self, g: Graph, want_arcs: int) -> Op:
        def call():
            meta = g.store(os.path.join(self.scratch, "store"))
            self.store_meta = meta
            return meta

        return Op("store", "graph", call, lambda m: m["arcs"] == want_arcs)

    def _load(self, want: np.ndarray) -> Op:
        def call():
            return collect(Graph.load(self.spark, os.path.join(self.scratch, "store")).edges)

        return Op("load_decode", "graph", call, lambda t: same_arcs(t, want))

    def _pagerank_fixed(self, name: str, g: Graph, ids, want, arcs: int, r: int, **kw) -> Op:
        """A fixed-round PageRank call; only calls without ``run_dir``
        count towards PageRank throughput and jobs per round."""
        plain = not kw
        return Op(
            name,
            "pagerank",
            lambda: collect(pagerank(g, fixed_iterations=r, **kw)),
            lambda t: same_values(t, "rank", ids, want, rtol=1e-7, atol=1e-15),
            arc_rounds=arcs * r if plain else 0,
            rounds=r if plain else 0,
        )

    # -- operation lists ---------------------------------------------------

    def ops(self) -> list[Op]:
        return getattr(self, "_ops_" + self.p["kind"])()

    def final_store(self) -> Op | None:
        """A store made once after the timed passes, for workloads whose
        passes do not store (so every workload reports bits per link)."""
        if self.p["kind"] == "durable":
            return None
        if self.p["kind"] == "suite":
            return self._store(self.graphs["g1"], self.arcs("g1"))
        return self._store(self.graphs["g"], self.arcs("graph"))

    def _ops_suite(self) -> list[Op]:
        p, w = self.p, self.want
        g1, g2, g6 = self.graphs["g1"], self.graphs["g2"], self.graphs["g6"]
        ids1, ids2, ids6 = w["g1_ids"], w["g2_ids"], w["g6_ids"]
        tol = p["pr_tol"]
        reached = w["bfs"] >= 0

        def hb_nf(t: pa.Table) -> bool:
            got = column(t, "nf")
            return len(got) == len(w["nf"]) and all(
                close(a, b, HLL_RTOL) for a, b in zip(got, w["nf"])
            )

        return [
            self._pagerank_fixed(
                "pagerank_fixed_g1", g1, ids1, w["pr_fixed"], self.arcs("g1"), p["pr_rounds"]
            ),
            Op(
                "pagerank_conv_g1",
                "pagerank",
                lambda: collect(pagerank(g1, tol=tol, check_every=p["pr_check_every"])),
                lambda t: same_values(t, "rank", ids1, w["pr_conv"], rtol=1e-7, atol=1e-15),
            ),
            Op(
                "wcc_star_g2",
                "components",
                lambda: collect(connected_components_star(g2)),
                lambda t: same_values(t, "comp", ids2, w["wcc"]),
            ),
            Op(
                "labelprop_g2",
                "labelprop",
                lambda: collect(label_propagation(g2, rounds=p["lp_rounds"])),
                lambda t: same_values(t, "label", ids2, w["lp"]),
            ),
            Op(
                "triangles_g2",
                "triangles",
                lambda: collect(triangle_edges(g2)),
                lambda t: int(column(t, "tri").sum()) == int(w["triangles"][0]),
            ),
            Op(
                "compose_g2_g2",
                "transforms",
                lambda: collect(tr.compose(g2, g2).edges),
                lambda t: same_arcs(t, w["compose"]),
            ),
            Op(
                "simplify_g1",
                "transforms",
                lambda: collect(tr.simplify(g1).edges),
                lambda t: same_arcs(t, w["simplify"]),
            ),
            Op(
                "bfs_g1",
                "bfs",
                lambda: collect(bfs_distances(g1, [int(ids1[0])])),
                lambda t: same_values(t, "dist", ids1[reached], w["bfs"][reached]),
            ),
            Op(
                "hyperball_t2_g1",
                "hyperball",
                lambda: collect(hyperball(g1, p["hb_t"])),
                hb_nf,
            ),
            Op(
                "scc_fwbw_g6",
                "scc",
                lambda: collect(strongly_connected_components_fwbw(g6)),
                lambda t: same_values(t, "comp", ids6, w["scc"]),
            ),
        ]

    def _ops_imports(self) -> list[Op]:
        p, w, g = self.p, self.want, self.graphs["g"]
        ids = np.arange(p["nodes"])
        return [
            self._pagerank_fixed(
                "pagerank_fixed", g, ids, w["pr_fixed"], self.arcs("graph"), p["pr_rounds"]
            ),
            Op(
                "wcc_star",
                "components",
                lambda: collect(connected_components_star(g)),
                lambda t: same_values(t, "comp", ids, w["wcc"]),
            ),
        ]

    def _ops_durable(self) -> list[Op]:
        p, w, g = self.p, self.want, self.graphs["g"]
        ids = np.arange(p["nodes"])
        r, arcs = p["pr_rounds"], self.arcs("graph")
        durable = {"run_dir": os.path.join(self.scratch, "run"), "checkpoint_every": 1}
        return [
            self._store(g, arcs),
            self._load(w["edges"]),
            self._pagerank_fixed("pagerank_fixed", g, ids, w["pr_fixed"], arcs, r),
            self._pagerank_fixed(
                "pagerank_checkpointed", g, ids, w["pr_fixed"], arcs, r, **durable
            ),
            # resumes from the checkpointed call's last round
            self._pagerank_fixed(
                "pagerank_resumed", g, ids, w["pr_resumed"], arcs, r + p["resume_rounds"], **durable
            ),
        ]
