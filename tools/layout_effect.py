"""Measured compression effect of the layout permutations.

The reference's headline claim for gray/lex orderings is storage: a
locality-improving permutation shrinks the gap-encoded successor stream
(Transform.java:1940-2032 + BVGraph residual coding).  The Spark
analogue: store the same graph under natural / gray / lex / random
orders and compare the parquet CSR bytes (gap arrays + delta encoding),
reading the accounting that ``Graph.store`` writes to ``meta.json``.

Usage: python tools/layout_effect.py [--sf-dir ...] [--graph g1|g2]
Prints one JSON line: bytes + bits/link per ordering.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument(
        "--cpus", type=int, default=None,
        help="local[N] cores (default: $SPARK_GRAFT_CPUS, else the cores this process may run on)",
    )
    ap.add_argument(
        "--graph", default="g2", choices=["g1", "g2", "cnr2000"],
        help="cnr2000 = the reference's golden web graph (its published "
        "density is 3.56 bits/link / 35.15 bits/node at BV window+ref "
        "compression, cnr-2000.properties:3,10) — puts this engine's "
        "parquet gap-CSR on the same yardstick",
    )
    args = ap.parse_args()

    from webgraph_big_spark.session import get_spark
    from webgraph_big_spark import transforms as tr
    from webgraph_big_spark.graph import Graph
    import __spark_entry__ as entry

    spark = get_spark("wbs-layout", cpus=args.cpus)
    if args.graph == "cnr2000":
        from cnr2000 import CNR_TXT

        g = Graph.from_adjacency_text(spark, CNR_TXT)
    else:
        load = entry.load_g1 if args.graph == "g1" else entry.load_g2
        g = load(spark, args.sf_dir)
    g.edges = g.edges.localCheckpoint(eager=True)

    orderings = {
        "natural": lambda: g,
        "gray": lambda: tr.relabel_by_order(g, tr.gray_key(g))[0],
        "lex": lambda: tr.relabel_by_order(g, tr.lex_key(g))[0],
        "random": lambda: tr.relabel_by_order(g, tr.random_key(g, seed=0))[0],
    }
    out = {"graph": args.graph, "sf_dir": args.sf_dir, "orderings": {}}
    for name, fn in orderings.items():
        base = tempfile.mkdtemp(prefix=f"wbs_layout_{name}_")
        meta = fn().store(base, buckets=32)
        out["orderings"][name] = {
            "bytes": meta["bytes"],
            "bits_per_link": round(meta["bits_per_link"], 3),
            "bits_per_node": round(meta.get("bits_per_node", 0.0), 3),
            "arcs": meta["arcs"],
        }
        shutil.rmtree(base, ignore_errors=True)
    nat = out["orderings"]["natural"]["bytes"]
    for name, rec in out["orderings"].items():
        rec["vs_natural"] = round(rec["bytes"] / nat, 4) if nat else None
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
