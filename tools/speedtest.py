"""SpeedTest analogue — ns/link sequential + random access over the
stored CSR table.

Protocol mirrors the reference's ``test/SpeedTest.java:45-47``: 3 warmup
iterations, then the average of 10 timed iterations; sequential mode
enumerates every successor of every node; random mode resolves the
successor lists of R random nodes (point lookups → parquet min/max
pruning on the range-partitioned ``src``).

Usage:
    python tools/speedtest.py [--sf-dir /root/testdata/sf0.1]
                              [--random 1000] [--out json]

Builds the G1 purchase graph from the driver testdata, stores it once
(gap-encoded CSR parquet), then times access against the stored form —
the BVGraph access-speed discipline, on the Spark data path.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WARMUP = 3
REPEAT = 10


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument(
        "--cpus", type=int, default=None,
        help="local[N] cores (default: $SPARK_GRAFT_CPUS, else the cores this process may run on)",
    )
    ap.add_argument("--random", type=int, default=1000)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from webgraph_big_spark.session import get_spark
    from webgraph_big_spark.graph import Graph
    import __spark_entry__ as entry

    spark = get_spark("wbs-speedtest", cpus=args.cpus)
    g = entry.load_g1(spark, args.sf_dir)
    base = tempfile.mkdtemp(prefix="wbs_speedtest_")
    meta = g.store(base, buckets=32)
    m = meta["arcs"]
    stored = Graph.load(spark, base)
    edges = stored.edges

    # --- sequential: full enumeration of every successor ---------------
    def seq_once() -> float:
        t0 = time.perf_counter()
        # checksum forces full decode of every (src, dst) pair
        edges.agg(F.count("*"), F.sum(F.col("src") + F.col("dst"))).collect()
        return time.perf_counter() - t0

    for _ in range(WARMUP):
        seq_once()
    seq = [seq_once() for _ in range(REPEAT)]
    seq_avg = sum(seq) / REPEAT

    # --- random: point lookups on the range-partitioned CSR ------------
    rng = random.Random(42)
    n = meta["nodes"]
    raw = spark.read.parquet(os.path.join(base, "adj"))

    def rnd_once(ids) -> tuple[float, int]:
        t0 = time.perf_counter()
        rows = raw.filter(F.col("src").isin(ids)).select("src", "outdeg").collect()
        links = sum(r["outdeg"] for r in rows)
        return time.perf_counter() - t0, links

    ids_all = [rng.randrange(n) for _ in range(args.random)]
    for _ in range(WARMUP):
        rnd_once(ids_all[:100])
    rnd_t, rnd_links = 0.0, 0
    for _ in range(REPEAT):
        dt, lk = rnd_once(ids_all)
        rnd_t += dt
        rnd_links += max(lk, 1)
    rnd_avg = rnd_t / REPEAT
    rnd_links_avg = rnd_links / REPEAT

    out = {
        "metric": "speedtest ns/link (sequential) + ns/node (random access)",
        "protocol": f"{WARMUP} warmup + {REPEAT} timed reps (test/SpeedTest.java:45-47)",
        "sf_dir": args.sf_dir,
        "arcs": m,
        "nodes": n,
        "sequential_sec_avg": round(seq_avg, 4),
        "sequential_ns_per_link": round(seq_avg * 1e9 / m, 1),
        "sequential_sec_all_reps": [round(x, 3) for x in seq],
        "random_nodes_per_rep": args.random,
        "random_sec_avg": round(rnd_avg, 4),
        "random_ns_per_node": round(rnd_avg * 1e9 / args.random, 1),
        "random_ns_per_link": round(rnd_avg * 1e9 / rnd_links_avg, 1),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
