"""Workload parameters shared by the generator and the measured process.

``suite-sf0.01`` keeps TPC-H sf0.01 table cardinalities (1 500
customers, 100 suppliers, 15 000 orders, ~60 000 lineitems); its leaves
and round counts are cut from ``bench.py``'s so that set-up and one pass
fit a run of well under a minute.  Per-round cost is driver latency at
this size and at sf0.1 alike.  ``imports-100k`` and ``durable-50k``
share one generator; ``imports-100k`` lowers the session's broadcast
bound so its PageRank lands on the co-partitioned side, as a graph of
n·32 B > 64 MiB would at the default bound.  The lowered bound sits far
below every node-sized relation, so no runtime join choice flips between
seeds.
"""

from __future__ import annotations

RANK_ROW_BYTES = 32  # PageRank's per-node estimate of the rank side

WORKLOADS: dict[str, dict] = {
    "suite-sf0.01": {
        "kind": "suite",
        "customers": 1500,
        "suppliers": 100,
        "orders": 15000,
        "band": 5,
        "pr_rounds": 3,
        "pr_tol": 1e-3,  # converges at round 10 (2 probes) on every seed tried
        "pr_check_every": 5,
        "lp_rounds": 2,
        "hb_t": 2,
        "broadcast_threshold": None,  # session default
        "pagerank_side": "broadcast",
    },
    "imports-100k": {
        "kind": "imports",
        "nodes": 100000,
        "exponent": 1.0,
        "pr_rounds": 3,
        "broadcast_threshold": 256 << 10,
        "pagerank_side": "co_partitioned",
    },
    "durable-50k": {
        "kind": "durable",
        "nodes": 50000,
        "exponent": 1.0,
        "pr_rounds": 3,
        "resume_rounds": 2,
        "broadcast_threshold": None,
        "pagerank_side": "broadcast",
    },
}
