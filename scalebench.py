"""Scaling-efficiency evidence (north rule / BASELINE.md).

The rule's two-cluster-size criterion (throughput scaling efficiency
≥ 0.8 between N and 4N executors) cannot use a real cluster in this
sandbox, so per the driver instructions we run the IDENTICAL job — same
input parquet, same seed, same plan — at local[8] and local[32] in
separate JVMs and report throughput at both plus
efficiency = (T_8 / T_32) / 4.

Workload: power-iteration PageRank, fixed iterations, on a deterministic
power-law code-import-shaped graph (seed 42) big enough that per-stage
compute dominates scheduling overhead.

Usage: python scalebench.py [--nodes 500000] [--edges 10000000]
       [--iters 5] [--out BENCH.md]
Child mode (internal): python scalebench.py --child CPUS PARQUET_DIR ITERS
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
# scratch on tmpfs: the sandbox's block device has multi-second write
# stalls (see session.py) — generated inputs and run dirs are ephemeral
WORK = (
    "/dev/shm/wbs_scalework"
    if os.path.isdir("/dev/shm")
    else os.path.join(REPO, "_scalework")
)


def gen_graph(n: int, m: int, path: str) -> int:
    """Deterministic power-law graph → parquet (seed 42); returns arcs."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(42)
    w = (np.arange(1, n + 1, dtype=np.float64)) ** (-1.0 / 1.1)
    cum = np.cumsum(w)
    cum /= cum[-1]
    # inverse-CDF sampling (rng.choice with p is ~100x slower at this m)
    src = np.searchsorted(cum, rng.random(m)).astype(np.int64)
    dst = np.searchsorted(cum, rng.random(m)).astype(np.int64)
    keep = src != dst
    src, dst = src[keep], dst[keep]
    key = np.unique(src * np.int64(n) + dst)
    df = pd.DataFrame({"src": key // n, "dst": key % n})
    os.makedirs(path, exist_ok=True)
    df.to_parquet(os.path.join(path, "edges.parquet"), index=False)
    return len(df)


def _proc_tree_cpu_secs() -> float:
    """CPU seconds (utime+stime) of this process plus all live
    descendants (the Spark JVM) — /proc scan, no psutil.  Used to report
    per-leg *effective cores* (cpu/wall): a steal-immune measure of how
    much CPU the hypervisor actually granted the leg."""
    me = os.getpid()
    # build pid -> (ppid, utime+stime in jiffies)
    info = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                parts = fh.read().rsplit(")", 1)[1].split()
            # after the comm field: state=0, ppid=1, ..., utime=11, stime=12
            info[int(d)] = (int(parts[1]), int(parts[11]) + int(parts[12]))
        except OSError:
            continue
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in info.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [me]
    while stack:
        p = stack.pop()
        if p in info:
            total += info[p][1]
            stack.extend(children.get(p, []))
    hz = os.sysconf("SC_CLK_TCK")
    return total / hz


def child(cpus: int, parquet_dir: str, iters: int) -> None:
    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F

    from webgraph_big_spark.graph import Graph
    from webgraph_big_spark.session import get_spark
    from webgraph_big_spark.algorithms.pagerank import pagerank

    # JVM sizing matched to the LEG, not the host:
    # - GC threads = leg cores (default is ~5/8 of HOST cores, so a
    #   local[8] leg would burn up to 23 extra cores inside GC pauses,
    #   poisoning wall-clock and the effective-cores accounting);
    # - -Xms=-Xmx + AlwaysPreTouch: THIS VM's dominant overhead is
    #   kernel-side first-touch page faulting (stime up to 3-10x utime
    #   on memory-churning work — same pathology as large numpy
    #   allocations here), so the heap is faulted in ONCE at JVM start
    #   (excluded from timing) instead of page-by-page during the
    #   measured iterations.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    heap = os.environ["SPARK_DRIVER_MEMORY"]
    spark = get_spark(
        f"scale-{cpus}",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Xms{heap} -XX:+AlwaysPreTouch "
                f"-XX:ParallelGCThreads={cpus} -XX:ConcGCThreads={max(1, cpus // 4)}"
            )
        },
    )
    edges = spark.read.parquet(os.path.join(parquet_dir, "edges.parquet"))
    g = Graph(edges, dense=False)
    m = g.num_arcs()
    # warmup iteration (JIT/codegen/cache), excluded from timing
    pagerank(g, fixed_iterations=1)
    run_dir = os.path.join(WORK, f"run_{cpus}")
    import shutil

    shutil.rmtree(run_dir, ignore_errors=True)
    cpu0 = _proc_tree_cpu_secs()
    t0 = time.time()
    pr = pagerank(g, fixed_iterations=iters, run_dir=run_dir, checkpoint_every=10**6)
    pr.count()
    dt = time.time() - t0
    cpu1 = _proc_tree_cpu_secs()
    per_iter = [
        json.loads(l)["sec"] for l in open(os.path.join(run_dir, "runs.jsonl"))
    ]
    med = sorted(per_iter)[len(per_iter) // 2]
    print(
        json.dumps(
            {
                "cpus": cpus,
                "arcs": m,
                "iters": iters,
                "sec": round(dt, 3),
                "per_iter": [round(x, 2) for x in per_iter],
                "median_iter_sec": round(med, 3),
                "sec_median_basis": round(med * iters, 3),
                "edges_per_sec_per_iter": round(m / med, 1),
                "cpu_secs": round(cpu1 - cpu0, 2),
                "cpu_secs_per_iter": round((cpu1 - cpu0) / iters, 2),
                "effective_cores": round((cpu1 - cpu0) / dt, 2),
            }
        )
    )
    spark.stop()


def main() -> None:
    if "--child" in sys.argv:
        i = sys.argv.index("--child")
        child(int(sys.argv[i + 1]), sys.argv[i + 2], int(sys.argv[i + 3]))
        return

    def arg(name, default):
        return int(sys.argv[sys.argv.index(name) + 1]) if name in sys.argv else default

    n = arg("--nodes", 500_000)
    m = arg("--edges", 10_000_000)
    iters = arg("--iters", 5)

    pq = os.path.join(WORK, f"pl_n{n}_m{m}")
    if not os.path.exists(os.path.join(pq, "edges.parquet")):
        arcs = gen_graph(n, m, pq)
        print(f"# generated {arcs} arcs at {pq}", file=sys.stderr)

    runs = arg("--runs", 2)
    # the N / 4N pair: default local[8] vs local[32]; --lo 2 --hi 8 keeps
    # both legs under the hypervisor's granted-core ceiling (windowprobe
    # has measured ~21-28/32 effective cores → a 32-thread leg can be
    # capacity-capped no matter how well the software scales)
    lo, hi = arg("--lo", 8), arg("--hi", 32)
    assert hi == 4 * lo, "the rule's criterion is N vs 4N"
    per_iter: dict[int, list[float]] = {lo: [], hi: []}
    legs: list[dict] = []
    arcs = None
    # interleave the legs so host-level CPU-steal bursts (this sandbox has
    # them) hit both parallelism levels with the same odds
    for r in range(runs):
        for cpus in (lo, hi):
            out = subprocess.run(
                [sys.executable, __file__, "--child", str(cpus), pq, str(iters)],
                capture_output=True,
                text=True,
                timeout=3600,
            )
            line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
            rec = json.loads(line)
            arcs = rec["arcs"]
            per_iter[cpus].extend(rec["per_iter"])
            legs.append(rec)
            print(
                f"# run {r} local[{cpus}]: {rec['per_iter']} "
                f"(eff_cores={rec.get('effective_cores')}, cpu/iter={rec.get('cpu_secs_per_iter')})",
                file=sys.stderr,
            )

    def median(xs):
        xs = sorted(xs)
        return xs[len(xs) // 2]

    # median across all interleaved iterations per level; min reported as
    # the stall-free intrinsic estimate
    t8, t32 = median(per_iter[lo]), median(per_iter[hi])
    eff = (t8 / t32) / 4.0
    summary = {
        "metric": f"pagerank scaling efficiency local[{lo}] vs local[{hi}] (median per-iteration, interleaved runs)",
        "levels": [lo, hi],
        "t8_iter_sec": round(t8, 3),
        "t32_iter_sec": round(t32, 3),
        "t8_iter_min_sec": min(per_iter[lo]),
        "t32_iter_min_sec": min(per_iter[hi]),
        "per_iter_8": per_iter[lo],
        "per_iter_32": per_iter[hi],
        "speedup_8_to_32": round(t8 / t32, 3),
        "efficiency": round(eff, 3),
        "efficiency_min_basis": round(min(per_iter[lo]) / min(per_iter[hi]) / 4.0, 3),
        "throughput_8": round(arcs / t8, 1),
        "throughput_32": round(arcs / t32, 1),
        "arcs": arcs,
        "iters_per_run": iters,
        "runs": runs,
        # steal-immune context: how many cores each leg actually got
        # (process-tree CPU / wall) and the parallel-overhead check
        # (cpu_secs_per_iter should be ~level-independent)
        "legs": [
            {
                "cpus": l["cpus"],
                "median_iter_sec": l["median_iter_sec"],
                "effective_cores": l.get("effective_cores"),
                "cpu_secs_per_iter": l.get("cpu_secs_per_iter"),
            }
            for l in legs
        ],
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
