"""The measured process: one Spark session, set-up, then timed passes.

    python3 perfbench/measure.py --workload NAME --seconds S --trace 0|1 \\
        --inputs DIR --scratch DIR --result FILE [--spans FILE]

Protocol: start the session; derive and pin the inputs ``SETUP_REPS``
times (which also warms the session); then run timed passes over the
workload's operations until ``--seconds`` have elapsed, at least one.
Every output is checked after its timer stops.  With ``--trace 1`` the
session retains every job and stage, an untimed warm-up pass runs first,
and passes then alternate between traced (job group plus status-store
read after each call) and untraced, so the per-layer counters and the
tracing overhead come from the same run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.spec import WORKLOADS  # noqa: E402
from perfbench import tracing  # noqa: E402

SETUP_REPS = 3
DRIVER_MEMORY = "2g"
YOUNG_GEN = "512m"
LAYERS = (
    "graph",
    "transforms",
    "pagerank",
    "components",
    "labelprop",
    "triangles",
    "bfs",
    "hyperball",
    "scc",
)
LAYER_COUNTERS = (
    ("s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("driver_gap_s", "s"),
    ("exec_cpu_s", "s"),
    ("shuffle_mb", "MB"),
    ("spill_mb", "MB"),
    ("failed_tasks", "count"),
)
EXTRA_COUNTERS = (
    ("session.start_s", "s"),
    ("graph.load_s", "s"),
    ("graph.store_s", "s"),
    ("graph.decode_s", "s"),
    ("graph.store_mb", "MB"),
    ("pagerank.jobs_per_round", "count"),
    ("checkpoint.s", "s"),
    ("checkpoint.jobs", "count"),
    ("checkpoint.write_mb", "MB"),
    ("checkpoint.resume_s", "s"),
    ("spark.slot_util", "ratio"),
    ("trace.overhead", "ratio"),
)
END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("cpu_s", "s"),
    ("peak_rss_mb", "MB"),
    ("pagerank_s", "s"),
    ("pagerank_arcs_per_s", "1/s"),
    ("bits_per_link", "bits"),
)
MB = 1 << 20


# ---------------------------------------------------------------------------
# process-tree readings from /proc
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()  # fields from 3 (state) on


def tree_cpu_s(root: int) -> float:
    """User+system CPU of ``root`` and its live descendants, including
    what each has reaped from exited children (Python workers)."""
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f:
                parent[int(name)] = int(f[1])
                cpu[int(name)] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    total, todo = 0, [root]
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / _TICK


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# ---------------------------------------------------------------------------
# passes
# ---------------------------------------------------------------------------


class Pass:
    """One pass over the workload's operations."""

    def __init__(self, index: int, traced: bool):
        self.index, self.traced = index, traced
        self.calls: list[dict] = []
        self.elapsed_s = 0.0
        self.checkpoint_mb = 0.0

    def wall(self, pred=lambda c: True) -> float:
        return sum(c["wall_s"] for c in self.calls if pred(c))

    def of(self, name: str) -> dict | None:
        return next((c for c in self.calls if c["op"] == name), None)


def run_call(op, index: int, reader, spans: list, tree: int) -> dict:
    group = f"perfbench:{index}:{op.name}"
    if reader:
        reader.begin(group)
    cpu0 = tree_cpu_s(tree)
    start = time.time()
    t0 = time.perf_counter()
    out, error = None, None
    try:
        out = op.call()
    except Exception:  # a failing call is counted, not fatal
        error = traceback.format_exc()
    wall = time.perf_counter() - t0
    end = time.time()
    cpu = tree_cpu_s(tree) - cpu0
    call = {"op": op.name, "layer": op.layer, "wall_s": wall, "cpu_s": cpu}
    if reader:
        counters = reader.end(group)
        busy = counters.busy_s(start, end)
        call.update(
            jobs=len(counters.jobs),
            tasks=counters.tasks,
            driver_gap_s=max(wall - busy, 0.0),
            exec_cpu_s=counters.exec_cpu_s,
            exec_run_s=counters.exec_run_s,
            shuffle_mb=counters.shuffle_bytes / MB,
            spill_mb=counters.spill_bytes / MB,
            failed_tasks=counters.failed_tasks,
            ungrouped_jobs=counters.ungrouped_jobs,
        )
        span_id = f"{index}:{op.name}"
        spans.append(
            {
                "span": span_id,
                "parent": None,
                "name": op.name,
                "layer": op.layer,
                "pass": index,
                "start": start,
                "end": end,
                "self_s": call["driver_gap_s"],
                **{
                    k: call[k]
                    for k in ("jobs", "ungrouped_jobs", "tasks", "exec_cpu_s", "shuffle_mb", "spill_mb")
                },
            }
        )
        for job in counters.jobs:
            spans.append(
                {
                    "span": f"{span_id}:job{job['job']}",
                    "parent": span_id,
                    "name": f"job {job['job']}",
                    "start": job["start"],
                    "end": job["end"],
                    "stages": job["stages"],
                    "status": job["status"],
                }
            )
    ok = error is None
    if ok:
        try:
            ok = bool(op.check(out))
        except Exception:
            error = traceback.format_exc()
            ok = False
        if not ok and error is None:
            error = "output differs from the oracle"
    call["ok"] = ok
    if error:
        print(f"# FAILED {op.name} (pass {index}): {error}", file=sys.stderr, flush=True)
    return call


def run_pass(wl, ops, index: int, reader, spans: list, tree: int) -> Pass:
    wl.reset()
    if reader:
        reader.sync()
    p = Pass(index, reader is not None)
    t0 = time.perf_counter()
    p.calls = [run_call(op, index, reader, spans, tree) for op in ops]
    p.elapsed_s = time.perf_counter() - t0  # with checks and status-store reads
    p.checkpoint_mb = wl.written_mb("run")
    return p


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def end_to_end(passes, ops, setup_s, peak_mb, bits) -> dict[str, float]:
    pr = {o.name for o in ops if o.layer == "pagerank"}
    fixed = {o.name: o.arc_rounds for o in ops if o.arc_rounds}

    def pr_rate(p: Pass) -> float:
        return sum(fixed.values()) / p.wall(lambda c: c["op"] in fixed)

    return {
        "setup_s": setup_s,
        "wall_s": median(p.wall() for p in passes),
        "cpu_s": median(sum(c["cpu_s"] for c in p.calls) for p in passes),
        "peak_rss_mb": peak_mb,
        "pagerank_s": median(p.wall(lambda c: c["op"] in pr) for p in passes),
        "pagerank_arcs_per_s": median(pr_rate(p) for p in passes),
        "bits_per_link": bits,
    }


def per_layer(traced, untraced, ops, cores: int, extra: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    for layer in LAYERS:
        for key, _unit in LAYER_COUNTERS:
            src = "wall_s" if key == "s" else key
            out[f"{layer}.{key}"] = median(
                sum(c[src] for c in p.calls if c["layer"] == layer) for p in traced
            )
    rounds = {o.name: o.rounds for o in ops if o.rounds}

    def per_call(name: str, key: str) -> float:
        return median(p.of(name)[key] for p in traced if p.of(name))

    total_rounds = sum(rounds.values())
    out["pagerank.jobs_per_round"] = (
        median(sum(p.of(n)["jobs"] for n in rounds) for p in traced) / total_rounds
    )
    for key, src in (("store_s", "store"), ("decode_s", "load_decode")):
        out[f"graph.{key}"] = per_call(src, "wall_s")
    if any(o.name == "pagerank_checkpointed" for o in ops):
        for key, counter in (("s", "wall_s"), ("jobs", "jobs")):
            out[f"checkpoint.{key}"] = median(
                p.of("pagerank_checkpointed")[counter] - p.of("pagerank_fixed")[counter]
                for p in traced
            )
        out["checkpoint.resume_s"] = per_call("pagerank_resumed", "wall_s")
        out["checkpoint.write_mb"] = median(p.checkpoint_mb for p in traced)
    else:
        out.update({f"checkpoint.{k}": 0.0 for k in ("s", "jobs", "resume_s", "write_mb")})
    out["spark.slot_util"] = median(
        sum(c["exec_run_s"] for c in p.calls) / (p.wall() * cores) for p in traced
    )
    out["trace.overhead"] = median(p.elapsed_s for p in traced) / median(
        p.elapsed_s for p in untraced
    )
    out.update(extra)
    return out


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans")
    a = ap.parse_args()
    p = WORKLOADS[a.workload]
    cpus = len(os.sched_getaffinity(0))

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        # a fixed young generation makes the peak RSS track the data the
        # JVM retains rather than where adaptive sizing left the heap
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN}",
    }
    if p["broadcast_threshold"]:
        conf["spark.sql.autoBroadcastJoinThreshold"] = str(p["broadcast_threshold"])
    if a.trace:
        # the defaults keep 1000 of each; one suite pass runs more
        conf["spark.ui.retainedJobs"] = "1000000"
        conf["spark.ui.retainedStages"] = "1000000"

    from webgraph_big_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus, extra_conf=conf)
    session_s = time.perf_counter() - t0
    try:
        from pyspark import SparkContext

        from perfbench.workloads import Workload, broadcast_threshold, pagerank_side

        jvm_pid = SparkContext._gateway.proc.pid
        wl = Workload(spark, p, a.inputs, a.scratch)
        setup_times = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.derive()
            setup_times.append(time.perf_counter() - t0)
        side = pagerank_side(spark, wl.pagerank_nodes())
        if side != p["pagerank_side"]:
            raise SystemExit(
                f"{a.workload}: PageRank takes the {side} path, expected {p['pagerank_side']}"
            )
        ops = wl.ops()
        reader = tracing.StatusStoreReader(spark) if a.trace else None
        spans: list[dict] = []
        me = os.getpid()

        # a traced run compares its traced passes with untraced ones, so
        # it first runs an untraced warm-up pass that neither side counts
        warm = [run_pass(wl, ops, 0, None, spans, me)] if a.trace else []
        passes: list[Pass] = []
        deadline = time.perf_counter() + a.seconds
        min_passes = 2 if a.trace else 1
        while time.perf_counter() < deadline or len(passes) < min_passes:
            index = len(passes) + 1
            traced = a.trace and index % 2 == 1
            passes.append(run_pass(wl, ops, index, reader if traced else None, spans, me))
        peak_mb = vm_hwm_mb(jvm_pid)

        finals = []
        extra_store = wl.final_store()
        if extra_store is not None:
            wl.reset()
            finals.append(run_call(extra_store, len(passes) + 1, None, spans, me))
        bits = wl.store_meta["bits_per_link"]

        calls = [c for q in warm + passes for c in q.calls] + finals
        failed = sum(not c["ok"] for c in calls)
        setup_s = session_s + median(setup_times)
        if a.trace:
            extra = {
                "session.start_s": session_s,
                "graph.load_s": median(setup_times),
                "graph.store_mb": sum(wl.store_meta["files"].values()) / MB,
            }
            traced = [q for q in passes if q.traced]
            untraced = [q for q in passes if not q.traced]
            values = per_layer(traced, untraced, ops, cpus, extra)
            if finals and values["graph.store_s"] == 0.0:
                values["graph.store_s"] = finals[0]["wall_s"]
            names = [(f"{l}.{k}", u) for l in LAYERS for k, u in LAYER_COUNTERS] + list(
                EXTRA_COUNTERS
            )
        else:
            values = end_to_end(passes, ops, setup_s, peak_mb, bits)
            names = list(END_TO_END)
        result = {
            "correct": failed == 0,
            "attempted": len(calls),
            "failed": failed,
            "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in names},
        }
        detail = {
            "pagerank_side": side,
            "pagerank_nodes": wl.pagerank_nodes(),
            "broadcast_threshold": broadcast_threshold(spark),
            "cpus": cpus,
            "driver_memory": DRIVER_MEMORY,
            "passes": len(passes),
            "pass_wall_s": [q.wall() for q in passes],
            "op_wall_s": {o.name: median(q.of(o.name)["wall_s"] for q in passes) for o in ops},
            "setup_times_s": setup_times,
            "session_start_s": session_s,
        }
    finally:
        stop_spark(spark)
    if a.spans and spans:
        with open(a.spans, "w") as fh:
            for s in spans:
                fh.write(json.dumps(s) + "\n")
    with open(a.result, "w") as fh:
        json.dump({"result": result, "detail": detail}, fh)


if __name__ == "__main__":
    main()
