"""Benchmark entry point: generate inputs, measure, print one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The inputs are generated from ``--seed``
in a process of their own; the measurement then runs in a fresh process
(``measure.py``) with an explicit driver memory and all Spark, JVM and
Python temporary files kept under ``perfbench/_work/``.  With
``--trace 0`` the last stdout line carries the end-to-end metrics, with
``--trace 1`` the per-layer ones, and the traced run's spans go to
``perfbench/_work/spans/``.  Every result is appended, together with the
host state it was measured in, to ``perfbench/_work/results.jsonl``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
TIME_LIMIT_S = 170
PROGRAM = ("webgraph_big_spark", "__spark_entry__.py", "tests/oracle.py")


def host_state() -> dict:
    with open("/proc/meminfo") as fh:
        mem = dict(line.split(":", 1) for line in fh)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_available_mb": int(mem["MemAvailable"].split()[0]) // 1024,
        "loadavg": list(os.getloadavg()),
    }


def source_version() -> dict:
    """The git commit when there is one, and always a digest of the
    program's source files, so results from a plain checkout are tied to
    the code that produced them."""
    digest = hashlib.sha256()
    for base, dirs, files in os.walk(os.path.join(ROOT, "webgraph_big_spark")):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    digest.update(fh.read())
    with open(os.path.join(ROOT, "__spark_entry__.py"), "rb") as fh:
        digest.update(fh.read())
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        sha = None
    from importlib.metadata import version

    return {"git_sha": sha, "source_sha256": digest.hexdigest(), "pyspark": version("pyspark")}


def run_child(argv: list[str], deadline: float, env: dict) -> None:
    """Run one step in its own process group and wait for all of it."""
    proc = subprocess.Popen(
        [sys.executable, *argv], cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True
    )
    try:
        code = proc.wait(timeout=max(deadline - time.monotonic(), 1))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"{argv[0]} exceeded the time limit")
    if code != 0:
        raise SystemExit(f"{argv[0]} exited with {code}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + TIME_LIMIT_S

    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        raise SystemExit(f"program files not found next to perfbench/: {missing}")
    sys.path.insert(0, ROOT)
    from perfbench.spec import WORKLOADS

    if a.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {a.workload!r}; known: {sorted(WORKLOADS)}")

    before = host_state()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k) for k in ("inputs", "scratch", "tmp", "spark-local")}
    for d in dirs.values():
        os.makedirs(d)
    os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
    env = dict(
        os.environ,
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["spark-local"],
        # every JVM, the launcher's too: no hsperfdata files under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
    )
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    result_file = os.path.join(run_dir, "result.json")
    spans = os.path.join(WORK, "spans", f"{a.workload}-seed{a.seed}-{os.getpid()}.jsonl")
    try:
        run_child(
            ["perfbench/gen.py", "--workload", a.workload, "--seed", str(a.seed),
             "--out", dirs["inputs"]],
            deadline,
            env,
        )
        run_child(
            ["perfbench/measure.py", "--workload", a.workload, "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--inputs", dirs["inputs"], "--scratch", dirs["scratch"],
             "--result", result_file, "--spans", spans],
            deadline,
            env,
        )
        with open(result_file) as fh:
            out = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    record = {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "trace": a.trace,
        "host_before": before,
        "host_after": host_state(),
        **source_version(),
        **out,
    }
    if a.trace:
        record["spans_file"] = os.path.relpath(spans, ROOT)
    with open(os.path.join(WORK, "results.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    print(json.dumps({k: v for k, v in record.items() if k != "result"}), file=sys.stderr)
    print(json.dumps(out["result"]), flush=True)


if __name__ == "__main__":
    main()
