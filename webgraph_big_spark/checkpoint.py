"""Iteration driver: convergence loops with checkpoint/resume + metrics.

The reference's iterative algorithms run in-place over big arrays with a
barrier per round (``algo/ParallelBreadthFirstVisit.java:272``,
``algo/HyperBall.java:1000``).  The Spark analogue is a driver loop over
state DataFrames where each round is a job; this module adds what Spark
does not give for free (SURVEY.md §4):

- **lineage truncation**: iterative plans grow unboundedly, so every
  round's state is eagerly ``localCheckpoint``-ed (the Spark analogue of
  the reference's in-place arrays).
- **one way to end**: ``step`` returns only the round's plan, and
  ``check(new, it)`` is the only channel for the round's change count,
  read after the checkpoint (typically from an ``observe``-d metric of
  that same job).  A count of 0 is a fixpoint and ends the loop; a fixed
  round count ends on ``max_iterations`` alone, so ``converged`` means
  a real fixpoint, never "ran out of rounds".
- **resumability** (north rule): every ``checkpoint_every`` rounds the
  state is written to parquet — exactly one Spark job, the write itself.
  Each checkpoint directory carries a manifest: iteration, ``rows``,
  ``partition_sizes`` (rows per written part file, read from the parquet
  footers, so the manifest costs no Spark job), the round's ``changed``
  and ``converged`` (its ``check`` returned 0).  A new run with the same
  ``run_dir`` restarts from the latest complete checkpoint and
  reproduces the same final state; when that checkpoint is marked
  ``converged`` it returns the checkpointed state at once, running no
  round, appending no ``runs.jsonl`` record and writing no checkpoint.
  A manifest without the key (an older run dir) resumes as unconverged.
  ``converged`` holds only under the parameters the manifest copies from
  the run dir's ``params.json`` (written by :func:`record_params`, e.g.
  PageRank's ``tol``, ``alpha``, ``fixed_iterations``); a call whose
  ``params.json`` differs resumes as unconverged.
  Only the newest ``KEEP_CHECKPOINTS`` complete checkpoints are kept:
  once a new manifest has committed, every older ``iter_*`` directory is
  deleted, so a loop that checkpoints every round holds a bounded amount
  of disk and a kill during a write still leaves a complete one to
  resume from.
- **per-iteration metrics**: rows (an ``observe``-d ``count(*)`` read
  off the round's own ``localCheckpoint``, so no extra job), rows
  changed and wall time — kept in ``IterationResult.metrics`` and, with
  a ``run_dir``, appended to ``runs.jsonl`` (the lineage/metrics table).

Checkpoints are plain parquet directories, written with the engine's one
parquet encoding (:data:`webgraph_big_spark.graph.PARQUET_WRITE_OPTIONS`:
v2 data pages under zstd, about half the bytes of v1 pages under
snappy); a run dir written under other options still resumes, since the
reader decodes whatever a file declares.  On a cluster deployment the
same layout maps 1:1 onto an Iceberg table with snapshot-per-iteration
(this sandbox has no Iceberg runtime jar, so the implementation targets
the lowest common denominator while keeping the write pattern —
overwrite-by-directory, manifest-commit-last — atomic in the same way).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from webgraph_big_spark.graph import PARQUET_WRITE_OPTIONS

# complete checkpoints a run_dir keeps; older ones go once a newer commits
KEEP_CHECKPOINTS = 3

PARAMS_FILE = "params.json"


def record_params(run_dir: str, **params) -> None:
    """Write the parameters that decide a loop's result to ``run_dir``;
    a converged checkpoint written under other parameters then resumes
    as unconverged."""
    os.makedirs(run_dir, exist_ok=True)
    tmp = os.path.join(run_dir, PARAMS_FILE + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(params, fh, sort_keys=True)
    os.replace(tmp, os.path.join(run_dir, PARAMS_FILE))


@dataclass
class IterationResult:
    state: DataFrame
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


class IterativeRunner:
    """Run ``state = step(state, it)`` until ``check`` reports no change
    or ``max_iterations`` rounds have run, with checkpoints."""

    def __init__(
        self,
        spark: SparkSession,
        run_dir: str | None = None,
        checkpoint_every: int = 5,
        max_iterations: int = 200,
    ):
        self.spark = spark
        self.run_dir = run_dir
        self.checkpoint_every = checkpoint_every
        self.max_iterations = max_iterations

    # -- checkpoint bookkeeping ------------------------------------------
    def _ckpt_dir(self, it: int) -> str:
        return os.path.join(self.run_dir, f"iter_{it:06d}")

    def _manifest_path(self, it: int) -> str:
        return os.path.join(self._ckpt_dir(it), "manifest.json")

    def _complete(self) -> list[int]:
        """Iterations with a *complete* manifest, ascending (the manifest
        is written after the parquet commit, so its presence proves
        completeness)."""
        if not self.run_dir or not os.path.isdir(self.run_dir):
            return []
        return sorted(
            int(name.split("_")[1])
            for name in os.listdir(self.run_dir)
            if name.startswith("iter_")
            and os.path.exists(os.path.join(self.run_dir, name, "manifest.json"))
        )

    def latest_checkpoint(self) -> int | None:
        """Latest iteration with a complete checkpoint."""
        its = self._complete()
        return its[-1] if its else None

    def _write_checkpoint(self, state: DataFrame, it: int, changed: int | None) -> None:
        d = self._ckpt_dir(it)
        data = os.path.join(d, "state")
        state.write.options(**PARQUET_WRITE_OPTIONS).mode("overwrite").parquet(data)
        part_sizes = [
            pq.read_metadata(os.path.join(data, name)).num_rows
            for name in sorted(os.listdir(data))
            if name.endswith(".parquet")
        ]
        manifest = {
            "iteration": it,
            "rows": sum(part_sizes),
            "partition_sizes": part_sizes,
            "ts": time.time(),
            "changed": changed,
            "converged": changed == 0,
            "params": self._params(),
        }
        tmp = self._manifest_path(it) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, self._manifest_path(it))  # commit point
        kept = self._complete()[-KEEP_CHECKPOINTS:]
        for name in os.listdir(self.run_dir):
            if name.startswith("iter_") and int(name.split("_")[1]) < kept[0]:
                shutil.rmtree(os.path.join(self.run_dir, name), ignore_errors=True)

    def _params(self) -> dict | None:
        path = os.path.join(self.run_dir, PARAMS_FILE)
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return json.load(fh)

    def _load_checkpoint(self, it: int) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self._ckpt_dir(it), "state"))

    def _log_run(self, rec: dict) -> None:
        if self.run_dir:
            os.makedirs(self.run_dir, exist_ok=True)
            with open(os.path.join(self.run_dir, "runs.jsonl"), "a") as fh:
                fh.write(json.dumps(rec) + "\n")

    # -- the loop ----------------------------------------------------------
    def run(
        self,
        initial: Callable[[], DataFrame],
        step: Callable[[DataFrame, int], DataFrame],
        check: Callable[[DataFrame, int], int | None] | None = None,
        durable: Callable[[DataFrame], DataFrame] | None = None,
    ) -> IterationResult:
        """``step(state, it) -> new_state_plan``; ``check(new, it) ->
        changed_or_None`` runs *after* the new state is materialized (so
        metrics the step ``observe``-d are readable and a probe hits
        checkpointed data, not a recompute).  ``check`` is the only way a
        round reports a change count: 0 is a fixpoint and ends the loop,
        None means unknown.  A fixed round count ends on
        ``max_iterations`` alone, and then ``converged`` is False.
        ``durable(state)`` is what a durable checkpoint writes and a
        resumed run starts from (default: the state itself).

        Every iteration the new state is **eagerly localCheckpoint-ed**:
        iterative DataFrame plans otherwise grow without bound and
        Catalyst re-optimization time explodes within ~5 rounds
        (SURVEY.md §7 hard part 4 — the Spark analogue of the reference's
        in-place big arrays).  Durable parquet checkpoints (resume path)
        happen every ``checkpoint_every`` rounds on top, and once more at
        the end unless the last round was just written.  A resumed run
        whose checkpoint is marked ``converged`` under the run dir's
        current ``params.json`` runs no round.
        """
        metrics: list[dict] = []
        it = written = 0  # written: iteration whose state is already durable
        converged = False
        latest = self.latest_checkpoint()
        if latest is not None:
            state = self._load_checkpoint(latest)
            it = written = latest
            with open(self._manifest_path(latest)) as fh:
                manifest = json.load(fh)
            # a fixpoint of another stop rule is only a starting point
            same_rule = manifest.get("params") == self._params()
            converged = manifest.get("converged", False) and same_rule
        else:
            state = initial()
        state = state.localCheckpoint(eager=True)
        to_disk = durable or (lambda s: s)

        changed = None
        while not converged and it < self.max_iterations:
            t0 = time.time()
            rows = Observation()
            # truncate lineage; the row count rides on the same job
            state = (
                step(state, it)
                .observe(rows, F.count(F.lit(1)).alias("rows"))
                .localCheckpoint(eager=True)
            )
            changed = check(state, it) if check is not None else None
            converged = changed == 0
            it += 1
            rec = {
                "iteration": it,
                "rows": rows.get["rows"],
                "changed": changed,
                "sec": time.time() - t0,
            }
            metrics.append(rec)
            self._log_run(rec)
            if self.run_dir and it % self.checkpoint_every == 0:
                self._write_checkpoint(to_disk(state), it, changed)
                written = it
        if self.run_dir and written != it:
            # final checkpoint so a resumed run sees the last state
            self._write_checkpoint(to_disk(state), it, changed)
        return IterationResult(state=state, iterations=it, converged=converged, metrics=metrics)
