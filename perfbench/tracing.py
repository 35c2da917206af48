"""Per-call Spark counters read from outside the program.

Each timed call runs under its own Spark job group.  After the call
returns, the listener bus is drained and the jobs and stages it added are
read from the driver's status store (``sc._jsc.sc().statusStore()``),
which fills even with ``spark.ui.enabled=false``.  Calls run one after
another, so the jobs added between two reads belong to the call between
them, whichever thread submitted them; jobs from threads the program
starts itself carry no group and are counted as ``ungrouped_jobs``.

A job or stage missing from the store (evicted by ``spark.ui.retained*``)
raises :class:`CountersEvicted`: the counters would be incomplete.
"""

from __future__ import annotations

from dataclasses import dataclass, field

STAGE_FIELDS = (
    "numCompleteTasks",
    "numFailedTasks",
    "executorRunTime",
    "executorCpuTime",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "diskBytesSpilled",
)


class CountersEvicted(RuntimeError):
    pass


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _epoch_s(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


@dataclass
class CallCounters:
    """Counters of one call: its jobs as child spans plus stage totals."""

    jobs: list[dict] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    ungrouped_jobs: int = 0

    def busy_s(self, start: float, end: float) -> float:
        """Part of [start, end] during which at least one job ran."""
        spans = sorted(
            (max(j["start"], start), min(j["end"], end))
            for j in self.jobs
            if j["start"] is not None and j["end"] is not None
        )
        busy, cur_a, cur_b = 0.0, None, None
        for a, b in spans:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                busy += (cur_b - cur_a) if cur_b is not None else 0.0
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            busy += cur_b - cur_a
        return busy


class StatusStoreReader:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        jvm = self.sc._jvm
        self._no_filter = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self.last_job = -1
        self.last_stage = -1
        self.sync()

    def _drain(self) -> None:
        self._bus.waitUntilEmpty(60000)

    def _newest_job_id(self) -> int:
        head = self._store.jobsList(None)
        return head.head().jobId() if head.nonEmpty() else -1

    def _newest_stage_id(self) -> int:
        head = self._stage_list()
        return head.head().stageId() if head.nonEmpty() else -1

    def _stage_list(self):
        return self._store.stageList(
            self._no_filter, False, False, self._no_quantiles, self._no_filter
        )

    def sync(self) -> None:
        """Skip everything that ran so far (set-up, untraced passes)."""
        self._drain()
        self.last_job = max(self.last_job, self._newest_job_id())
        self.last_stage = max(self.last_stage, self._newest_stage_id())

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self, group: str) -> CallCounters:
        """Counters of every job added since the previous read."""
        self._drain()
        out = CallCounters()
        stage_ids: set[int] = set()
        job_ids = []
        for job in _scala_iter(self._store.jobsList(None)):  # newest first
            jid = job.jobId()
            if jid <= self.last_job:
                break
            job_ids.append(jid)
            grp = job.jobGroup()
            if not (grp.isDefined() and grp.get() == group):
                out.ungrouped_jobs += 1
            ids = list(_scala_iter(job.stageIds()))
            stage_ids.update(ids)
            out.jobs.append(
                {
                    "job": jid,
                    "start": _epoch_s(job.submissionTime()),
                    "end": _epoch_s(job.completionTime()),
                    "stages": ids,
                    "status": job.status().toString(),
                }
            )
        if job_ids and sorted(job_ids) != list(range(self.last_job + 1, max(job_ids) + 1)):
            raise CountersEvicted(f"{group}: jobs missing from the status store")
        self.last_job = max(job_ids, default=self.last_job)

        seen: set[int] = set()
        for st in _scala_iter(self._stage_list()):  # newest first
            sid = st.stageId()
            if sid <= self.last_stage:
                break
            seen.add(sid)
            if st.status().toString() == "SKIPPED":
                continue
            v = {f: getattr(st, f)() for f in STAGE_FIELDS}
            out.stages += 1
            out.tasks += v["numCompleteTasks"]
            out.failed_tasks += v["numFailedTasks"]
            out.exec_run_s += v["executorRunTime"] / 1e3
            out.exec_cpu_s += v["executorCpuTime"] / 1e9
            out.shuffle_bytes += v["shuffleReadBytes"] + v["shuffleWriteBytes"]
            out.spill_bytes += v["diskBytesSpilled"]
        missing = {s for s in stage_ids if s > self.last_stage} - seen
        if missing:
            raise CountersEvicted(f"{group}: stages {sorted(missing)[:5]} missing")
        self.last_stage = max(seen, default=self.last_stage)
        return out
