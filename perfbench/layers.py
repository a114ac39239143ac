"""Per-layer probes for the traced run, read from Spark's own status
APIs and from the process table. Nothing here runs in an untraced run
except ``peak_rss_mb``.

Attribution is by job-id range: the highest job id is read before and
after each operation, and every job in between belongs to it. Job
groups would miss the curation build, which submits jobs from its own
thread pool.
"""

from __future__ import annotations

import time

from etl_portfolio_tracker_spark.streaming.listeners import ProgressLog


class SparkStatus:
    """Jobs, stages, tasks and executor work per operation."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every queued event
        (job and stage updates reach the status store through it);
        raises if that takes over 30 s."""
        self._bus.waitUntilEmpty(30_000)

    def last_job_id(self) -> int:
        self.drain()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.head().jobId() if jobs.size() else -1

    def work_since(self, job_id: int) -> dict:
        """Totals over the jobs with an id above ``job_id``."""
        self.drain()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0,
               "cpu_s": 0.0, "shuffle_write_bytes": 0,
               "shuffle_read_bytes": 0, "spill_bytes": 0}
        stage_ids: set[int] = set()
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            job = it.next()
            if job.jobId() <= job_id:
                break
            out["jobs"] += 1
            sids = job.stageIds()
            stage_ids.update(sids.apply(i) for i in range(sids.size()))
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["run_s"] += st.executorRunTime() / 1e3
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_bytes"] += (st.memoryBytesSpilled()
                                   + st.diskBytesSpilled())
        return out


def plan(df) -> dict:
    """Force Catalyst to produce the physical plan and read its phase
    tracker. Analysis mostly runs while the frame is built, so its
    time is also inside ``operators.construct_s``."""
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    qe.executedPlan()
    out = {"plan_s": time.perf_counter() - t0}
    phases = qe.tracker().phases()
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[f"{name}_s"] = p.get().durationMs() / 1e3 if p.isDefined() else 0.0
    return out


def noop_run_s(df) -> float:
    """Execute the frame into Spark's ``noop`` sink: all the work of
    the query except the result fetch."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def persisted_storage(spark) -> tuple[int, int]:
    """Persisted RDDs and the bytes they hold, memory plus disk."""
    jsc = spark.sparkContext._jsc.sc()
    infos = jsc.getRDDStorageInfo()
    return (jsc.getPersistentRDDs().size(),
            sum(i.memSize() + i.diskSize() for i in infos))


def peak_rss_mb(*pids: int) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024


class StreamLog(ProgressLog):
    """``ProgressLog`` plus the dedup state size of each micro-batch."""

    def onQueryProgress(self, event) -> None:
        super().onQueryProgress(event)
        ops = event.progress.stateOperators
        self.batches[-1]["state_rows"] = ops[0].numRowsTotal if ops else 0
