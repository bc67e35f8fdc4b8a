"""Counters read from Spark's status stores around one benchmark call.

A call is a closed-loop unit of work (one job, one batch); the
benchmark issues nothing else while it runs, so the jobs it caused are
exactly those submitted after the call started. Jobs the program
submits from helper threads carry no job group, which is why jobs are
selected by id window rather than by group; the group is still set so
the call is labelled in Spark's own records.
"""

from __future__ import annotations

import re

PY_TIME_METRIC = "time to run Python workers"
RECENT = 500  # SQL executions scanned back from the newest
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


class StatusReader:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self._conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        self.cores = self.sc.defaultParallelism

    def _list(self, seq):
        return list(self._conv.asJava(seq))

    def _store(self):
        return self.sc._jsc.sc().statusStore()

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def last_job_id(self) -> int:
        return self.sc._jsc.sc().dagScheduler().nextJobId() - 1

    def last_execution_id(self) -> int:
        n = self._sql_store().executionsCount()
        if not n:
            return -1
        return self._list(self._sql_store().executionsList(n - 1, 1))[0] \
            .executionId()

    def _executions_after(self, after_exec: int) -> list:
        sql = self._sql_store()
        n = sql.executionsCount()
        recent = self._list(sql.executionsList(max(n - RECENT, 0), RECENT))
        return [e for e in recent if e.executionId() > after_exec]

    # -- leaks -------------------------------------------------------------

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def cached_plans(self) -> int:
        return self.spark._jsparkSession.sharedState().cacheManager() \
            .cachedData().size()

    def release_leaks(self) -> tuple[int, int]:
        """Count then drop cached plans and persisted RDDs, so no call
        is served from blocks another call left behind."""
        rdds, plans = self.persisted_rdds(), self.cached_plans()
        self.spark.catalog.clearCache()
        for rdd in self.sc._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
        if self.persisted_rdds() or self.cached_plans():
            raise RuntimeError("cached state survived release")
        return rdds, plans

    # -- per-call counters -------------------------------------------------

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores hold the last stage's completion and every job's
        start."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def call_counters(self, after_job: int, wall_s: float) -> dict:
        """Status-store totals of every job submitted after
        ``after_job``, for a call of ``wall_s`` seconds (taken before
        this waits for the listener bus)."""
        self.drain()
        store = self._store()
        jobs = [store.job(i)
                for i in range(after_job + 1, self.last_job_id() + 1)]
        stage_ids = sorted({s for j in jobs for s in self._list(j.stageIds())})
        c = {"jobs": len(jobs), "stages": 0, "tasks": 0, "task_run_s": 0.0,
             "task_cpu_s": 0.0, "gc_s": 0.0, "max_task_s": 0.0,
             "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
             "spill_mb": 0.0}
        intervals = []
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its output was reused
            c["stages"] += 1
            c["tasks"] += st.numCompleteTasks()
            c["task_run_s"] += st.executorRunTime() / 1e3
            c["task_cpu_s"] += st.executorCpuTime() / 1e9
            c["gc_s"] += st.jvmGcTime() / 1e3
            c["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            c["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
            c["spill_mb"] += (st.memoryBytesSpilled()
                              + st.diskBytesSpilled()) / 1e6
            if st.submissionTime().isDefined() \
                    and st.completionTime().isDefined():
                intervals.append((st.submissionTime().get().getTime(),
                                  st.completionTime().get().getTime()))
            for t in self._list(store.taskList(sid, st.attemptId(), 100000)):
                if t.duration().isDefined():
                    c["max_task_s"] = max(c["max_task_s"],
                                          t.duration().get() / 1e3)
        covered = _union_ms(intervals) / 1e3
        c["sched_gap_s"] = max(wall_s - covered, 0.0)
        c["busy_ratio"] = c["task_run_s"] / (wall_s * self.cores)
        return c

    def write_seconds(self, after_exec: int, path_part: str) -> float:
        """Summed duration of SQL executions after ``after_exec`` that
        write files under a path containing ``path_part``."""
        total = 0.0
        for e in self._executions_after(after_exec):
            plan = e.physicalPlanDescription()
            if e.completionTime().isDefined() \
                    and "InsertIntoHadoopFsRelationCommand" in plan \
                    and path_part in plan:
                total += (e.completionTime().get().getTime()
                          - e.submissionTime()) / 1e3
        return total

    def python_udf_s(self, after_exec: int) -> float:
        """Summed Arrow-eval Python worker time of SQL executions after
        ``after_exec``, from the SQL metrics of their plan nodes."""
        sql = self._sql_store()
        total = 0.0
        for e in self._executions_after(after_exec):
            eid = e.executionId()
            acc_ids = [m.accumulatorId()
                       for n in self._list(sql.planGraph(eid).allNodes())
                       for m in self._list(n.metrics())
                       if m.name() == PY_TIME_METRIC]
            if not acc_ids:
                continue
            values = self._conv.asJava(sql.executionMetrics(eid))
            for a in acc_ids:
                total += _metric_seconds(values.get(a))
        return total


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def _metric_seconds(text: str | None) -> float:
    """Total of a formatted SQL timing metric: its first value, e.g.
    ``"total (min, med, max ...)\\n1.2 s (...)"`` or ``"340 ms"``."""
    if not text:
        return 0.0
    body = text.split("\n", 1)[-1]
    m = re.match(r"\s*([\d.,]+)\s*(ms|s|m|h)\b", body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]
