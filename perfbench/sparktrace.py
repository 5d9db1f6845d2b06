"""Outside-in tracing of one public call: a Spark job group around the
call, then the driver's status store read right after it (the store
evicts old jobs, so it is read per call, not at the end of the run).

Nothing here reaches into ``bubbles``: the spans are the benchmark's own,
recorded around calls into each layer's public functions.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


def interval_union_s(intervals) -> float:
    """Total length covered by a set of (start, end) intervals, in the
    intervals' unit. Overlaps count once; empty or inverted intervals
    count zero."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        elif hi > cur_hi:
            cur_hi = hi
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _opt_ms(opt):
    """A Scala ``Option[java.util.Date]`` as epoch milliseconds, or None."""
    return opt.get().getTime() if opt.isDefined() else None


def jvm_gc_jit_s(sc) -> tuple[float, float]:
    """(total GC time, total JIT compilation time) of the driver JVM, in
    seconds. In local mode the executors live in the same JVM."""
    mf = sc._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    gc_ms = sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size()))
    return gc_ms / 1e3, mf.getCompilationMXBean().getTotalCompilationTime() / 1e3


class Tracer:
    """Records one span per public call. ``span(name)`` yields a dict that
    is filled when the block exits:

    wall_s, spark_busy_s (union of the call's job intervals),
    driver_only_s (wall - busy), task_s (sum of executorRunTime over the
    stages that ran inside the call), jobs, stages, tasks,
    shuffle_write_mb, gc_s, jit_s.

    ``executorRunTime`` is used, not ``executorCpuTime``: the CPU counter
    leaves out the time tasks wait on their Python workers.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._n = 0
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        group = f"perfbench:{name}:{self._n}"
        self._n += 1
        rec: dict = {"name": name}
        gc0, jit0 = jvm_gc_jit_s(self.sc)
        self.sc.setJobGroup(group, name)
        t0_ms = time.time() * 1e3
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            wall = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            gc1, jit1 = jvm_gc_jit_s(self.sc)
            rec.update(self._read(group, t0_ms, wall))
            rec["gc_s"] = gc1 - gc0
            rec["jit_s"] = jit1 - jit0
            self.spans.append(rec)

    def _read(self, group: str, t0_ms: float, wall: float) -> dict:
        job_ids = self.sc.statusTracker().getJobIdsForGroup(group)
        intervals = []
        stage_ids = set()
        for jid in job_ids:
            jd = self._store.job(jid)
            lo, hi = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            if lo is not None and hi is not None:
                intervals.append((lo, hi))
            seq = jd.stageIds()
            stage_ids.update(int(seq.apply(i)) for i in range(seq.size()))
        task_ms = 0.0
        shuffle_b = 0
        n_stages = n_tasks = 0
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # evicted or never submitted
            sub = _opt_ms(st.submissionTime())
            # a shuffle stage reused from an earlier call keeps its id
            # and its old numbers: count only stages that ran in this one
            if st.status().toString() != "COMPLETE" or sub is None or sub < t0_ms - 1:
                continue
            n_stages += 1
            n_tasks += int(st.numCompleteTasks())
            task_ms += float(st.executorRunTime())
            shuffle_b += int(st.shuffleWriteBytes())
        busy = interval_union_s(intervals) / 1e3
        return {
            "wall_s": wall,
            "spark_busy_s": busy,
            "driver_only_s": max(0.0, wall - busy),
            "task_s": task_ms / 1e3,
            "jobs": len(job_ids),
            "stages": n_stages,
            "tasks": n_tasks,
            "shuffle_write_mb": shuffle_b / 1e6,
        }
