"""Per-layer measurement, collected from outside the program.

* ``Spans`` times the benchmark's calls into each module's public
  functions (one named span per layer boundary, kept in memory).
* ``spark_since`` reads Spark's own ``AppStatusStore`` for the jobs,
  stages and tasks created after a high-water mark, the method
  ``shuffle_metrics.py`` uses for shuffle rows.
* ``BatchListener`` records ``StreamingQueryProgress`` per
  micro-batch.

Only a traced run pays for listener-bus drains and status-store
reads; a span costs one ``perf_counter`` pair in either run.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


def _drain_listener_bus(spark: SparkSession) -> None:
    """The status store is fed by an asynchronous listener bus; wait
    until it has delivered every event posted so far."""
    spark._jsc.sc().listenerBus().waitUntilEmpty()


def _stage_list(spark: SparkSession):
    """Every stage attempt the status store retains. Kept here rather
    than imported from ``shuffle_metrics``, whose helpers are private:
    the benchmark reads Spark directly so it measures the program from
    outside."""
    store = spark._jsc.sc().statusStore()
    args = [spark.sparkContext._jvm.java.util.ArrayList()]
    args += [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
    lst = store.stageList(*args)
    return [lst.apply(i) for i in range(lst.size())]


class Spans:
    """Named wall-time spans of one operation."""

    def __init__(self):
        self.seconds: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] += time.perf_counter() - t


def _opt_ms(opt) -> float | None:
    """Scala ``Option[java.util.Date]`` → epoch ms, or None."""
    return float(opt.get().getTime()) if opt.isDefined() else None


class Mark:
    """Stage/job high-water marks and wall clock at a point in time."""

    def __init__(self, spark: SparkSession):
        _drain_listener_bus(spark)
        store = spark._jsc.sc().statusStore()
        self.stage = max((s.stageId() for s in _stage_list(spark)),
                         default=-1)
        self.job = max((j.jobId() for j in _job_list(spark, store)),
                       default=-1)
        self.wall_ms = time.time() * 1000.0


def _job_list(spark: SparkSession, store):
    lst = store.jobsList(spark.sparkContext._jvm.java.util.ArrayList())
    return [lst.apply(i) for i in range(lst.size())]


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def spark_since(spark: SparkSession, mark: Mark) -> dict[str, float]:
    """Scheduling, executor, shuffle and spill totals of every job
    and stage created after ``mark``, up to now."""
    _drain_listener_bus(spark)
    now_ms = time.time() * 1000.0
    store = spark._jsc.sc().statusStore()
    best = {}
    for s in _stage_list(spark):
        if s.stageId() > mark.stage:
            cur = best.get(s.stageId())
            if cur is None or s.attemptId() > cur.attemptId():
                best[s.stageId()] = s
    stages = list(best.values())
    busy = []
    jobs = 0
    for j in _job_list(spark, store):
        if j.jobId() <= mark.job:
            continue
        jobs += 1
        a = _opt_ms(j.submissionTime())
        if a is not None:
            b = _opt_ms(j.completionTime()) or now_ms
            busy.append((max(a, mark.wall_ms), min(b, now_ms)))
    jvm = spark.sparkContext._jvm
    quant = spark.sparkContext._gateway.new_array(jvm.double, 2)
    quant[0], quant[1] = 0.5, 1.0
    med_sum = max_sum = 0.0
    for s in stages:
        if s.numTasks() < 2:
            continue
        summ = store.taskSummary(s.stageId(), s.attemptId(), quant)
        if summ.isDefined():
            rt = summ.get().executorRunTime()
            med_sum += rt.apply(0)
            max_sum += rt.apply(1)
    run_s = sum(s.executorRunTime() for s in stages) / 1e3
    cpu_s = sum(s.executorCpuTime() for s in stages) / 1e9
    return {
        "driver.idle_s": max(0.0, (now_ms - mark.wall_ms
                                   - _union_ms(busy)) / 1e3),
        "sched.jobs": jobs,
        "sched.stages": len(stages),
        "sched.tasks": sum(s.numTasks() for s in stages),
        "sched.task_skew": max_sum / med_sum if med_sum else 1.0,
        "sched.max_attempt": max((s.attemptId() for s in stages),
                                 default=0),
        "exec.run_s": run_s,
        "exec.cpu_s": cpu_s,
        "exec.noncpu_s": max(0.0, run_s - cpu_s),
        "jvm.gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
        "exec.peak_memory_bytes": max(
            (s.peakExecutionMemory() for s in stages), default=0),
        "shuffle.write_rows": sum(s.shuffleWriteRecords() for s in stages),
        "shuffle.write_bytes": sum(s.shuffleWriteBytes() for s in stages),
        "shuffle.write_s": sum(s.shuffleWriteTime() for s in stages) / 1e9,
        "shuffle.fetch_wait_s": sum(s.shuffleFetchWaitTime()
                                    for s in stages) / 1e3,
        "spill.bytes": sum(s.memoryBytesSpilled() + s.diskBytesSpilled()
                           for s in stages),
    }


class BatchListener(StreamingQueryListener):
    """Micro-batch progress of every streaming query in the session.

    ``detail=False`` keeps only the trigger duration (what
    ``batch_p50_s`` needs); ``detail=True`` also keeps addBatch time
    and the state-operator metrics."""

    def __init__(self, detail: bool):
        self.detail = detail
        self.batches: list[dict] = []
        self.terminated = 0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.numInputRows == 0 and "addBatch" not in p.durationMs:
            return  # idle tick, no batch ran
        b = {"trigger_s": p.durationMs.get("triggerExecution", 0) / 1e3,
             "rows": p.numInputRows}
        if self.detail:
            ops = p.stateOperators
            b.update(add_batch_s=p.durationMs.get("addBatch", 0) / 1e3,
                     commit_s=sum(o.commitTimeMs for o in ops) / 1e3,
                     rows_total=sum(o.numRowsTotal for o in ops),
                     memory_bytes=sum(o.memoryUsedBytes for o in ops))
        self.batches.append(b)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.terminated += 1

    def wait_terminated(self, n: int, timeout_s: float = 30.0) -> None:
        """Progress events arrive on the listener bus after the query
        returns; wait (outside any timed section) until ``n`` queries
        have reported termination."""
        deadline = time.monotonic() + timeout_s
        while self.terminated < n and time.monotonic() < deadline:
            time.sleep(0.05)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0
