"""Reads of Spark's own bookkeeping for the traced run: jobs by job
group, per-stage metrics from the status store, Catalyst phase times
from a query's tracker, streaming progress from a listener, and the
JVM's GC time and memory high-water mark.

These APIs work with ``spark.ui.enabled=false`` on Spark 4.1.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

import stats

# local property set on the thread that starts a rig; Spark's stream
# execution thread inherits it, so the listener can tell which rig a
# started query belongs to
OP_PROPERTY = "perfbench.op"


def _opt_ms(option) -> float | None:
    """Epoch seconds of a Scala Option[Date], or None."""
    return option.get().getTime() / 1000.0 if option.isDefined() else None


@dataclass
class StageRow:
    stage_id: int
    tasks: int
    run_s: float
    shuffle_read_bytes: int
    shuffle_read_records: int
    shuffle_write_bytes: int
    spill_bytes: int
    sched_delay_s: float
    skew: float


@dataclass
class JobRow:
    job_id: int
    start: float
    end: float
    stages: list[StageRow] = field(default_factory=list)


class SparkProbe:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the status store reflects all finished jobs."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[JobRow]:
        rows = []
        tracker = self.sc.statusTracker()
        for jid in sorted(tracker.getJobIdsForGroup(group)):
            try:
                jd = self._store.job(jid)
            except Py4JJavaError:  # evicted from the store
                continue
            start, end = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            if start is None or end is None:
                continue
            row = JobRow(jid, start, end)
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = self._stage(sid)
                if stage is not None:
                    row.stages.append(stage)
            rows.append(row)
        return rows

    def _stage(self, sid: int) -> StageRow | None:
        try:
            sd = self._store.lastStageAttempt(sid)
        except Py4JJavaError:
            return None
        if str(sd.status()) != "COMPLETE":
            return None  # skipped (shuffle reuse) or failed
        submitted, first = _opt_ms(sd.submissionTime()), _opt_ms(sd.firstTaskLaunchedTime())
        skew = 1.0
        quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        summary = self._store.taskSummary(sid, sd.attemptId(), quantiles)
        if summary.isDefined():
            rt = summary.get().executorRunTime()
            skew = stats.skew(rt.apply(0), rt.apply(1))
        return StageRow(
            stage_id=sid,
            tasks=sd.numCompleteTasks(),
            run_s=sd.executorRunTime() / 1000.0,
            shuffle_read_bytes=sd.shuffleReadBytes(),
            shuffle_read_records=sd.shuffleReadRecords(),
            shuffle_write_bytes=sd.shuffleWriteBytes(),
            spill_bytes=sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            sched_delay_s=(first - submitted) if submitted and first else 0.0,
            skew=skew,
        )

    @staticmethod
    def catalyst_ms(df) -> dict[str, float]:
        """Force analysis, optimization and physical planning of the
        frame's own query execution and return each phase's time."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        return {
            k: float(phases.apply(k).durationMs()) if phases.contains(k) else 0.0
            for k in ("analysis", "optimization", "planning")
        }

    def gc_s(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(beans.get(i).getCollectionTime(), 0) for i in range(beans.size())) / 1000.0

    def jvm_hwm_mb(self) -> float:
        """VmHWM (peak resident set) of the JVM process."""
        pid = self.spark._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0


class StreamEvents(StreamingQueryListener):
    """Collects query-start times and micro-batch progress. The start
    callback runs synchronously on the query's own thread, which
    inherited the starting rig's OP_PROPERTY."""

    def __init__(self, spark) -> None:
        self._jsc = spark.sparkContext._jsc.sc()
        self._lock = threading.Lock()
        self.started: list[dict] = []
        self.progress: list[dict] = []

    def clear(self) -> None:
        with self._lock:
            self.started.clear()
            self.progress.clear()

    def onQueryStarted(self, event) -> None:
        row = {
            "op": self._jsc.getLocalProperty(OP_PROPERTY),
            "name": event.name,
            "run_id": str(event.runId),
            "t": time.time(),
        }
        with self._lock:
            self.started.append(row)

    def onQueryProgress(self, event) -> None:
        p = event.progress
        row = {
            "name": p.name,
            "run_id": str(p.runId),
            "batch": p.batchId,
            "rows": p.numInputRows,
            "timestamp": p.timestamp,
            "duration_ms": dict(p.durationMs),
            "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        }
        with self._lock:
            self.progress.append(row)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def python_maxrss_mb() -> float:
    """Peak resident set of this Python process."""
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat; the
    difference of two readings gives the share of CPU time the
    hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]
