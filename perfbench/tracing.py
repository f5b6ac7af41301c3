"""Layer tracing from outside the engine.

Nothing here patches the package. Every number is read through a public
Spark surface while the workload calls the package's public entry
points:

- job groups set around each read (``SparkContext.setJobGroup``), read
  back through the status tracker (jobs and tasks per op);
- the DataFrame's ``queryExecution().tracker()`` for plan phases;
- a ``StreamingQueryListener`` for each micro-batch's ``durationMs``;
- the application status store (``statusStore()``) for jobs per batch,
  task, shuffle, spill and GC totals, and the SQL status store for the
  time of each sink write, matched by its output path and batch id.

A traced phase runs the same workload as an untraced one; the
difference in throughput is reported as ``trace.overhead_pct``.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

#: The output path of a sink write, from its physical-plan description.
_WRITE_TARGET = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\n(?:.*\n)*?Arguments: (?:file:)?([^,\s]+)"
)
#: Job-group prefix of work the tracer itself submits (the noop-sink
#: reruns); the Spark runtime totals leave these jobs out.
TRACE_GROUP = "perfbench-trace"
PLAN_PHASES = ("analysis", "optimization", "planning")


def _opt(o):
    """Scala ``Option`` -> value or None."""
    return o.get() if o.isDefined() else None


def median(values, default=0.0):
    values = list(values)
    return float(statistics.median(values)) if values else default


class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch's progress (durations, input rows,
    trigger start) keyed by (runId, batchId). Progress events arrive on
    Spark's listener bus after the batch commits, so readers call
    :meth:`wait_for` before using them."""

    def __init__(self):
        self.batches: dict[tuple[str, int], dict] = {}
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "run_id": str(p.runId),
            "batch_id": int(p.batchId),
            "rows": int(p.numInputRows),
            "duration_ms": {k: int(v) for k, v in dict(p.durationMs).items()},
            "recorded": time.time(),
        }
        with self._cv:
            self.batches[(rec["run_id"], rec["batch_id"])] = rec
            self._cv.notify_all()

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, n_batches: int, timeout_s: float = 30.0) -> list[dict]:
        """Wait until ``n_batches`` batches that read input have reported."""
        deadline = time.monotonic() + timeout_s
        with self._cv:
            while sum(1 for b in self.batches.values() if b["rows"]) < n_batches:
                left = deadline - time.monotonic()
                if left <= 0:
                    break
                self._cv.wait(left)
            return sorted(self.batches.values(), key=lambda r: r["recorded"])


class Tracer:
    """Reads layer metrics for one traced phase of a workload."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.listener = ProgressListener()
        spark.streams.addListener(self.listener)
        self._n = 0
        self._lock = threading.Lock()

    def close(self):
        self.spark.streams.removeListener(self.listener)

    # -- reads ------------------------------------------------------------

    def traced_read(self, kind: str, build):
        """Run one read as the untraced path does (build the frame,
        ``toPandas``), then read its layers: plan phases from the frame's
        query execution, jobs/tasks from its job group, and the result
        transport as ``toPandas`` minus a noop-sink run of the same
        frame. Returns ``(pdf, elapsed_s, layers)``."""
        with self._lock:
            self._n += 1
            n = self._n
        group = f"perfbench-{kind}-{n}"
        self.sc.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            df = build()
            pdf = df.toPandas()
            elapsed = time.perf_counter() - t0
        finally:
            self.sc.setJobGroup(f"{TRACE_GROUP}-{n}", "noop rerun")
        # read the phases before the noop write: the writer plans its
        # command on the same tracker, which would stretch each phase
        # over the whole toPandas run
        phases = df._jdf.queryExecution().tracker().phases()
        plan_ms = 0.0
        for name in PLAN_PHASES:
            ph = _opt(phases.get(name))
            if ph is not None:
                plan_ms += ph.durationMs()
        try:
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            noop = time.perf_counter() - t1
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        jobs = list(self.sc.statusTracker().getJobIdsForGroup(group))
        tasks = sum(int(self.store.job(j).numTasks()) for j in jobs)
        return pdf, elapsed, {
            "ms": elapsed * 1000.0,
            "plan_ms": plan_ms,
            "jobs": len(jobs),
            "tasks": tasks,
            "transport_ms": (elapsed - noop) * 1000.0,
        }

    # -- streaming --------------------------------------------------------

    def batch_layers(self, run_ids: set[str], sink_paths: dict[str, str]) -> list[dict]:
        """Per micro-batch of the given streaming runs: listener
        durations, jobs and tasks (jobs carry the stream's run id as
        their group and ``batch = N`` in their description), the gate
        (the one ``CollectLimit`` execution, when the ingest has one)
        and the time of each sink write, matched by its output path."""
        per_batch: dict[tuple[str, int], dict] = {}
        for rec in self.listener.batches.values():
            if rec["run_id"] in run_ids and rec["rows"]:  # skip triggers with no new file
                per_batch[(rec["run_id"], rec["batch_id"])] = {
                    **rec, "jobs": 0, "tasks": 0, "writes": {}, "gate_ms": 0.0,
                }
        jobs = self.store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            key = self._batch_key(_opt(j.jobGroup()), _opt(j.description()))
            if key in per_batch:
                per_batch[key]["jobs"] += 1
                per_batch[key]["tasks"] += int(j.numTasks())
        execs = self.sql_store.executionsList()
        sink_of = {os.path.normpath(path): name for name, path in sink_paths.items()}
        for i in range(execs.size()):
            e = execs.apply(i)
            run_id = _run_id_of(e.description())
            key = self._batch_key(run_id, e.description())
            if key not in per_batch:
                continue
            done = _opt(e.completionTime())
            if done is None:
                continue
            ms = float(done.getTime() - e.submissionTime())
            plan = e.physicalPlanDescription()
            root = plan.split("\n", 2)[1] if "\n" in plan else ""
            target = _WRITE_TARGET.search(plan)
            if target:
                name = sink_of.get(os.path.normpath(target.group(1)))
                if name is not None:
                    w = per_batch[key]["writes"]
                    w[name] = w.get(name, 0.0) + ms
            elif root.startswith("CollectLimit"):
                per_batch[key]["gate_ms"] += ms
        return sorted(per_batch.values(), key=lambda r: r["recorded"])

    @staticmethod
    def _batch_key(group, description):
        if not group or not description:
            return None
        m = re.search(r"batch = (\d+)", description)
        return (group, int(m.group(1))) if m else None

    # -- Spark runtime ----------------------------------------------------

    def job_watermark(self) -> int:
        """Highest job id so far; runtime totals count jobs above it."""
        jobs = self.store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def runtime(self, after_job: int) -> dict:
        """Task, run-time, shuffle, spill and GC totals over the jobs
        submitted after ``after_job``, leaving out the tracer's own
        jobs. Stages shared by several jobs count once."""
        jobs = self.store.jobsList(None)
        stage_ids = set()
        for i in range(jobs.size()):
            j = jobs.apply(i)
            group = _opt(j.jobGroup()) or ""
            if j.jobId() <= after_job or group.startswith(TRACE_GROUP):
                continue
            ids = j.stageIds()
            stage_ids.update(int(ids.apply(k)) for k in range(ids.size()))
        tot = dict(tasks=0, failed=0, run_ms=0, shuffle_write=0, spill=0, gc_ms=0)
        for sid in stage_ids:
            try:
                s = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted from the store's retained window
                continue
            tot["tasks"] += int(s.numCompleteTasks()) + int(s.numFailedTasks())
            tot["failed"] += int(s.numFailedTasks())
            tot["run_ms"] += int(s.executorRunTime())
            tot["shuffle_write"] += int(s.shuffleWriteBytes())
            tot["spill"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
            tot["gc_ms"] += int(s.jvmGcTime())
        return tot


def _run_id_of(description: str | None):
    if not description:
        return None
    m = re.search(r"runId = ([0-9a-f-]+)", description)
    return m.group(1) if m else None
