"""Per-operation tracing from the benchmark's side of the API.

A traced run records, for every closed-loop operation:

- spans: wall time spent inside selected public functions of the package
  (installed as wrappers by ``Tracer.wrap``), summed per layer name;
- counts: values the workload stores in the operation's record;
- Spark counters: jobs, stages, tasks, failed tasks, shuffle-write and
  spill bytes and executor CPU time of the operation's jobs, read from
  the driver's ``AppStatusStore`` right after the operation (the store
  evicts old stages in a long run), plus the operation's wall time not
  covered by any of its jobs (driver-side planning, Python and py4j).

Spans and counters stay in memory until the run ends. An untraced run
installs no wrapper and reads no counter; ``Tracer.op`` then only times.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.ops: list[dict] = []
        self._current: dict | None = None
        self._seen_jobs: set[int] = set()
        self._active: dict[str, int] = {}
        self._restore: list[tuple[object, str, object]] = []

    # -- operations --------------------------------------------------------

    @contextmanager
    def op(self, kind: str, job_group: str | None = None):
        """Time one operation. Its Spark jobs are those of ``job_group``
        not seen before (a streaming query runs its batches under the
        query's run id), or of a fresh group opened here."""
        sc = self.spark.sparkContext
        rec = {"kind": kind, "spans": {}, "counts": {}}
        own_group = job_group is None
        if self.enabled and own_group:
            job_group = f"perfbench-op-{len(self.ops)}"
            sc.setJobGroup(job_group, kind)
        self._current = rec
        t0 = time.time()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.time() - t0
            self._current = None
            self.ops.append(rec)
            if self.enabled:
                rec["spark"] = self._spark_counters(job_group, t0, t0 + rec["wall_s"])
                if own_group:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def skip_jobs(self, job_group: str) -> None:
        """Leave the jobs ``job_group`` has run so far out of every later
        operation (a streaming query's setup batches run under the same
        run id as its timed ones)."""
        if self.enabled:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            self._seen_jobs.update(
                self.spark.sparkContext.statusTracker().getJobIdsForGroup(job_group))

    @contextmanager
    def span(self, name: str):
        t0 = time.time()
        self._active[name] = self._active.get(name, 0) + 1
        try:
            yield
        finally:
            self._active[name] -= 1
            if self._current is not None:
                spans = self._current["spans"]
                spans[name] = spans.get(name, 0.0) + time.time() - t0

    def wrap(self, owner: object, attr: str, name: str,
             unless_in: str | None = None) -> None:
        """Time every call of ``owner.attr`` as span ``name``, except calls
        made inside span ``unless_in`` (traced runs only; ``unwrap`` puts
        the original back)."""
        if not self.enabled:
            return
        original = getattr(owner, attr)
        tracer = self

        def timed(*args, **kwargs):
            if unless_in is not None and tracer._active.get(unless_in):
                return original(*args, **kwargs)
            with tracer.span(name):
                return original(*args, **kwargs)

        self._restore.append((owner, attr, owner.__dict__.get(attr, _MISSING)))
        setattr(owner, attr, timed)

    def unwrap(self) -> None:
        for owner, attr, original in reversed(self._restore):
            if original is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)
        self._restore.clear()

    # -- Spark status store ------------------------------------------------

    def _spark_counters(self, group: str, t0: float, t1: float) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jobs = [j for j in sc.statusTracker().getJobIdsForGroup(group)
                if j not in self._seen_jobs]
        self._seen_jobs.update(jobs)
        store = jsc.statusStore()
        gw = sc._gateway
        no_tasks = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0, "executor_cpu_s": 0.0,
               "job_starts": []}
        intervals = []
        stage_ids: set[int] = set()
        for job_id in jobs:
            jd = store.job(job_id)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined():
                start = sub.get().getTime() / 1000
                end = done.get().getTime() / 1000 if done.isDefined() else t1
                intervals.append((max(start, t0), min(end, t1)))
            ids = jd.stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        for sid in sorted(stage_ids):
            attempts = store.stageData(sid, False, no_tasks, False, no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["covered_s"] = _union_length(intervals)
        out["driver_s"] = max(0.0, (t1 - t0) - out["covered_s"])
        out["job_starts"] = sorted(s for s, _ in intervals)
        return out


_MISSING = object()


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= max(s, end):
            continue
        total += e - max(s, end)
        end = e
    return total
