"""Spans around the benchmark's calls into each layer, with counters read
from Spark's own status store.

A span records name, start, end, parent and run id.  Spark jobs are
assigned to a span by job-id watermark: the span owns every job whose id
the DAG scheduler handed out between the span's start and end.  A job
group set on this thread would miss jobs that the program submits from
its own worker threads (``build_star_schema`` uses a thread pool); the
watermark does not.  Counters are read when each span ends, because the
status store keeps only the last ``spark.ui.retainedStages`` stages.

With tracing off, ``Tracer.span`` is a no-op context manager and nothing
is read from the JVM.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTERS = (
    "self_s",
    "driver_s",
    "executor_run_s",
    "stages",
    "tasks",
    "failed_tasks",
    "shuffle_write_bytes",
    "spill_bytes",
)
# stage states that ran tasks; SKIPPED stages reuse an earlier shuffle
RAN = {"COMPLETE", "FAILED"}


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run_id: str
    # harness spans (output checks) are the benchmark's own work: they are
    # excluded from their parent's wall time and from its self time
    harness: bool = False
    end: float = 0.0
    jobs: int = 0
    counters: dict[str, float] = field(default_factory=dict)
    job0: int = 0
    stage0: int = 0


class StatusStore:
    """Read per-span counters from Spark's ``AppStatusStore``."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._gw = sc._gateway

    def watermarks(self) -> tuple[int, int]:
        """The next job id and the next stage id the scheduler will use."""
        dag = self._jsc.dagScheduler()
        return int(dag.numTotalJobs()), int(dag.nextStageId())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store reflects every job that has returned to the caller."""
        self._jsc.listenerBus().waitUntilEmpty()

    def stage_list(self):
        # all five arguments must be passed through py4j: statuses (None =
        # all), details, withSummaries, unsortedQuantiles, taskStatus
        return self._jsc.statusStore().stageList(
            None, False, False,
            self._gw.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )

    def counters(
        self, jobs: range, stages: range, start: float, end: float
    ) -> dict:
        """Counters of the jobs with ids in ``jobs``, which ran inside the
        wall interval ``[start, end]`` (seconds since the epoch).  Only
        stages created inside the span (ids in ``stages``) count: a stage
        an earlier span already ran shows up again, skipped, in a later
        job that reuses its shuffle output."""
        store = self._jsc.statusStore()
        stage_ids: set[int] = set()
        intervals: list[tuple[float, float]] = []
        for j in jobs:
            jd = store.job(j)
            ids = jd.stageIds()
            stage_ids.update(
                sid for sid in (int(ids.apply(i)) for i in range(ids.size()))
                if sid in stages
            )
            sub, done = jd.submissionTime(), jd.completionTime()
            t0 = sub.get().getTime() / 1000 if sub.isDefined() else start
            t1 = done.get().getTime() / 1000 if done.isDefined() else end
            intervals.append((max(t0, start), min(t1, end)))
        out = dict.fromkeys(COUNTERS[1:], 0.0)
        busy = 0.0
        cursor = start
        for t0, t1 in sorted(intervals):
            t0 = max(t0, cursor)
            if t1 > t0:
                busy += t1 - t0
                cursor = t1
        out["driver_s"] = max(0.0, (end - start) - busy)
        if not stage_ids:
            return out
        low = min(stage_ids)
        it = self.stage_list().iterator()  # newest stage first
        seen_low = False
        while it.hasNext():
            sd = it.next()
            sid = int(sd.stageId())
            if sid < low:
                seen_low = True
                break
            if sid == low:
                seen_low = True
            if sid not in stage_ids or sd.status().toString() not in RAN:
                continue
            done, failed = int(sd.numCompleteTasks()), int(sd.numFailedTasks())
            out["stages"] += 1
            out["tasks"] += done + failed
            out["failed_tasks"] += failed
            out["executor_run_s"] += sd.executorRunTime() / 1000
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        if not seen_low:
            raise RuntimeError(
                f"status store no longer holds stage {low}: a span ran more "
                "stages than spark.ui.retainedStages keeps"
            )
        return out


class Tracer:
    """In-memory span recorder; ``enabled=False`` makes every span free."""

    def __init__(self, spark, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._store = StatusStore(spark) if enabled else None
        # seconds spent reading the status store: the tracing overhead
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, harness: bool = False, counters: bool = True):
        """Record a span.  ``counters=False`` is for parent spans, which
        report only their self time; ``harness=True`` marks the
        benchmark's own work (output checks), which reads no counters."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        counters = counters and not harness
        sp = Span(name, time.time(), parent, self.run_id, harness)
        if counters:
            t0 = time.perf_counter()
            sp.job0, sp.stage0 = self._store.watermarks()
            self.overhead_s += time.perf_counter() - t0
            sp.start = time.time()
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            sp.end = time.time()
            self._stack.pop()
            if counters:
                t0 = time.perf_counter()
                self._store.drain()
                job1, stage1 = self._store.watermarks()
                sp.jobs = job1 - sp.job0
                sp.counters = self._store.counters(
                    range(sp.job0, job1), range(sp.stage0, stage1),
                    sp.start, sp.end,
                )
                self.overhead_s += time.perf_counter() - t0

    def finish(self) -> None:
        """Compute every span's self time: its wall time minus the part
        covered by its child spans (harness children included, since
        their time is not the span's own)."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        for idx, sp in enumerate(self.spans):
            kids = children.get(idx, [])
            covered = sum(k.end - k.start for k in kids)
            sp.counters["self_s"] = max(0.0, (sp.end - sp.start) - covered)
            harness = sum(k.end - k.start for k in kids if k.harness)
            sp.counters["wall_s"] = (sp.end - sp.start) - harness
            layer = covered - harness
            sp.counters["coverage_frac"] = (
                layer / sp.counters["wall_s"] if kids and sp.counters["wall_s"] > 0 else 0.0
            )

    def records(self) -> list[dict]:
        return [
            {
                "name": sp.name,
                "start": sp.start,
                "end": sp.end,
                "parent": sp.parent,
                "run_id": sp.run_id,
                "harness": sp.harness,
                "jobs": sp.jobs,
                "counters": sp.counters,
            }
            for sp in self.spans
        ]
