"""Spans recorded from the benchmark's side of each layer boundary, with
Spark work counts read from the session's own status store (works with
``spark.ui.enabled=false``).

A span's work is every job and every COMPLETE stage whose id is above the
watermark taken when the span began.  Ids are monotonic, so the watermark
stays right when the store evicts old entries (it keeps only
``spark.ui.retainedStages`` stages; diffing list lengths goes negative
once eviction starts).  SKIPPED stages (shuffle output reused) did no work
and are not counted.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field, fields

# StageData accessor → Counts field
_STAGE_FIELDS = {
    "numCompleteTasks": "tasks",
    "executorRunTime": "executor_run_ms",
    "jvmGcTime": "gc_ms",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "disk_spill_bytes",
}


@dataclass
class Counts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    disk_spill_bytes: int = 0

    def add(self, other: "Counts") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


class StatusStore:
    """Reads job and stage records of one SparkContext."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def _stages(self):
        # Spark 4.1 signature: (statuses, details, withSummaries,
        # unsortedQuantiles, taskStatus); empty status list = all stages,
        # newest first
        a = self._jvm.java.util.ArrayList
        return self._store.stageList(a(), False, False, self._no_quantiles, a())

    def _jobs(self):
        # newest first, like the stage list
        return self._store.jobsList(self._jvm.java.util.ArrayList())

    def watermark(self) -> tuple[int, int]:
        """(highest job id, highest stage id) seen so far, -1 if none."""
        jobs, stages = self._jobs(), self._stages()
        job = jobs.apply(0).jobId() if jobs.size() else -1
        stage = stages.apply(0).stageId() if stages.size() else -1
        return job, stage

    def since(self, mark: tuple[int, int]) -> Counts:
        """Counts of the jobs and COMPLETE stages newer than ``mark``."""
        job_mark, stage_mark = mark
        out = Counts()
        jobs = self._jobs()
        for i in range(jobs.size()):
            if jobs.apply(i).jobId() <= job_mark:
                break
            out.jobs += 1
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= stage_mark:
                break  # newest first: everything after is older
            if s.status().toString() != "COMPLETE":
                continue
            out.stages += 1
            for acc, name in _STAGE_FIELDS.items():
                setattr(out, name, getattr(out, name) + int(getattr(s, acc)()))
        return out


@dataclass
class Span:
    calls: int = 0
    seconds: float = 0.0
    counts: Counts = field(default_factory=Counts)


class Tracer:
    """Records named spans around calls into the program's layers.

    Disabled, ``span`` and ``done`` cost nothing and the program runs its
    own lazy plans end to end.  Enabled, ``done`` materializes a layer's
    output (``localCheckpoint(eager=True)``) so that the next span starts
    from finished input, and each span records its wall time and the
    Spark work done inside it.  Spans do not nest, so a span's time is
    its self time.  Counts are exact only with one client thread.
    """

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: dict[str, Span] = defaultdict(Span)
        self.store = StatusStore(spark) if enabled else None
        self.overhead_s = 0.0  # time spent reading the status store

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        mark = self.store.watermark()
        t1 = time.perf_counter()
        try:
            yield
        finally:
            t2 = time.perf_counter()
            counts = self.store.since(mark)
            rec = self.spans[name]
            rec.calls += 1
            rec.seconds += t2 - t1
            rec.counts.add(counts)
            self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def done(self, df):
        """A layer's output frame, materialized when tracing."""
        return df.localCheckpoint(eager=True) if self.enabled else df
