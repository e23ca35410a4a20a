"""Spans around calls into the engine, and Spark status-store readers.

Spans are recorded from the benchmark's side of each public call; the
engine itself is not instrumented. Every span tags the jobs it fires with
its own ``setJobGroup`` id, so after an op the status store attributes
jobs, stages, tasks and bytes to the span that caused them.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# StageData fields summed per span; *_ms / *_ns fields are converted to seconds
STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "input_bytes": ("inputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
}


@dataclass
class Span:
    name: str
    op_id: str
    start: float
    end: float = 0.0
    parent: int | None = None
    counts: dict = field(default_factory=dict)
    self_s: float = 0.0

    @property
    def group(self) -> str:
        return f"{self.op_id}/{self.name}"


class StatusStore:
    """Reads job/stage data for job groups from Spark's status store (works
    with ``spark.ui.enabled=false``) and block counts from the block manager."""

    def __init__(self, sc):
        self.sc = sc
        self.jsc = sc._jsc.sc()

    def group_totals(self, groups: list[str]) -> dict:
        # listener events are delivered asynchronously; drain before reading
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, **{k: 0 for k in STAGE_FIELDS}}
        seen: set[int] = set()
        for group in groups:
            for job_id in tracker.getJobIdsForGroup(group):
                out["jobs"] += 1
                stage_ids = store.job(job_id).stageIds()
                for i in range(stage_ids.size()):
                    sid = stage_ids.apply(i)
                    if sid in seen:
                        continue
                    seen.add(sid)
                    stage = store.lastStageAttempt(sid)
                    if stage.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += stage.numCompleteTasks() + stage.numFailedTasks()
                    for key, (attr, scale) in STAGE_FIELDS.items():
                        out[key] += getattr(stage, attr)() * scale
        return out

    def cached_blocks(self) -> int:
        """Cached or checkpointed RDD blocks the block manager still holds."""
        return sum(r.numCachedPartitions() for r in self.jsc.getRDDStorageInfo())


class Tracer:
    """Records spans in memory. Disabled, ``span`` only runs the body, and
    the jobs of every op share the one job group ``group``."""

    OUTSIDE_GROUP = "outside-ops"

    def __init__(self, sc, enabled: bool, group: str = "measure"):
        self.sc = sc
        self.enabled = enabled
        self.group = group
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.status = StatusStore(sc)

    @contextmanager
    def op(self, op_id: str):
        """The root span of one op; jobs fired between ops are tagged apart."""
        if self.enabled:
            with self.span("op", op_id):
                yield
        else:
            self.sc.setJobGroup(self.group, "benchmark ops")
            try:
                yield
            finally:
                self.sc.setJobGroup(self.OUTSIDE_GROUP, "between ops")

    @contextmanager
    def span(self, name: str, op_id: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, op_id, time.perf_counter(), parent=parent)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setJobGroup(self.OUTSIDE_GROUP, "between ops")
            else:
                self.sc.setJobGroup(self.spans[parent].group, self.spans[parent].name)

    def close_op(self, op_id: str) -> list[Span]:
        """After an op: self times and status-store counts of its spans."""
        spans = [s for s in self.spans if s.op_id == op_id]
        index = {id(s): i for i, s in enumerate(self.spans)}
        for sp in spans:
            children = [c for c in spans if c.parent == index[id(sp)]]
            sp.self_s = (sp.end - sp.start) - sum(c.end - c.start for c in children)
            sp.counts = self.status.group_totals([sp.group])
        return spans

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")
