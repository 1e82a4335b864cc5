"""Spans and per-operation timing for the benchmark.

Every call the benchmark makes into the engine goes through ``Recorder.op``:
it times DataFrame construction (``build``) apart from the action
(``exec``).  The untraced recorder does only that.  The traced recorder
also keeps spans in memory (name, start, end, parent, run id) and counts
the Spark jobs each phase fires, through ``setJobGroup`` and the status
tracker; the spans are written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class OpRecord:
    """One operation: wall time split into build and action."""

    name: str  # "<module>.<function>", e.g. "spatial_join.tiered_spatial_join"
    kind: str  # the workload's grouping, e.g. "join", "lookup", "append"
    rows_in: int
    build_s: float = 0.0
    exec_s: float = 0.0
    build_jobs: int = 0
    exec_jobs: int = 0
    rows_out: int = 0
    ok: bool = True
    group: str = ""

    @property
    def wall_s(self) -> float:
        return self.build_s + self.exec_s

    @property
    def module(self) -> str:
        return self.name.split(".", 1)[0]


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Recorder:
    """Untraced recorder: wall-clock timing of each operation only."""

    traced = False

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.ops: list[OpRecord] = []
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent inside the recorder's own bookkeeping
        self._stack: list[int] = []
        self._groups = 0

    # -- spans (no-ops when untraced) -------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        yield None

    # -- operations ---------------------------------------------------------
    @contextmanager
    def op(self, name: str, kind: str, rows_in: int):
        """Time one operation.  The body calls ``phase.built()`` between
        building the DataFrame and running its action."""
        rec = OpRecord(name, kind, rows_in)
        phase = _Phase(self, rec)
        with self.span(name, kind=kind):
            phase.begin("build")
            try:
                yield phase
            finally:
                phase.finish()
        self.ops.append(rec)

    def _job_group(self, tag: str) -> str:
        return ""

    def _jobs_in(self, group: str) -> int:
        return 0

    def write(self, path: str) -> None:
        pass


class TracedRecorder(Recorder):
    """Spans in memory plus per-phase Spark job counts."""

    traced = True

    @contextmanager
    def span(self, name: str, **attrs):
        t = time.perf_counter()
        sp = Span(name, t, parent=self._stack[-1] if self._stack else None, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self.overhead_s += time.perf_counter() - t
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def _job_group(self, tag: str) -> str:
        t = time.perf_counter()
        self._groups += 1
        group = f"{self.run_id}-{self._groups}-{tag}"
        self.spark.sparkContext.setJobGroup(group, tag)
        self.overhead_s += time.perf_counter() - t
        return group

    def _jobs_in(self, group: str) -> int:
        t = time.perf_counter()
        n = len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        self.overhead_s += time.perf_counter() - t
        return n

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "run_id": self.run_id, "id": i, "name": s.name, "parent": s.parent,
                    "start": s.start, "end": s.end, **s.attrs,
                }) + "\n")

    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus the time its direct
        children cover (the recorder is single-threaded, so children never
        overlap each other)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out


class _Phase:
    """Build/exec bookkeeping for one ``Recorder.op``."""

    def __init__(self, rec: Recorder, op: OpRecord):
        self.r = rec
        self.op = op
        self._name = ""
        self._t0 = 0.0
        self._group = ""
        self._span = None

    def begin(self, name: str) -> None:
        self._name = name
        self._group = self.r._job_group(name)
        self._span = self.r.span(f"{self.op.name}/{name}", group=self._group)
        self._span.__enter__()
        self._t0 = time.perf_counter()

    def _end(self) -> None:
        dt = time.perf_counter() - self._t0
        self._span.__exit__(None, None, None)
        if self._name == "build":
            self.op.build_s = dt
            self.op.build_jobs = self.r._jobs_in(self._group)
        else:
            self.op.exec_s = dt
            self.op.exec_jobs = self.r._jobs_in(self._group)
            self.op.group = self._group
        self._name = ""

    def built(self) -> None:
        self._end()
        self.begin("exec")

    def finish(self) -> None:
        if self._name:
            self._end()
        if self.r.traced:
            self.r.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
