"""Spans and per-layer counters for the traced run.

Spans are recorded only here, around the benchmark's calls into the
engine's layers: `op` -> `build` -> `action` for one request.  Spans of
one request share its request id.  Spark work is attributed through job
groups: the builder call runs under group `b:<req>`, the action under
`a:<req>`, and after the action the jobs of each group are read from
Spark's status store (stage task time, input rows, shuffle bytes,
spill).  Everything is held in memory and written out once at exit.

With tracing off no op goes through the tracer: the untraced run sets
no job group and records nothing.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    req: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


@dataclass
class SparkWork:
    """Spark jobs launched under one job group."""
    jobs: int = 0
    tasks: int = 0
    run_ms: float = 0.0           # summed task executor run time
    input_rows: int = 0
    shuffle_write_bytes: int = 0
    fetch_wait_ms: float = 0.0
    spill_bytes: int = 0

    def add(self, other: "SparkWork") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class OpTrace:
    """What the traced run learned about one op."""
    build_ms: float = 0.0
    action_ms: float = 0.0
    build_work: SparkWork = field(default_factory=SparkWork)
    action_work: SparkWork = field(default_factory=SparkWork)
    catalyst_ms: dict[str, float] = field(default_factory=dict)
    out_rows: int = 0


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []

    @contextlib.contextmanager
    def span(self, req: str, name: str, parent: str | None = None):
        s = Span(req, name, parent, time.perf_counter())
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.spans.append(s)

    # -- Spark attribution -------------------------------------------
    def set_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(group, group)

    def work(self, group: str) -> SparkWork:
        """Jobs and stage metrics of `group`, after the listener bus has
        delivered every event so the stage totals are final."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        w = SparkWork()
        for job in tracker.getJobIdsForGroup(group):
            w.jobs += 1
            info = tracker.getJobInfo(job)
            for stage in (info.stageIds if info else []):
                try:
                    sd = store.lastStageAttempt(stage)
                except Exception:  # stage evicted from the status store
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                w.tasks += sd.numTasks()
                w.run_ms += sd.executorRunTime()
                w.input_rows += sd.inputRecords()
                w.shuffle_write_bytes += sd.shuffleWriteBytes()
                w.fetch_wait_ms += sd.shuffleFetchWaitTime()
                w.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return w

    @staticmethod
    def catalyst_ms(df) -> dict[str, float]:
        """Catalyst phase times of the frame's executed query."""
        out: dict[str, float] = {}
        it = df._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = float(kv._2().durationMs())
        return out

    def traced_op(self, req: str, build, act) -> tuple[object, float, OpTrace]:
        """Run build() -> frame and act(frame) -> result under spans and
        job groups.  Returns (result, wall seconds, OpTrace)."""
        t = OpTrace()
        t0 = time.perf_counter()
        with self.span(req, "op"):
            with self.span(req, "build", "op") as sb:
                self.set_group(f"b:{req}")
                df = build()
            with self.span(req, "action", "op") as sa:
                self.set_group(f"a:{req}")
                result = act(df)
            self.set_group(None)
        wall = time.perf_counter() - t0
        t.build_ms, t.action_ms = sb.ms, sa.ms
        t.build_work = self.work(f"b:{req}")
        t.action_work = self.work(f"a:{req}")
        t.catalyst_ms = self.catalyst_ms(df)
        t.out_rows = len(result)
        return result, wall, t

    # -- self time and output ------------------------------------------
    def self_ms(self) -> dict[str, list[float]]:
        """Per span name: duration minus the part covered by its
        children (children of one request never overlap)."""
        child_ms: dict[tuple[str, str], float] = {}
        for s in self.spans:
            if s.parent is not None:
                key = (s.req, s.parent)
                child_ms[key] = child_ms.get(key, 0.0) + s.ms
        out: dict[str, list[float]] = {}
        for s in self.spans:
            out.setdefault(s.name, []).append(
                s.ms - child_ms.get((s.req, s.name), 0.0))
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)
