"""Spans around the benchmark's calls into each layer, and the Spark work
attributed to them.

A span is opened by the benchmark around one call into the program
(``layer`` names the module, ``kind`` the call).  While a span is open the
driver thread carries the Spark job tag ``pb-<span id>``; Spark copies the
thread's tags into every job it submits, including the jobs of a streaming
query started inside the span.  Spans are kept in memory, and the job and
stage records are read from the status store once, after the measured
region, so tracing adds only the tag calls to the timed work.

With tracing off, ``span`` only yields: no tags, no status-store reads.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Per-layer Spark counters, in the order they are printed.
COUNTERS = (
    ("wall_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("executor_s", "s"),
    ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("gc_s", "s"),
)


@dataclass
class Span:
    sid: int
    layer: str
    kind: str
    parent: int | None
    t0: float
    t1: float = 0.0
    child_s: float = 0.0  # time covered by child spans
    batches: int = 0  # streaming micro-batches committed inside the span
    jobs: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.wall_s - self.child_s


class Tracer:
    """Span recorder for one run; ``enabled=False`` makes it a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._sc = None
        #: seconds the tracer itself spent inside the measured region
        self.overhead_s = 0.0

    def bind(self, spark) -> None:
        """Attach to the session the measured calls run on."""
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, layer: str, kind: str = ""):
        if not self.enabled:
            yield None
            return
        c0 = time.perf_counter()
        parent = self._open[-1] if self._open else None
        sp = Span(len(self.spans), layer, kind, parent.sid if parent else None, 0.0)
        self.spans.append(sp)
        if parent is not None:
            self._sc.removeJobTag(f"pb-{parent.sid}")
        self._sc.addJobTag(f"pb-{sp.sid}")
        self._open.append(sp)
        sp.t0 = time.perf_counter()
        self.overhead_s += sp.t0 - c0
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self._sc.removeJobTag(f"pb-{sp.sid}")
            self._open.pop()
            if parent is not None:
                parent.child_s += sp.wall_s
                self._sc.addJobTag(f"pb-{parent.sid}")
            self.overhead_s += time.perf_counter() - sp.t1

    @contextmanager
    def bookkeeping(self):
        """Time tracer-only work done inside the measured region."""
        c0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - c0

    def collect_jobs(self) -> None:
        """Read every job and stage from the status store and attach each
        job to the span whose tag it carries.  Call after the measured
        region, with the session still running."""
        if not self.enabled:
            return
        store = self._sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        for i in range(jobs.length()):
            job = jobs.apply(i)
            sid = None
            for tag in job.jobTags().mkString("\n").split("\n"):
                if tag.startswith("pb-"):
                    sid = int(tag[3:])
            if sid is None:
                continue
            stages = []
            ids = job.stageIds()
            for k in range(ids.length()):
                st = store.lastStageAttempt(ids.apply(k))
                if st.status().toString() == "SKIPPED":
                    continue
                stages.append(
                    (
                        st.numTasks(),
                        st.executorRunTime() / 1000,
                        st.shuffleReadBytes(),
                        st.shuffleWriteBytes(),
                        st.memoryBytesSpilled(),
                        st.jvmGcTime() / 1000,
                    )
                )
            self.spans[sid].jobs.append(stages)

    def select(self, layer: str, kind: str | None = None) -> list[Span]:
        return [
            s for s in self.spans if s.layer == layer and (kind is None or s.kind == kind)
        ]


def spark_counters(spans: list[Span]) -> dict[str, float]:
    """Self time plus the Spark work of the jobs the spans fired."""
    out = defaultdict(float)
    out["wall_s"] = sum(s.self_s for s in spans)
    for s in spans:
        out["jobs"] += len(s.jobs)
        for stages in s.jobs:
            out["stages"] += len(stages)
            for tasks, exec_s, sr, sw, spill, gc_s in stages:
                out["tasks"] += tasks
                out["executor_s"] += exec_s
                out["shuffle_read_bytes"] += sr
                out["shuffle_write_bytes"] += sw
                out["spill_bytes"] += spill
                out["gc_s"] += gc_s
    return {name: float(out[name]) for name, _ in COUNTERS}


def layer_metrics(tracer: Tracer, layers: tuple[str, ...]) -> dict[str, float]:
    """``<layer>.<counter>`` for each of ``layers``."""
    out = {}
    for layer in layers:
        for name, value in spark_counters(tracer.select(layer)).items():
            out[f"{layer}.{name}"] = value
    return out


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
