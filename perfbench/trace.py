"""Spans around the benchmark's calls into the engine, with Spark job
attribution.

Each span sets its own Spark job group, so the jobs (and their stages)
that run while it is open belong to it. Stage metrics are read from the
application status store after the run, when the listener bus has drained,
and spans are written out once at the end. In the traced run a layer's
output is persisted and counted at the span boundary, so the next layer
starts from materialized data and each span times one layer's work.

The traced op runs the same engine entry points as the untraced one:
``wrap`` swaps the names an engine module looks up at call time (for
example ``plans.ingest.split_documents``) for wrappers that run the
original inside a layer span, and puts the originals back afterwards.
Spans nest; a span's own time excludes the spans inside it.

With tracing disabled every method is a pass-through: ``layer`` returns the
lazy DataFrame its builder made, ``wrap`` patches nothing, and no job group
is set.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import time

# StageData fields summed per span -> metric name and scale
_STAGE_FIELDS = {
    "executorRunTime": ("spark.executor_run_s", 1e-3),
    "executorCpuTime": ("spark.executor_cpu_s", 1e-9),
    "jvmGcTime": ("spark.gc_s", 1e-3),
    "inputRecords": ("spark.input_rows", 1.0),
    "shuffleWriteBytes": ("spark.shuffle_write_bytes", 1.0),
    "shuffleReadBytes": ("spark.shuffle_read_bytes", 1.0),
    "memoryBytesSpilled": ("spark.spill_bytes", 1.0),
    "diskBytesSpilled": ("spark.spill_bytes", 1.0),
}


@dataclasses.dataclass
class Span:
    id: int
    name: str
    kind: str  # "op" | "build" | "action"
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = dataclasses.field(default_factory=dict)
    spark: dict = dataclasses.field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"

    def to_json(self) -> dict:
        d = dataclasses.asdict(self)
        d["dur_s"] = self.end - self.start
        return d


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._held: list = []
        self._op = -1

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str, kind: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, kind, self._op,
                  parent.id if parent else None, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp: Span | None) -> None:
        sc = self.spark.sparkContext
        if sp is None:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
        else:
            sc.setJobGroup(sp.group, sp.name, interruptOnCancel=False)

    @contextlib.contextmanager
    def op(self, index: int):
        """Root span of one op; a no-op when tracing is off."""
        self._op = index
        with self.span("op", "op"):
            yield

    def build(self, name: str, fn):
        """Run a DataFrame builder (lazy plan, plus any eager work the
        builder does itself) inside a build span."""
        with self.span(name, "build"):
            return fn()

    def action(self, name: str, fn):
        with self.span(name, "action") as sp:
            out = fn()
            if sp is not None and isinstance(out, int):
                sp.counts["rows"] = out
            return out

    def layer(self, name: str, fn):
        """Build a layer's DataFrame; when tracing, also materialize it
        (persist + count) so the next layer starts from its output."""
        df = self.build(name, fn)
        if not self.enabled:
            return df
        df = df.persist()
        self._held.append(df)
        self.action(name, df.count)
        return df

    def as_layer(self, name: str):
        """A ``wrap`` wrapper that runs the wrapped call as layer ``name``."""
        def wrapper(fn):
            @functools.wraps(fn)
            def call(*args, **kwargs):
                return self.layer(name, lambda: fn(*args, **kwargs))
            return call
        return wrapper

    @contextlib.contextmanager
    def wrap(self, targets):
        """While tracing, replace each ``(owner, attr, wrapper)`` target's
        ``owner.attr`` by ``wrapper(original)``; restore them on exit."""
        saved = []
        try:
            if self.enabled:
                for owner, attr, wrapper in targets:
                    orig = getattr(owner, attr)
                    saved.append((owner, attr, orig))
                    setattr(owner, attr, wrapper(orig))
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def release(self) -> None:
        """Unpersist the layer outputs the traced run materialized."""
        for df in self._held:
            df.unpersist()
        self._held.clear()

    # ------------------------------------------------------ attribution
    def collect_spark_metrics(self) -> None:
        """Attribute stage metrics to spans through their job groups."""
        if not self.enabled:
            return
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.spark.sparkContext.statusTracker()
        store = jsc.statusStore()
        seen: set[int] = set()  # a stage reused by a later job counts once
        for sp in self.spans:
            m = {"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0}
            for _, (name, _) in _STAGE_FIELDS.items():
                m[name] = 0.0
            for job in tracker.getJobIdsForGroup(sp.group):
                info = tracker.getJobInfo(job)
                if info is None:
                    continue
                m["spark.jobs"] += 1
                for stage in info.stageIds:
                    if stage in seen:
                        continue
                    seen.add(stage)
                    sd = store.lastStageAttempt(stage)
                    if sd.status().toString() != "COMPLETE":
                        continue  # skipped: its shuffle output was reused
                    m["spark.stages"] += 1
                    m["spark.tasks"] += sd.numCompleteTasks()
                    for field, (name, scale) in _STAGE_FIELDS.items():
                        m[name] += getattr(sd, field)() * scale
            sp.spark = m

    def op_spans(self, op: int | None = None) -> list[Span]:
        """Spans of op ``op`` (default: the current op)."""
        op = self._op if op is None else op
        return [s for s in self.spans if s.op == op]
