"""In-memory span tracer for the traced pass.

Spans are opened by the benchmark around its calls into the package's
public functions; nothing inside the package is instrumented.  Each span
records name, layer, start, end, parent and the trace it belongs to, and
runs its Spark jobs under a job group of its own, so task counts per span
come from ``SparkContext.statusTracker``.  A layer's input is a frame the
previous span persisted, and the span persists its own output and
materializes it with a ``noop`` write, so the span covers that layer's
work and nothing upstream.

Self time is a span's duration minus the time its direct children cover;
the self times of all spans of one trace sum to the root span's duration.
"""

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, List, Optional

from pyspark import StorageLevel


@dataclass
class Span:
    span_id: int
    parent_id: Optional[int]
    trace_id: str
    name: str
    layer: str
    start: float
    end: float = 0.0
    self_s: float = 0.0
    rows_in: int = 0
    rows_out: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    inputs: list = field(default_factory=list, repr=False)
    outputs: list = field(default_factory=list, repr=False)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def job_group(self) -> str:
        return f"perfbench-{self.trace_id}-{self.span_id}"

    def as_json(self, t0: float) -> dict:
        return {
            "trace_id": self.trace_id, "span_id": self.span_id,
            "parent_id": self.parent_id, "name": self.name,
            "layer": self.layer, "start_s": self.start - t0,
            "end_s": self.end - t0, "self_s": self.self_s,
            "rows_in": self.rows_in, "rows_out": self.rows_out,
            "tasks": self.tasks, "tasks_failed": self.tasks_failed,
        }


def materialize(df):
    """Persist ``df`` and fill the cache with a ``noop`` write."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.write.format("noop").mode("overwrite").save()
    return df


class Tracer:
    def __init__(self, spark, trace_id: str):
        self.spark = spark
        self.trace_id = trace_id
        self.spans: List[Span] = []
        self._stack: List[Span] = []

    @contextmanager
    def span(self, name: str, layer: Optional[str] = None, inputs=()):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent.span_id if parent else None,
                  self.trace_id, name, layer or name, 0.0,
                  inputs=list(inputs))
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext
        sc.setJobGroup(sp.job_group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.job_group, parent.name)
            else:
                sc._jsc.sc().clearJobGroup()

    def output(self, df, persist: bool = True):
        """Record ``df`` as the current span's output, by default persisted
        and materialized: the persisted frame is the next layer's input.
        ``persist=False`` is for outputs already on disk (checkpoints)."""
        if persist:
            df = materialize(df)
        self._stack[-1].outputs.append(df)
        return df

    def finish(self) -> None:
        """After the root span closed: self times, row counts (from the
        persisted frames, outside every span) and task counts."""
        children: Dict[int, float] = {}
        for sp in self.spans:
            if sp.parent_id is not None:
                children[sp.parent_id] = (children.get(sp.parent_id, 0.0)
                                          + sp.duration)
        tracker = self.spark.sparkContext.statusTracker()
        for sp in self.spans:
            sp.self_s = sp.duration - children.get(sp.span_id, 0.0)
            sp.rows_in = sum(df.count() for df in sp.inputs)
            sp.rows_out = sum(df.count() for df in sp.outputs)
            for job in tracker.getJobIdsForGroup(sp.job_group):
                info = tracker.getJobInfo(job)
                for stage in (info.stageIds if info else ()):
                    st = tracker.getStageInfo(stage)
                    if st is not None:
                        sp.tasks += st.numCompletedTasks
                        sp.tasks_failed += st.numFailedTasks
        for sp in self.spans:
            for df in sp.inputs + sp.outputs:
                df.unpersist()
            sp.inputs, sp.outputs = [], []

    def total_s(self) -> float:
        return sum(sp.duration for sp in self.spans if sp.parent_id is None)

    def by_name(self, name: str) -> float:
        return sum(sp.duration for sp in self.spans if sp.name == name)

    def layer_metrics(self, layers) -> Dict[str, float]:
        out = {}
        for layer in layers:
            mine = [sp for sp in self.spans if sp.layer == layer]
            out[f"{layer}.busy_s"] = sum(sp.self_s for sp in mine)
            out[f"{layer}.rows_in"] = sum(sp.rows_in for sp in mine)
            out[f"{layer}.rows_out"] = sum(sp.rows_out for sp in mine)
            out[f"{layer}.tasks"] = sum(sp.tasks for sp in mine)
            out[f"{layer}.tasks_failed"] = sum(sp.tasks_failed for sp in mine)
        return out

    def dump(self, path: str) -> None:
        t0 = min((sp.start for sp in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump([sp.as_json(t0) for sp in self.spans], f, indent=1)
