"""Tracing recorded from outside the program.

Spans are opened by the benchmark around calls into goe_spark's public
functions: a workload command (an offload, a verb, a query) is a root
span, and the functions it reaches on the calling thread (staging
write, final load, metadata and history writes, ...) become its
children through temporary wrappers. Spans stay in memory until the
run writes them out at exit.

Spark engine numbers come from the live application status store (the
Spark UI is disabled, the store is not): every command runs under its
own job tag, and after it returns the tagged jobs and their stages are
summed.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    trace_id: int
    layer: str
    name: str
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder plus the wrappers that feed it."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._next_id = 0

    def _open(self) -> list[Span]:
        if not hasattr(self._stack, "spans"):
            self._stack.spans = []
        return self._stack.spans

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        stack = self._open()
        parent = stack[-1] if stack else None
        self._next_id += 1
        sp = Span(
            span_id=self._next_id,
            parent_id=parent.span_id if parent else None,
            trace_id=parent.trace_id if parent else self._next_id,
            layer=layer,
            name=name,
            start=time.perf_counter(),
        )
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self.spans.append(sp)

    def wrap(self, owner, attr: str, layer: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a spanning wrapper until
        ``unwrap``. Only calls made on a thread that already holds an
        open span are recorded, so work a command fans out to pool
        threads stays inside the command's own span."""
        original = getattr(owner, attr)
        name = f"{getattr(owner, '__name__', type(owner).__name__)}.{attr}"

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not self._open():
                return original(*args, **kwargs)
            with self.span(layer, name):
                result = original(*args, **kwargs)
            if on_result is not None:
                on_result(result)
            return result

        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def unwrap(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def self_seconds(self) -> dict[str, float]:
        """Per layer: span time minus the time of its direct children."""
        child_time: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent_id is not None:
                child_time[sp.parent_id] = (
                    child_time.get(sp.parent_id, 0.0) + sp.seconds
                )
        out: dict[str, float] = {}
        for sp in self.spans:
            own = sp.seconds - child_time.get(sp.span_id, 0.0)
            out[sp.layer] = out.get(sp.layer, 0.0) + own
        return out

    def layer_seconds(self, layer: str, name_suffix: str = "") -> float:
        return sum(
            sp.seconds
            for sp in self.spans
            if sp.layer == layer and sp.name.endswith(name_suffix)
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(sp) for sp in self.spans], fh)


# --- Spark engine metrics ------------------------------------------------

ENGINE_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "job_s",
    "driver_s",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_rows",
    "output_bytes",
)


def _union_seconds(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0


def engine_metrics(spark, tag: str, wall_s: float) -> dict:
    """Sum the jobs and stages that ran under ``tag``. Stages that
    counted input rows but no input bytes are JDBC scans (the JDBC
    reader reports records, never bytes); they are summed separately
    under ``jdbc_*``."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    m = dict.fromkeys(ENGINE_KEYS, 0)
    m.update(jdbc_read_s=0.0, jdbc_rows=0, jdbc_partitions=0)
    intervals = []
    for job_id in jsc.statusTracker().getJobIdsForTag(tag):
        job = store.job(job_id)
        m["jobs"] += 1
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            intervals.append((sub.get().getTime(), done.get().getTime()))
        ids = job.stageIds()
        for i in range(ids.size()):
            st = store.lastStageAttempt(ids.apply(i))
            if st.status().toString() == "SKIPPED":
                continue
            m["stages"] += 1
            m["tasks"] += st.numTasks()
            m["executor_run_s"] += st.executorRunTime() / 1000.0
            m["executor_cpu_s"] += st.executorCpuTime() / 1e9
            m["shuffle_write_bytes"] += st.shuffleWriteBytes()
            m["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            m["input_rows"] += st.inputRecords()
            m["output_bytes"] += st.outputBytes()
            if st.inputRecords() > 0 and st.inputBytes() == 0:
                m["jdbc_read_s"] += st.executorRunTime() / 1000.0
                m["jdbc_rows"] += st.inputRecords()
                m["jdbc_partitions"] += st.numTasks()
    m["job_s"] = _union_seconds(intervals)
    m["driver_s"] = max(0.0, wall_s - m["job_s"])
    return m
