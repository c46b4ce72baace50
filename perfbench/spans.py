"""Spans, self time, the percentile rule, and the readers the traced run
uses to attach Spark jobs, stream batches and Python-worker metrics to the
benchmark's spans.

Nothing here is imported by the engine. The traced run records spans only
around the calls the benchmark itself makes (pass, query, release_caches,
builder, load_table, noop write); jobs and stream batches become child
spans afterwards, from the Spark status store and a StreamingQueryListener.
"""

from __future__ import annotations

import contextlib
import math
import re
import threading
import time
from dataclasses import dataclass, field


# ---------------------------------------------------------------- statistics


def tail_percentile(samples: list[float], ladder=(99.9, 99.0, 90.0, 75.0, 50.0)):
    """The highest percentile in ``ladder`` that has at least ten samples
    beyond it, as ``(percentile, nearest-rank value)``; ``None`` when even
    the lowest rung has fewer than ten samples beyond it."""
    n = len(samples)
    ordered = sorted(samples)
    for p in sorted(ladder, reverse=True):
        rank = max(1, math.ceil(round(p * n / 100.0, 9)))
        if n - rank >= 10:
            return p, ordered[rank - 1]
    return None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------------- spans


@dataclass
class Span:
    kind: str
    start: float
    end: float = 0.0
    name: str = ""
    attrs: dict = field(default_factory=dict)
    children: list["Span"] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start

    def self_time(self) -> float:
        """Duration minus the part of it that child spans cover."""
        clipped = [
            (max(c.start, self.start), min(c.end, self.end)) for c in self.children
        ]
        return self.duration - union_length(clipped)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def innermost(self, t: float) -> "Span":
        """The deepest recorded (non-attached) span containing time t."""
        for c in self.children:
            if c.kind not in ATTACHED_KINDS and c.start <= t <= c.end:
                return c.innermost(t)
        return self

    def to_json(self) -> dict:
        return {
            "kind": self.kind,
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "self_s": self.self_time(),
            "attrs": self.attrs,
            "children": [c.to_json() for c in self.children],
        }


ATTACHED_KINDS = frozenset({"job", "stream_batch"})


def exclusive_time_by_kind(root: Span) -> dict[str, float]:
    """Split the root span's wall time by the kind of the deepest span
    active at each instant. Unlike summing ``self_time`` this counts time
    covered by overlapping siblings (concurrent jobs) once, so the values
    add up to the root's duration."""
    spans: list[tuple[Span, int]] = []

    def collect(s: Span, depth: int) -> None:
        spans.append((s, depth))
        for c in s.children:
            collect(c, depth + 1)

    collect(root, 0)
    cuts = sorted({t for s, _ in spans for t in (s.start, s.end)
                   if root.start <= t <= root.end})
    out: dict[str, float] = {}
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        deepest = max(((s, d) for s, d in spans if s.start <= mid < s.end),
                      key=lambda sd: sd[1], default=None)
        if deepest is not None:
            out[deepest[0].kind] = out.get(deepest[0].kind, 0.0) + (b - a)
    return out


class Tracer:
    """Records nested spans on the driver thread (epoch clock, so Spark's
    job timestamps line up), counts py4j round-trips, and tags each span's
    Spark jobs with a job group named after the span."""

    def __init__(self, spark=None, storage_bytes=None):
        self.spark = spark
        self.storage_bytes = storage_bytes
        self.stack: list[Span] = []
        self.py4j_calls = 0
        self._seq = 0
        self._thread = threading.get_ident()
        self._internal = False

    def count_call(self) -> None:
        """Count a py4j command sent by the traced (driver) thread, unless
        the tracer itself sent it."""
        if threading.get_ident() == self._thread and not self._internal:
            self.py4j_calls += 1

    @contextlib.contextmanager
    def internal(self):
        self._internal = True
        try:
            yield
        finally:
            self._internal = False

    def after_query(self, span: Span) -> None:
        """Sample cached-RDD storage once the query's write finished."""
        if self.storage_bytes is not None:
            with self.internal():
                span.attrs["storage_bytes"] = self.storage_bytes()

    @contextlib.contextmanager
    def span(self, kind: str, name: str = ""):
        sp = Span(kind, time.time(), name=name)
        if self.stack:
            self.stack[-1].children.append(sp)
        self.stack.append(sp)
        group = None
        if self.spark is not None and kind in JOB_GROUP_KINDS:
            self._seq += 1
            group = f"perfbench-{self._seq}"
            sp.attrs["job_group"] = group
            self._set_group(group)
        calls0 = self.py4j_calls
        try:
            yield sp
        finally:
            sp.attrs["py4j_calls"] = self.py4j_calls - calls0
            sp.end = time.time()
            self.stack.pop()
            if group is not None:
                outer = next(
                    (s.attrs["job_group"] for s in reversed(self.stack)
                     if "job_group" in s.attrs),
                    None,
                )
                self._set_group(outer)

    def _set_group(self, group) -> None:
        with self.internal():
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)


JOB_GROUP_KINDS = frozenset({"build", "load_table", "write"})


@contextlib.contextmanager
def counting_py4j(tracer: Tracer):
    """Count every py4j command sent from this process while active."""
    import py4j.clientserver as cs
    import py4j.java_gateway as jg

    originals = []
    for cls in (cs.ClientServerConnection, jg.GatewayConnection):
        orig = cls.send_command

        def counted(self, command, _orig=orig):
            tracer.count_call()
            return _orig(self, command)

        cls.send_command = counted
        originals.append((cls, orig))
    try:
        yield
    finally:
        for cls, orig in originals:
            cls.send_command = orig


# ----------------------------------------------------------- status readers


STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "memory_spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "output_records": ("outputRecords", 1),
    "tasks": ("numTasks", 1),
}


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusReader:
    """Reads jobs and SQL executions that finished since the last call."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.last_job = self._max_job_id()
        self.last_exec = self._max_exec_id()

    def flush(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def _max_job_id(self) -> int:
        jobs = self.jsc.statusStore().jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _max_exec_id(self) -> int:
        ex = self._sql_store().executionsList()  # oldest first
        return ex.apply(ex.size() - 1).executionId() if ex.size() else -1

    def new_jobs(self) -> list[Span]:
        """One span per job submitted since the last call, with its stage
        metrics summed into ``attrs``."""
        store = self.jsc.statusStore()
        jobs = store.jobsList(None)  # newest first
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self.last_job:
                break
            start = _opt_ms(j.submissionTime())
            end = _opt_ms(j.completionTime()) or start
            if start is None:
                continue
            attrs = {k: 0 for k in STAGE_FIELDS}
            attrs["stages"] = 0
            group = j.jobGroup()
            attrs["job_group"] = group.get() if group.isDefined() else None
            sids = j.stageIds()
            for k in range(sids.size()):
                st = store.lastStageAttempt(sids.apply(k))
                if st.status().toString() == "SKIPPED":
                    continue
                attrs["stages"] += 1
                for key, (getter, scale) in STAGE_FIELDS.items():
                    attrs[key] += getattr(st, getter)() * scale
            out.append(Span("job", start, end, name=str(jid), attrs=attrs))
        if out:
            self.last_job = max(int(s.name) for s in out)
        return out

    def new_python_metrics(self) -> dict[str, float]:
        """Sum the Python-worker SQL metrics of every SQL execution since
        the last call (ArrowEvalPython, FlatMapGroupsInPandas, ...)."""
        sql = self._sql_store()
        ex = sql.executionsList()
        totals = {"bytes_to_python": 0.0, "bytes_from_python": 0.0, "python_rows": 0.0}
        newest = self.last_exec
        for i in reversed(range(ex.size())):  # newest first
            eid = ex.apply(i).executionId()
            if eid <= self.last_exec:
                break
            newest = max(newest, eid)
            values = sql.executionMetrics(eid)
            nodes = sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                metrics = nodes.apply(n).metrics()
                named = {
                    metrics.apply(k).name(): metrics.apply(k).accumulatorId()
                    for k in range(metrics.size())
                }
                if "data sent to Python workers" not in named:
                    continue
                for key, metric in (
                    ("bytes_to_python", "data sent to Python workers"),
                    ("bytes_from_python", "data returned from Python workers"),
                    ("python_rows", "number of output rows"),
                ):
                    acc = named.get(metric)
                    if acc is not None and values.contains(acc):
                        totals[key] += parse_metric(values.apply(acc))
        self.last_exec = newest
        return totals

    def storage_bytes(self) -> int:
        infos = self.jsc.getRDDStorageInfo()
        return sum(r.memSize() + r.diskSize() for r in infos)


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``"10"``, ``"1.5 KiB"`` or the
    multi-task form ``"total (min, med, max ...)\\n32.0 B (16.0 B, ...)"``."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d.,]+)\s*(B|KiB|MiB|GiB|TiB|ms|s)?", line)
    if m is None:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "B", 1)


def make_stream_listener(sink: list, lock: threading.Lock):
    """A StreamingQueryListener that appends one stream-batch span per
    progress event to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            start = _iso_epoch(p.timestamp)
            dur = p.durationMs.get("triggerExecution", 0) / 1000.0
            state = p.stateOperators or []
            attrs = {
                "state_commit_s": sum(op.commitTimeMs for op in state) / 1000.0,
                "state_rows": sum(op.numRowsTotal for op in state),
                "run_id": str(p.runId),
                "rows": p.numInputRows,
            }
            with lock:
                sink.append(Span("stream_batch", start, start + dur,
                                 name=f"{p.name or p.id}#{p.batchId}", attrs=attrs))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return BatchListener()


def _iso_epoch(ts: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def attach(query: Span, extra: list[Span]) -> None:
    """Hang job and stream-batch spans under the innermost span of
    ``query`` that covers them: a job under the span whose job group it
    carries, else under the span containing its submission time; a job
    inside a stream batch goes under that batch."""
    by_group = {s.attrs["job_group"]: s for s in query.walk() if "job_group" in s.attrs}
    batches = sorted((s for s in extra if s.kind == "stream_batch"), key=lambda s: s.start)
    for b in batches:
        _adopt(query.innermost(b.start), b)
    for job in (s for s in extra if s.kind == "job"):
        parent = next(
            (b for b in batches if b.start <= job.start <= b.end), None
        ) or by_group.get(job.attrs.get("job_group")) or query.innermost(job.start)
        _adopt(parent, job)


def _adopt(parent: Span, child: Span) -> None:
    """Make ``child`` a child of ``parent``, clipped to its interval (Spark
    reports job times in whole milliseconds)."""
    child.start = min(max(child.start, parent.start), parent.end)
    child.end = min(max(child.end, child.start), parent.end)
    parent.children.append(child)
