"""Tracing from outside the program.

Three pieces, all owned by the benchmark:

- ``Tracer`` records spans (name, start, end, parent) in memory. Entering a
  span sets the ``perfbench.span`` Spark local property, so every Spark job
  submitted inside it carries the span id into the event log.
- ``Tracer.install`` wraps the public entry points of each layer
  (``pipeline.run_stage``, ``materialize_graph``/``build_nodes``,
  ``curate``'s stage runner, the ``lakehouse.Table`` commits, reads and
  ``row_count``) and ``uninstall`` puts the originals back.
- ``EventLog`` attaches a Spark ``EventLoggingListener`` for the duration
  of one traced operation only, so untraced operations in the same session
  pay nothing. ``rollup`` turns the log plus the spans into per-span
  counters, and the raw log is deleted right after it is read.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def _tag(self) -> None:
        self.sc.setLocalProperty(SPAN_PROPERTY, str(self._stack[-1]) if self._stack else None)

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a new span named ``name``."""
        span = Span(len(self.spans), name, self._stack[-1] if self._stack else None, time.time())
        self.spans.append(span)
        self._stack.append(span.id)
        self._tag()
        try:
            return fn(*args, **kwargs)
        finally:
            span.end = time.time()
            self._stack.pop()
            self._tag()

    def _wrap(self, owner, attr: str, name_of) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            name = name_of(args, kwargs)
            if self._stack and self.spans[self._stack[-1]].name == name:
                # a commit that calls another commit is one commit
                return orig(*args, **kwargs)
            return self.call(name, orig, *args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def install(self) -> None:
        from ckg_spark import curate, lakehouse, pipeline

        def stage_name(args, kwargs):
            return "stage:" + (args[3] if len(args) > 3 else kwargs["name"])

        self._wrap(pipeline, "run_stage", stage_name)
        self._wrap(curate, "run_stage", stage_name)
        self._wrap(pipeline, "build_nodes", lambda a, k: "stage:materialize")
        self._wrap(pipeline, "materialize_graph", lambda a, k: "stage:materialize")
        for attr in ("overwrite", "append", "append_empty", "merge_insert_absent"):
            self._wrap(lakehouse.Table, attr, lambda a, k: "lakehouse.commit")
        self._wrap(lakehouse.Table, "row_count", lambda a, k: "lakehouse.row_count")
        self._wrap(lakehouse.Table, "read", lambda a, k: "lakehouse.read")

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)


class EventLog:
    """A Spark event log attached to a running session for one operation."""

    def __init__(self, spark, log_dir: str, name: str):
        sc = spark.sparkContext
        jvm, self._jsc = sc._jvm, sc._jsc.sc()
        self.dir = log_dir
        os.makedirs(log_dir, exist_ok=True)
        conf = (
            self._jsc.conf()
            .clone()
            .set("spark.eventLog.rolling.enabled", "false")
            .set("spark.eventLog.compress", "false")
        )
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            name,
            jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + os.path.abspath(log_dir)),
            conf,
            sc._jsc.hadoopConfiguration(),
        )
        self._listener.start()
        self._jsc.addSparkListener(self._listener)

    def close(self) -> list[dict]:
        """Detach, read the needed events, delete the raw log."""
        self._jsc.listenerBus().waitUntilEmpty()
        self._jsc.removeSparkListener(self._listener)
        self._listener.stop()
        try:
            events = []
            for name in sorted(os.listdir(self.dir)):
                with open(os.path.join(self.dir, name)) as f:
                    events.extend(read_events(f))
            return events
        finally:
            shutil.rmtree(self.dir, ignore_errors=True)


_KEPT = tuple(
    '{"Event":"SparkListener' + e
    for e in ("JobStart", "JobEnd", "StageSubmitted", "TaskEnd")
)


def read_events(lines) -> list[dict]:
    """Parse only the events the roll-up uses; SQL plan events (most of a
    log's bytes) are skipped without decoding."""
    return [json.loads(line) for line in lines if line.startswith(_KEPT)]


# --- roll-up ----------------------------------------------------------------


@dataclass
class Usage:
    """Spark work attributed to one span and its descendants."""

    jobs: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    tasks: int = 0
    task_s: float = 0.0
    jvm_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    fetch_wait_s: float = 0.0
    spill_b: int = 0
    tasks_failed: int = 0
    stage_task_s: dict[int, list[float]] = field(default_factory=dict)

    @property
    def max_median_task(self) -> float:
        """max ÷ median task time of the stage with the most task time."""
        if not self.stage_task_s:
            return 0.0
        times = max(self.stage_task_s.values(), key=sum)
        return max(times) / max(statistics.median(times), 1e-3)


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    covered, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            covered += b - a
            cur_end = b
    return covered


def outside_job_s(span: Span, usage: Usage) -> float:
    """Span wall time during which no Spark job of the span was running:
    driver time the cores wait on."""
    return max(0.0, span.wall_s - _union_s(usage.job_intervals, span.start, span.end))


def rollup(spans: list[Span], events: list[dict]) -> dict[int, Usage]:
    """Per-span usage, each span including its descendants' work. Jobs are
    attributed by the span id their JobStart properties carry, stages by
    their StageSubmitted properties."""
    parent = {s.id: s.parent for s in spans}

    def chain(span_id: int | None):
        while span_id is not None and span_id in parent:
            yield span_id
            span_id = parent[span_id]

    def span_of(props: dict | None) -> int | None:
        raw = (props or {}).get(SPAN_PROPERTY)
        return int(raw) if raw not in (None, "") else None

    usage = {s.id: Usage() for s in spans}
    job_start: dict[int, tuple[float, int | None]] = {}
    stage_span: dict[int, int | None] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            start = ev["Submission Time"] / 1000.0
            job_start[ev["Job ID"]] = (start, span_of(ev.get("Properties")))
        elif kind == "SparkListenerJobEnd":
            start, sid = job_start.get(ev["Job ID"], (None, None))
            if start is None:
                continue
            for s in chain(sid):
                usage[s].jobs += 1
                usage[s].job_intervals.append((start, ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageSubmitted":
            stage_span[ev["Stage Info"]["Stage ID"]] = span_of(ev.get("Properties"))
        elif kind == "SparkListenerTaskEnd":
            stage = ev["Stage ID"]
            m = ev.get("Task Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            failed = (ev.get("Task End Reason") or {}).get("Reason") != "Success"
            for s in chain(stage_span.get(stage)):
                u = usage[s]
                u.tasks += 1
                u.task_s += run_s
                u.jvm_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                u.gc_s += m.get("JVM GC Time", 0) / 1000.0
                u.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
                u.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                u.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1000.0
                u.spill_b += m.get("Disk Bytes Spilled", 0)
                u.tasks_failed += int(failed)
                u.stage_task_s.setdefault(stage, []).append(run_s)
    return usage
