"""Spans around the program's public calls, joined with the Spark event log.

A span records name, start, end, parent and the batch it belongs to, and
labels the Spark jobs started inside it (``<name>#<id>`` as the job
description). After the run the event log (written through the session's
``SPARK_GRAFT_EVENTLOG_DIR`` hook) gives each label its jobs, tasks,
task time, GC, shuffle, spill and bytes. Per-job counts come from
``tools/analyze_bench_events.py``; the byte counters it does not read
come from ``io_by_label`` below.

Lazy calls (``CdcPipeline.transform``, ``latest_by_key``, ``row_gate``)
only build a plan: their spans hold plan-build time, and the work they
describe runs, and is counted, inside the ``parquet_sink.merge`` /
``parquet_sink.overwrite`` span that executes it.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time
from collections import defaultdict
from dataclasses import dataclass

IO_FIELDS = (
    "shuffle_bytes",
    "spill_bytes",
    "bytes_written",
    "rows_written",
    "bytes_read",
    "rows_read",
)
JOB_FIELDS = ("jobs", "stages", "tasks", "wall_s", "task_s", "gc_s", "max_task_s")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    batch: int | None
    start: float
    end: float = 0.0
    tag: str | None = None  # e.g. the table a sink call works on

    @property
    def label(self) -> str:
        return f"{self.name}#{self.id}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; otherwise every call is a pass-through.

    One stack serves the run: the main thread holds at most the outer
    span while a stream's foreachBatch thread opens the inner ones."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, batch: int | None = None, tag: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if batch is None and parent is not None:
            batch = parent.batch
        pid = parent.id if parent is not None else None
        s = Span(len(self.spans), name, pid, batch, time.perf_counter(), tag=tag)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobDescription(s.label)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(self._stack[-1].label if self._stack else None)

    def wrap(self, name: str, fn, batch_arg: int | None = None, tag_arg: int | None = None):
        """``fn`` inside a span; ``batch_arg`` and ``tag_arg`` are the
        positions of the arguments that carry the batch id and the tag."""

        def traced(*args, **kwargs):
            def arg(i):
                return args[i] if i is not None and i < len(args) else None

            with self.span(name, arg(batch_arg), arg(tag_arg)):
                return fn(*args, **kwargs)

        return traced

    def instrument(self, pipeline, sink) -> contextlib.ExitStack:
        """Wrap the pipeline's and sink's public calls on these instances
        and the two lazy operators the pipeline calls by module name.
        Module attributes are restored when the returned stack closes."""
        stack = contextlib.ExitStack()
        if not self.enabled:
            return stack
        pipeline.materialize_batch = self.wrap(
            "pipeline.materialize_batch", pipeline.materialize_batch, batch_arg=1
        )
        pipeline.transform = self.wrap("pipeline.transform", pipeline.transform)
        # position of the table argument of each sink call
        for m, table_arg in (
            ("merge", 1),
            ("overwrite", 1),
            ("compact", 1),
            ("vacuum", 0),
            ("prune_generations", None),
            ("publish_generation", None),
        ):
            setattr(sink, m, self.wrap(f"parquet_sink.{m}", getattr(sink, m), tag_arg=table_arg))

        from snowflake_cdc_spark.operators import expectations
        from snowflake_cdc_spark.sinks import parquet_sink
        from snowflake_cdc_spark.streaming import pipeline as pipeline_mod

        patches = [
            (pipeline_mod, "latest_by_key", "upsert.latest_by_key"),
            (parquet_sink, "latest_by_key", "upsert.latest_by_key"),
            (expectations, "row_gate", "expectations.row_gate"),
        ]
        for module, attr, name in patches:
            orig = getattr(module, attr)
            setattr(module, attr, self.wrap(name, orig))
            stack.callback(setattr, module, attr, orig)
        return stack

    # ---- analysis --------------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                out[s.parent].append(s)
        return out

    def self_seconds(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        kids = self.children()
        return {s.id: s.seconds - covered(s, kids.get(s.id, [])) for s in self.spans}

    def descendants(self, span: Span, kids=None) -> list[Span]:
        kids = kids if kids is not None else self.children()
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, []))
        return out


def covered(span: Span, kids: list[Span]) -> float:
    """Length of the union of the children's intervals, clipped to
    ``span`` (children of a foreachBatch thread may overlap)."""
    total, end = 0.0, span.start
    for k in sorted(kids, key=lambda k: k.start):
        lo, hi = max(k.start, end, span.start), min(k.end, span.end)
        if hi > lo:
            total += hi - lo
            end = hi
    return total


def jobs_by_label(event_dir: str) -> dict[str, dict[str, float]]:
    """Per job description: jobs, stages, tasks, job wall, task time, GC
    and longest task, as ``tools/analyze_bench_events.py`` reports them."""
    from tools import analyze_bench_events  # the checkout root is on sys.path

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        analyze_bench_events.main(event_dir, top_n=sys.maxsize)
    out = {}
    for line in buf.getvalue().splitlines()[1:]:
        parts = line.split()
        if len(parts) != 9:
            continue
        jobs, stages, tasks = (int(x) for x in parts[1:4])
        wall, task, gc, mx = (float(x) for x in parts[4:8])
        out[parts[0]] = dict(
            jobs=jobs, stages=stages, tasks=tasks, wall_s=wall, task_s=task, gc_s=gc, max_task_s=mx
        )
    return out


def log_files(event_dir: str) -> list[str]:
    """Event log files under ``event_dir``; a rolling log is a directory
    of ``events_*`` parts."""
    out = []
    for name in sorted(os.listdir(event_dir)):
        path = os.path.join(event_dir, name)
        if os.path.isdir(path):
            out += [os.path.join(path, p) for p in sorted(os.listdir(path)) if p.startswith("events_")]
        elif not name.startswith("."):
            out.append(path)
    return out


def io_by_label(event_dir: str) -> dict[str, dict[str, float]]:
    """Per job description: shuffle, spill, output and input counters of
    its tasks (the fields ``analyze_bench_events`` does not read)."""
    stage_desc: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(IO_FIELDS, 0))
    for path in log_files(event_dir):
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    desc = (ev.get("Properties") or {}).get("spark.job.description", "?")
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[sid] = desc
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    m = ev.get("Task Metrics") or {}
                    o = out[stage_desc.get(ev["Stage ID"], "?")]
                    o["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    o["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    o["rows_written"] += (m.get("Output Metrics") or {}).get("Records Written", 0)
                    o["bytes_read"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    o["rows_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return dict(out)


class Layers:
    """Span durations and event-log counters, summed by span name."""

    def __init__(self, tracer: Tracer, event_dir: str):
        self.tracer = tracer
        self.jobs = jobs_by_label(event_dir)
        self.io = io_by_label(event_dir)
        self.self_s = tracer.self_seconds()
        self.kids = tracer.children()

    def spans(self, name: str, batches: set[int] | None = None) -> list[Span]:
        return [
            s
            for s in self.tracer.spans
            if s.name == name and (batches is None or s.batch in batches)
        ]

    def seconds(self, name: str, batches=None) -> float:
        return sum(s.seconds for s in self.spans(name, batches))

    def self_seconds(self, name: str, batches=None) -> float:
        return sum(self.self_s[s.id] for s in self.spans(name, batches))

    def counters(self, spans: list[Span]) -> dict[str, float]:
        """Event-log counters of the jobs started inside ``spans`` or any
        span below them; ``max_task_s`` is a maximum, the rest are sums."""
        total = dict.fromkeys(JOB_FIELDS + IO_FIELDS, 0.0)
        seen = set()
        for top in spans:
            for s in self.tracer.descendants(top, self.kids):
                if s.id in seen:
                    continue
                seen.add(s.id)
                for src in (self.jobs.get(s.label), self.io.get(s.label)):
                    for k, v in (src or {}).items():
                        total[k] = max(total[k], v) if k == "max_task_s" else total[k] + v
        return total

    def self_time_table(self) -> list[dict]:
        """One row per span name: calls, total and self seconds, jobs."""
        rows: dict[str, dict] = {}
        for s in self.tracer.spans:
            r = rows.setdefault(s.name, dict(span=s.name, calls=0, total_s=0.0, self_s=0.0, jobs=0))
            r["calls"] += 1
            r["total_s"] += s.seconds
            r["self_s"] += self.self_s[s.id]
            r["jobs"] += (self.jobs.get(s.label) or {}).get("jobs", 0)
        return sorted(rows.values(), key=lambda r: -r["self_s"])
