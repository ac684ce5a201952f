"""Tracing for the traced run: spans around public calls, captured operator
log lines, and Spark's own task metrics from its event log.

Nothing here changes the engine.  ``Tracer.patched()`` temporarily replaces
public functions with wrappers that record a span around each call; the
engine looks these names up on their modules at call time, so wrapping the
module attribute is enough.  Spark jobs are attributed afterwards to the
innermost span whose interval holds the job's submission time.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import logging
import os
import re
import time
from dataclasses import dataclass, field
from pathlib import Path

# (module, class or None, attribute, span name).  Names are looked up on the
# module at call time by every caller in the engine, so each patch covers all
# call sites that go through that module.
PATCH_POINTS = [
    ("rabbittclust_spark.sources.tables", None, "materialize", "tables.materialize"),
    ("rabbittclust_spark.plans.pipeline", None, "with_extracted_text", "extract.with_extracted_text"),
    ("rabbittclust_spark.plans.pipeline", None, "exact_dedup", "dedup.exact_dedup"),
    ("rabbittclust_spark.plans.pipeline", None, "sketch_minhash", "sketch.sketch_minhash"),
    ("rabbittclust_spark.plans.pipeline", None, "build_edges", "pairs.build_edges"),
    ("rabbittclust_spark.plans.pipeline", None, "connected_components", "components.connected_components"),
    ("rabbittclust_spark.plans.pipeline", None, "assignments_from_components", "postprocess.assignments_from_components"),
    ("rabbittclust_spark.streaming.incremental", None, "append_batch", "incremental.append_batch"),
    ("rabbittclust_spark.streaming.incremental", None, "sketch_minhash", "sketch.sketch_minhash"),
    ("rabbittclust_spark.streaming.incremental", None, "connected_components", "components.connected_components"),
    ("rabbittclust_spark.streaming.incremental", None, "query_topk", "incremental.query_topk"),
    ("rabbittclust_spark.operators.postprocess", None, "assignments_from_components", "postprocess.assignments_from_components"),
    ("pyspark.sql.readwriter", "DataFrameWriter", "parquet", "write"),
]


def _label(name: str, args: tuple, kwargs: dict) -> str | None:
    """Per-call label: the barrier name of a materialize, the last path
    component of a parquet write."""
    if name == "tables.materialize":
        return kwargs.get("name", args[1] if len(args) > 1 else "stage")
    if name == "write":
        path = str(kwargs.get("path", args[1] if len(args) > 1 else ""))
        base = os.path.basename(path.rstrip("/"))
        return "barrier" if base == "data" else base
    return None


@dataclass
class Span:
    name: str
    label: str | None
    start: float                    # epoch seconds (aligns with Spark's clock)
    parent: int
    depth: int
    end: float = 0.0
    children: list[int] = field(default_factory=list)
    jobs: list[int] = field(default_factory=list)   # innermost-attributed

    @property
    def key(self) -> str:
        return f"{self.name}[{self.label}]" if self.label else self.name

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, label: str | None = None):
        parent = self._stack[-1] if self._stack else -1
        s = Span(name, label, time.time(), parent, len(self._stack))
        idx = len(self.spans)
        self.spans.append(s)
        if parent >= 0:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        try:
            yield idx
        finally:
            s.end = time.time()
            self._stack.pop()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, _label(name, args, kwargs)):
                return fn(*args, **kwargs)
        return wrapper

    @contextlib.contextmanager
    def patched(self):
        """Install a span wrapper at every PATCH_POINT for the duration."""
        saved = []
        try:
            for mod, cls, attr, name in PATCH_POINTS:
                owner = importlib.import_module(mod)
                if cls:
                    owner = getattr(owner, cls)
                orig = owner.__dict__[attr]
                saved.append((owner, attr, orig))
                setattr(owner, attr, self._wrap(orig, name))
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    # ------------------------------------------------------------- queries
    def subtree(self, idx: int) -> list[int]:
        out, stack = [], [idx]
        while stack:
            i = stack.pop()
            out.append(i)
            stack.extend(self.spans[i].children)
        return out

    def find(self, root: int, name: str, label: str | None = None) -> list[int]:
        return [i for i in self.subtree(root)
                if self.spans[i].name == name
                and (label is None or self.spans[i].label == label)]

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        return s.wall - sum(self.spans[c].wall for c in s.children)


class LogCapture(logging.Handler):
    """Collects the operators' own log lines (the hot-key cap's)."""

    LOGGERS = ("rabbittclust_spark.operators.pairs",)
    _HOT = re.compile(r"max_posting=\d+ \[(\w+)\]: (\d+) hot keys covering (\d+) postings")

    def __init__(self) -> None:
        super().__init__(logging.INFO)
        self.records: list[tuple[float, str]] = []

    def emit(self, record: logging.LogRecord) -> None:
        self.records.append((record.created, record.getMessage()))

    def install(self) -> None:
        for name in self.LOGGERS:
            lg = logging.getLogger(name)
            lg.setLevel(logging.INFO)
            lg.addHandler(self)

    def between(self, t0: float, t1: float) -> list[str]:
        return [m for t, m in self.records if t0 <= t <= t1]

    def hot(self, t0: float, t1: float) -> tuple[int, int]:
        keys = posts = 0
        for m in self.between(t0, t1):
            if (x := self._HOT.search(m)):
                keys += int(x.group(2))
                posts += int(x.group(3))
        return keys, posts



# ------------------------------------------------------------- event log

@dataclass
class Job:
    submit: float                 # epoch seconds
    stages: list[int]
    tasks: int = 0
    stages_run: int = 0
    task_s: float = 0.0           # executor run time
    gc_s: float = 0.0
    shuffle_write: int = 0
    spill: int = 0
    out_records: int = 0
    out_bytes: int = 0


def read_event_log(log_dir: Path) -> dict[int, Job]:
    """Per-job totals from an uncompressed Spark event log (plain or
    rolling layout)."""
    def order(p: Path) -> tuple:
        # rolling logs are events_<n>_<app>: read them in n order
        parts = p.name.split("_")
        return (str(p.parent), int(parts[1]) if parts[0] == "events" else 0)

    files = sorted((p for p in log_dir.rglob("*") if p.is_file()
                    and not p.name.startswith((".", "appstatus"))), key=order)
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    j = Job(ev["Submission Time"] / 1000.0, list(ev["Stage IDs"]))
                    jobs[ev["Job ID"]] = j
                    for s in j.stages:
                        stage_job.setdefault(s, ev["Job ID"])
                elif kind == "SparkListenerStageCompleted":
                    j = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"], -1))
                    if j is not None:
                        j.stages_run += 1
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    m = ev.get("Task Metrics")
                    if j is None or not m:
                        continue
                    j.tasks += 1
                    j.task_s += m.get("Executor Run Time", 0) / 1000.0
                    j.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    j.shuffle_write += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
                    j.spill += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    out = m.get("Output Metrics", {})
                    j.out_records += out.get("Records Written", 0)
                    j.out_bytes += out.get("Bytes Written", 0)
    return jobs


def attribute(tracer: Tracer, jobs: dict[int, Job]) -> None:
    """Attach each job to the innermost span whose interval holds its
    submission time.  Spark truncates that time to the millisecond, so a
    span holds a job stamped up to 1 ms before its start; of two such
    siblings the later one does."""
    for jid, job in jobs.items():
        best = None
        for i, s in enumerate(tracer.spans):
            if s.start - 0.001 <= job.submit <= s.end and (
                    best is None or s.depth >= tracer.spans[best].depth):
                best = i
        if best is not None:
            tracer.spans[best].jobs.append(jid)


@dataclass
class Totals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    spill: int = 0
    out_records: int = 0
    out_bytes: int = 0


def totals(tracer: Tracer, jobs: dict[int, Job], roots: list[int]) -> Totals:
    """Spark totals over the jobs attributed to ``roots`` and their
    descendants (each span counted once)."""
    t = Totals()
    seen: set[int] = set()
    for r in roots:
        for i in tracer.subtree(r):
            if i in seen:
                continue
            seen.add(i)
            for jid in tracer.spans[i].jobs:
                j = jobs[jid]
                t.jobs += 1
                t.stages += j.stages_run
                t.tasks += j.tasks
                t.task_s += j.task_s
                t.gc_s += j.gc_s
                t.shuffle_write += j.shuffle_write
                t.spill += j.spill
                t.out_records += j.out_records
                t.out_bytes += j.out_bytes
    return t


def span_table(tracer: Tracer, roots: list[int]) -> list[dict]:
    """Per span key: calls, total wall and total self time over ``roots``'
    subtrees.  A root's self time is the part of the operation no
    instrumented call covers: the untraced remainder."""
    rows: dict[str, dict] = {}
    for r in roots:
        for i in tracer.subtree(r):
            s = tracer.spans[i]
            key = "untraced remainder" if i == r else s.key
            row = rows.setdefault(key, {"span": key, "calls": 0, "wall_s": 0.0,
                                        "self_s": 0.0})
            row["calls"] += 1
            row["wall_s"] += s.wall
            row["self_s"] += tracer.self_time(i)
    return sorted(rows.values(), key=lambda r: -r["self_s"])
