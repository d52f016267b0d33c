"""Spans recorded around the benchmark's calls into engine layers, and the
Spark event-log parser that turns a traced run's jobs into work per span.

Spans live in memory and are written out once, when the benchmark ends.
On the thread that drives the benchmark every span also sets a Spark job
group named after the span, so each job it launches can be attributed
exactly; a job launched under another group (a streaming query labels
its jobs with its run id) goes to the innermost span open when it was
submitted.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from .stats import median

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    op: str
    span_id: str
    parent: str | None
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` costs nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op = "setup"  # the operation id new spans carry
        self._open: list[Span] = []
        self._lock = threading.Lock()
        self._sc = None
        self._main = threading.get_ident()

    def label_jobs(self, spark_context) -> None:
        """Start setting job groups on the driving thread."""
        self._sc = spark_context

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        with self._lock:
            # one stack for all threads: the driving thread blocks while a
            # streaming callback thread runs, so the innermost open span is
            # the caller of whatever opens next
            parent = self._open[-1].span_id if self._open else None
            s = Span(name, self.op, f"{self.op}/{len(self.spans)}", parent, time.time())
            self.spans.append(s)
            self._open.append(s)
        sc = self._sc if threading.get_ident() == self._main else None
        prev = None
        if sc is not None:
            prev = sc.getLocalProperty(_GROUP)
            sc.setJobGroup(s.span_id, name)
        try:
            yield s
        finally:
            s.end = time.time()
            if sc is not None:
                sc.setLocalProperty(_GROUP, prev)
            with self._lock:
                self._open.remove(s)

    def wrap(self, obj, attr: str, name: str) -> None:
        """Route calls of ``obj.attr`` through a span. Sets an instance
        attribute, so only this handle is traced, and only when enabled."""
        if not self.enabled:
            return
        fn = getattr(obj, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(obj, attr, traced)

    def durations(self, name: str, ops: list[str]) -> list[float]:
        """Per operation in ``ops``, the summed duration of ``name`` spans
        (operations without one are left out)."""
        per_op: dict[str, float] = {}
        for s in self.spans:
            if s.name == name and s.op in ops:
                per_op[s.op] = per_op.get(s.op, 0.0) + s.duration
        return [per_op[o] for o in ops if o in per_op]

    def dump(self, path: str, work: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], "work": work or {}}, fh)


# ------------------------------------------------------------ event log


@dataclass
class Work:
    """What the jobs attributed to one span did."""

    jobs: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    #: executor run time of each task, per stage
    task_ms: dict[int, list[int]] = field(default_factory=dict)


def read_event_log(path: str) -> tuple[list[dict], dict[int, int], list[dict]]:
    """Parse an uncompressed event log (one file, or a directory of rolled
    ``events_*`` files) into ``(jobs, stage_to_job, tasks)``.

    ``jobs``: ``{"job": id, "group": job group or None, "submit_ms": ms}``;
    ``tasks``: ``{"stage", "run_ms", "shuffle_write", "spill"}`` where
    spill counts bytes written to disk."""
    if os.path.isdir(path):
        files = sorted(
            (os.path.join(path, f) for f in os.listdir(path) if f.startswith("events_")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
    else:
        files = [path]
    jobs, stage_job, tasks = [], {}, []
    for f in files:
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append(
                        {
                            "job": ev["Job ID"],
                            "group": props.get(_GROUP),
                            "submit_ms": ev.get("Submission Time", 0),
                        }
                    )
                    for sid in ev.get("Stage IDs", []):
                        # a stage runs in the first job that lists it; later
                        # jobs list it again only to skip it
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "run_ms": m.get("Executor Run Time", 0),
                            "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            "spill": m.get("Disk Bytes Spilled", 0),
                        }
                    )
    return jobs, stage_job, tasks


def attribute(
    jobs: list[dict], stage_job: dict[int, int], tasks: list[dict], spans: list[Span]
) -> dict[str, Work]:
    """Work per span id: a job belongs to the span its job group names,
    else to the innermost span open at its submission; its stages' tasks
    follow it. Jobs outside every span are dropped."""
    by_id = {s.span_id: s for s in spans}
    ordered = sorted(spans, key=lambda s: s.start)
    owner_of_job: dict[int, str] = {}
    for j in jobs:
        owner = j["group"] if j["group"] in by_id else None
        if owner is None:
            t = j["submit_ms"] / 1000.0
            covering = [s for s in ordered if s.start <= t <= s.end]
            owner = covering[-1].span_id if covering else None
        if owner is not None:
            owner_of_job[j["job"]] = owner
    out: dict[str, Work] = {}
    for job, owner in owner_of_job.items():
        out.setdefault(owner, Work()).jobs += 1
    for t in tasks:
        owner = owner_of_job.get(stage_job.get(t["stage"], -1))
        if owner is None:
            continue
        w = out.setdefault(owner, Work())
        w.shuffle_write_bytes += t["shuffle_write"]
        w.spill_bytes += t["spill"]
        w.task_ms.setdefault(t["stage"], []).append(t["run_ms"])
    return out


def task_skew(stage_task_ms: list[list[int]]) -> float:
    """Median over stages of (slowest task / median task); stages with a
    single task have no skew to show and are skipped. 0.0 when none is left."""
    ratios = [
        max(ms) / max(median(ms), 1.0) for ms in stage_task_ms if len(ms) > 1
    ]
    return median(ratios) if ratios else 0.0


def layer_work(spans: list[Span], work: dict[str, Work], ops: list[str], layers: list[str]) -> dict:
    """Per layer (span-name prefix), over the operations ``ops``: jobs,
    shuffle write and spill per operation, and the task-time skew of its
    stages. A job counts for every layer on its span's ancestor chain,
    once each, so work inside a nested call also counts for its caller."""
    by_id = {s.span_id: s for s in spans}
    wanted = set(ops)
    totals = {layer: Work() for layer in layers}
    for span_id, w in work.items():
        s = by_id[span_id]
        if s.op not in wanted:
            continue
        chain = set()
        while s is not None:
            chain.add(s.name.split(".")[0])
            s = by_id.get(s.parent)
        for layer in chain & set(layers):
            t = totals[layer]
            t.jobs += w.jobs
            t.shuffle_write_bytes += w.shuffle_write_bytes
            t.spill_bytes += w.spill_bytes
            t.task_ms.update(w.task_ms)  # a stage runs in one job, so ids never clash
    n = max(1, len(ops))
    out = {}
    for layer, t in totals.items():
        out[f"{layer}.jobs"] = t.jobs / n
        out[f"{layer}.shuffle_write_mb"] = t.shuffle_write_bytes / n / 2**20
        out[f"{layer}.spill_mb"] = t.spill_bytes / n / 2**20
        out[f"{layer}.task_skew"] = task_skew(list(t.task_ms.values()))
    return out
