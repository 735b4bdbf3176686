"""In-memory spans around engine calls, and their Spark task counters.

A ``Recorder`` keeps spans (name, start, end, parent, run id) in memory.
The span name's first dotted part is its layer (``pip.broadcast`` is
layer ``pip``). With tracing on, opening a span also sets the
Spark job description of the calling thread to ``<name> #<span id>``, so
every job that thread submits is labelled in the event log.

After the run, ``fold_event_log`` reads the uncompressed Spark event
log and assigns each job, with the ``SparkListenerTaskEnd`` counters of
its tasks, to a span: by its job description when a span set one,
otherwise to the innermost span whose interval contains the job's
submission time (jobs from threads the engine spawns itself carry no
description).
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field

# build stage -> layer (pvt_spark module the stage's work lives in)
STAGE_LAYER = {
    "points_sorted": "hilbert_sort",
    "tile_tree": "tree",
    "content": "content",
    "way_features": "feature_h",
    "relation_features": "feature_h",
    "external_members": "external",
    "content_mp": "simplify",
    "tiles": "compose",
    "tile_manifest": "tile_manifest",
    "zoom_metrics": "tile_manifest",
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float  # epoch seconds, comparable with event-log times
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def dur(self) -> float:
        return self.end - self.start


class Recorder:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.sc = None  # a SparkContext when job descriptions are on
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._main_stack: list[Span] = []
        # perf_counter for durations, shifted once onto the epoch clock
        self._offset = time.time() - time.perf_counter()

    def now(self) -> float:
        return time.perf_counter() + self._offset

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        # spans opened on pool / callback threads hang under whatever the
        # main thread is doing (the build that spawned them)
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        s = Span(next(self._ids), name, parent.id if parent else None, self.run_id, self.now(), attrs=attrs)
        stack.append(s)
        sc = self.sc
        prev = sc.getLocalProperty("spark.job.description") if sc else None
        if sc:
            sc.setJobDescription(f"{name} #{s.id}")
        try:
            yield s
        finally:
            s.end = self.now()
            stack.pop()
            if sc:
                sc.setLocalProperty("spark.job.description", prev)
            with self._lock:
                self.spans.append(s)

    def named(self, prefix: str, after: float = 0.0) -> list[Span]:
        return [
            s for s in self.spans
            if (s.name == prefix or s.name.startswith(prefix + ".")) and s.start >= after
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(s.__dict__) + "\n")


def union_s(spans: list[Span]) -> float:
    """Wall time covered by at least one of the spans."""
    total, end = 0.0, float("-inf")
    for s in sorted(spans, key=lambda s: s.start):
        if s.end > end:
            total += s.end - max(s.start, end)
            end = s.end
    return total


@contextlib.contextmanager
def patched(owner, attr: str, wrapper):
    """Replace ``owner.attr`` by ``wrapper(original)`` while open."""
    orig = getattr(owner, attr)
    setattr(owner, attr, wrapper(orig))
    try:
        yield
    finally:
        setattr(owner, attr, orig)


def stage_spans(rec: Recorder):
    """Wrap ``plans.pipeline.Stage.run`` at class level while open: each
    build stage runs in its own span, named after its layer, on whichever
    pool thread the pipeline runs it."""
    from pvt_spark.plans.pipeline import Stage

    def wrap(orig):
        def run(self, spark, compute, writer=None, inputs=None):
            with rec.span(STAGE_LAYER.get(self.name, "pipeline"), stage=self.name):
                return orig(self, spark, compute, writer, inputs)

        return run

    return patched(Stage, "run", wrap)


@dataclass
class Job:
    id: int
    submitted: float
    description: str | None
    span: Span | None = None
    labelled: bool = False
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write_b: int = 0
    spill_b: int = 0
    input_b: int = 0
    output_b: int = 0


def fold_event_log(events_dir: str, spans: list[Span]) -> list[Job]:
    """Jobs of the (single, uncompressed) event log in ``events_dir`` with
    their task counters, each assigned to a span (None: no span held it)."""
    files = [f for f in glob.glob(os.path.join(events_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {events_dir}, found {files}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(files[0]) as f:
        for line in f:
            d = json.loads(line)
            ev = d["Event"]
            if ev == "SparkListenerJobStart":
                job = Job(
                    d["Job ID"],
                    d["Submission Time"] / 1000.0,
                    (d.get("Properties") or {}).get("spark.job.description"),
                )
                jobs[job.id] = job
                for sid in d["Stage IDs"]:
                    stage_job.setdefault(sid, job.id)
            elif ev == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(d["Stage ID"], -1))
                if job is None:
                    continue
                m = d.get("Task Metrics") or {}
                job.tasks += 1
                job.run_s += m.get("Executor Run Time", 0) / 1e3
                job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                job.shuffle_write_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                job.spill_b += m.get("Disk Bytes Spilled", 0)
                job.input_b += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                job.output_b += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    by_id = {s.id: s for s in spans}
    by_start = sorted(spans, key=lambda s: s.start)
    for job in jobs.values():
        _, _, sid = (job.description or "").rpartition(" #")
        if sid.isdigit() and int(sid) in by_id:
            job.span, job.labelled = by_id[int(sid)], True
            continue
        for s in by_start:
            if s.start <= job.submitted <= s.end:
                job.span = s  # latest-starting containing span = innermost
    return sorted(jobs.values(), key=lambda j: j.id)
