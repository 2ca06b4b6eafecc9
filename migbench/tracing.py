"""Spans around calls into the engine's layers, timed from outside.

A span covers one call into a layer's public function. Each span adds a
Spark job tag while it is open; afterwards every Spark job the traced job
launched is attributed to the innermost span whose tag it carries, and the
job's stage metrics are read from the status store (no UI, no REST).

Lazy layers return a DataFrame that their caller acts on later (``verify``
calls ``group_checksum(...).first()``; ``run_incremental`` collects
``delta_counts(...)``). So the actions of a frame a wrapped function
returned open a child span of the same layer, marked as an action span: the
job that runs the plan is charged to the layer that built it, while the
layer's plan-build time counts its call spans only. Work fused into a later
action (the reader, cast and mapping chain written by the sink) is charged
to the layer whose action ran it.

Wrapping swaps module attributes and returned frames' methods only; the
program issues the same Spark jobs either way, which ``run.py`` checks by
counting jobs with and without tracing.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import time
from dataclasses import dataclass, field

# DataFrame methods that launch Spark jobs on the frame itself
ACTIONS = ("collect", "count", "first", "head", "take", "toPandas",
           "localCheckpoint", "checkpoint", "isEmpty", "toLocalIterator")


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    depth: int
    start: float
    end: float | None = None
    # an action on a frame the layer returned, not a call into the layer
    action: bool = False

    @property
    def tag(self) -> str:
        return f"migbench-span-{self.sid}"

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of its interval that its
    children cover (overlapping children count once)."""
    covered, reach = 0.0, span.start
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, reach, span.start), min(c.end, span.end)
        if hi > lo:
            covered += hi - lo
            reach = hi
    return span.duration - covered


def attribute(job_spans: dict[int, set[int]],
              spans: dict[int, Span]) -> dict[int, int]:
    """Map each job to the innermost span whose tag it carries.

    ``job_spans`` maps a job id to the ids of the spans whose tags it
    carries. The spans open when a job starts form one chain from the root,
    so the deepest one is the innermost; a job whose spans are not one
    chain is an error in the tracing, not a choice to make.
    """
    out = {}
    for job, sids in job_spans.items():
        if not sids:
            raise ValueError(f"job {job} carries no span tag")
        inner = max(sids, key=lambda s: spans[s].depth)
        chain, s = set(), inner
        while s is not None:
            chain.add(s)
            s = spans[s].parent
        if not sids <= chain:
            raise ValueError(f"job {job} carries tags of unnested spans "
                             f"{sorted(sids)}")
        out[job] = inner
    return out


@dataclass
class StageTotals:
    task_s: float = 0.0
    input_bytes: int = 0
    input_rows: int = 0
    output_bytes: int = 0
    output_rows: int = 0
    shuffle_write_bytes: int = 0

    def add(self, other: "StageTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class JobTrace:
    """One traced benchmark job: its spans, and each Spark job's span and
    stage totals."""

    spans: dict[int, Span]
    job_span: dict[int, int]
    job_stages: dict[int, StageTotals] = field(default_factory=dict)

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans.values() if s.parent == sid]

    def in_layer(self, layer: str, name: str | None = None) -> list[Span]:
        """The outermost spans of ``layer`` (optionally of one function):
        spans with no ancestor of the same layer."""
        out = []
        for s in self.spans.values():
            if s.layer != layer or (name and not s.name.startswith(name)):
                continue
            p = s.parent
            while p is not None and self.spans[p].layer != layer:
                p = self.spans[p].parent
            if p is None:
                out.append(s)
        return out

    def under(self, roots: list[Span]) -> set[int]:
        """Ids of ``roots`` and every span below them."""
        ids = {s.sid for s in roots}
        grew = True
        while grew:
            new = {s.sid for s in self.spans.values() if s.parent in ids}
            grew = not new <= ids
            ids |= new
        return ids

    def jobs_in(self, sids: set[int]) -> list[int]:
        return [j for j, s in self.job_span.items() if s in sids]

    def stages(self, jobs) -> StageTotals:
        tot = StageTotals()
        for j in jobs:
            tot.add(self.job_stages.get(j, StageTotals()))
        return tot

    def layer(self, layer: str, name: str | None = None):
        """(wall_s, jobs, stage totals) of a layer: wall is the outermost
        spans' inclusive time; jobs are those attributed to its spans."""
        roots = self.in_layer(layer, name)
        below = self.under(roots)
        own = {s.sid for s in self.spans.values()
               if s.layer == layer and s.sid in below}
        jobs = self.jobs_in(own)
        return sum(s.duration for s in roots), jobs, self.stages(jobs)

    def build_s(self, layer: str) -> float:
        """Driver time of a lazy layer's calls: its outermost call spans,
        without the actions later run on the frames it returned."""
        return sum(s.duration for s in self.in_layer(layer) if not s.action)


class Tracer:
    """Opens spans and reads back which Spark jobs ran in them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._ids = itertools.count()
        self.spans: dict[int, Span] = {}
        self.stack: list[Span] = []
        self._counted_stages: set[int] = set()

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, layer: str, action: bool = False):
        parent = self.stack[-1] if self.stack else None
        s = Span(next(self._ids), name, layer,
                 parent.sid if parent else None,
                 parent.depth + 1 if parent else 0, time.perf_counter(),
                 action=action)
        self.spans[s.sid] = s
        self.stack.append(s)
        self.sc.addJobTag(s.tag)
        try:
            yield s
        finally:
            self.sc.removeJobTag(s.tag)
            self.stack.pop()
            s.end = time.perf_counter()

    def wrap(self, fn, layer: str, name: str):
        """``fn`` inside a span; a DataFrame it returns gets action spans."""
        from pyspark.sql import DataFrame

        spanned = self._spanned(fn, layer, name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            out = spanned(*args, **kwargs)
            if isinstance(out, DataFrame):
                for action in ACTIONS:
                    # an instance attribute shadows the class method for
                    # this frame only; frames derived from it are untouched
                    setattr(out, action, self._spanned(
                        getattr(out, action), layer, f"{name}.{action}",
                        action=True))
            return out
        return traced

    def _spanned(self, fn, layer: str, name: str, action: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer, action):
                return fn(*args, **kwargs)
        return traced

    @contextlib.contextmanager
    def patched(self, targets):
        """Install wrappers for ``targets`` — ``(owner, attr, layer,
        name)`` with ``owner`` a module or class — and restore the
        originals on exit."""
        saved = []
        try:
            for owner, attr, layer, name in targets:
                orig = getattr(owner, attr)
                saved.append((owner, attr, orig))
                setattr(owner, attr, self.wrap(orig, layer, name))
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    # -- read back ---------------------------------------------------------
    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds each finished job and stage."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def jobs_for(self, tag: str) -> set[int]:
        self.drain()
        return set(self._jsc.statusTracker().getJobIdsForTag(tag))

    def next_job_id(self) -> int:
        """The id the scheduler gives the next job: the difference across
        a window is the number of jobs launched in it, from any thread."""
        self.drain()
        return int(self._jsc.dagScheduler().nextJobId())

    def collect(self, root: Span) -> JobTrace:
        """Attribute every job under ``root`` and read its stage totals."""
        store = self._jsc.statusStore()
        ours = {s.tag: s.sid for s in self.spans.values()}
        job_spans = {}
        for j in sorted(self.jobs_for(root.tag)):
            tags = store.job(j).jobTags()
            job_spans[j] = {ours[t] for t in
                            (tags.apply(i) for i in range(tags.length()))
                            if t in ours}
        trace = JobTrace(dict(self.spans), attribute(job_spans, self.spans))
        for j in job_spans:
            trace.job_stages[j] = self._stage_totals(store, j)
        self.spans.clear()
        return trace

    def _stage_totals(self, store, job: int) -> StageTotals:
        """Totals over the job's stages not yet charged to an earlier job:
        a reused shuffle stage is listed (skipped) by every later job."""
        tot = StageTotals()
        ids = store.job(job).stageIds()
        for sid in (ids.apply(i) for i in range(ids.length())):
            if sid in self._counted_stages:
                continue
            self._counted_stages.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue
            tot.add(StageTotals(
                task_s=st.executorRunTime() / 1000.0,
                input_bytes=st.inputBytes(), input_rows=st.inputRecords(),
                output_bytes=st.outputBytes(),
                output_rows=st.outputRecords(),
                shuffle_write_bytes=st.shuffleWriteBytes()))
        return tot
