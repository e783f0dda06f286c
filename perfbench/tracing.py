"""In-memory spans around calls into the program's layers.

A `Tracer` records one `Span` per call: name, start, end, parent span and
the op it belongs to. Each span runs under its own Spark job group, so the
jobs a call launched are read back from the status tracker. Spans live in
memory until `Tracer.dump` writes them out at the end of a run.

`instrument` wraps the program's public functions in place (module
attributes, so calls the program makes between its own modules are seen
too) and `Tracer.restore` puts the originals back. A wrapped function that
returns a lazy DataFrame has its output materialised through the ``noop``
sink inside its span, so the execution it defines is attributed to that
layer, and cached until the op ends (`Tracer.release`), so the layers
above it do not run it again.

Caching changes the jobs the program's own actions run, so the scheduler
counts per op come from untraced ops instead, each run under a job group
of its own (`Tracer.counted`).
"""

from __future__ import annotations

import functools
import itertools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class Span:
    sid: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    noop_jobs: list[int] = field(default_factory=list)
    #: counts recorded at this boundary (rows out, bytes written, ...)
    counts: dict[str, float] = field(default_factory=dict)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[Span] = []
        self._patched: list[tuple[Any, str, Any]] = []
        self._cached: list[DataFrame] = []
        self._untraced = itertools.count()

    # -- spans --------------------------------------------------------------
    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def _group(self, span: Span | None) -> str | None:
        return None if span is None else f"perfbench-{span.sid}"

    def _jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self.op, parent and parent.sid, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(self._group(s))
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._group(parent))
            s.jobs = self._jobs(self._group(s))

    def materialize(self, span: Span, df: DataFrame) -> DataFrame:
        """Run ``df`` into the ``noop`` sink, counting its rows; returns
        it cached."""
        group = f"{self._group(span)}-noop"
        self.sc.setJobGroup(group, group)
        df = df.persist()
        self._cached.append(df)
        obs = Observation()
        try:
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                "noop"
            ).mode("overwrite").save()
            span.counts["rows"] = span.counts.get("rows", 0) + obs.get["rows"]
        finally:
            self._set_group(self._group(span))
        span.noop_jobs += self._jobs(group)
        return df

    def release(self) -> None:
        """Drop the cached outputs of `materialize`."""
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    @contextmanager
    def counted(self):
        """Run an untraced op under a job group of its own; yields a dict
        that holds its scheduler counts afterwards."""
        group = f"perfbench-untraced-{next(self._untraced)}"
        counts: dict[str, int] = {}
        self._set_group(group)
        try:
            yield counts
        finally:
            self._set_group(None)
            counts.update(self.scheduler_counts(self._jobs(group)))

    # -- wrapping -----------------------------------------------------------
    def instrument(
        self,
        owner: Any,
        attr: str,
        name: str | Callable[..., str],
        materialize: bool = False,
        after: Callable[[Span, Any, tuple, dict], None] | None = None,
    ) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span.

        ``name`` may be a function of the call's arguments (e.g. the table
        being written). With ``materialize`` a DataFrame result is run
        through the ``noop`` sink inside the span and returned cached;
        ``after`` records counts from the result."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with tracer.span(label) as s:
                out = orig(*args, **kwargs)
                if materialize and isinstance(out, DataFrame):
                    out = tracer.materialize(s, out)
                if after is not None:
                    after(s, out, args, kwargs)
            return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- read-out -----------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span duration minus the part its direct children cover (calls
        are sequential on one thread, so children never overlap)."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return {s.sid: (s.end - s.start) - child[s.sid] for s in self.spans}

    def scheduler_counts(self, jobs: list[int]) -> dict[str, int]:
        """Jobs, stages run and tasks completed, of the given jobs."""
        st = self.sc.statusTracker()
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                row["self_s"] = selfs[s.sid]
                f.write(json.dumps(row) + "\n")
