"""Spans and Spark job accounting for the traced benchmark run.

The traced run wraps the engine's public calls from outside: it replaces
methods and module functions with timing wrappers for the life of the
process, and changes no program file. Each span records its name, layer,
start, end, parent span and the id of the benchmark operation that caused
it, plus the Spark jobs launched while it was open.

Spark accounting: every benchmark operation runs under its own job group
(``SparkContext.setJobGroup``) and reads its job and task counts from
``statusTracker()``. Threads the engine spawns itself (``build_index``
and ``compact_index`` run parts concurrently) do not inherit the job
group, so counts use the job-id delta: job ids are sequential, and with
one client thread every job launched between a span's start and end
belongs to that span.
"""

from __future__ import annotations

import itertools
import threading
import time
import warnings
from contextlib import contextmanager
from dataclasses import dataclass, field


# benchmark operations whose direct DataFrame.collect runs the query
READ_OPS = ("api.search", "api.search_many")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    parent: int | None
    op: int | None
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class SparkAccounting:
    """Job and task counts from the status tracker of one SparkContext.

    The tracker is fed by Spark's listener bus, which runs behind the
    jobs by a few milliseconds, so a job that ends just as a span closes
    can be counted in the next span instead."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.hw = -1  # highest job id seen so far

    def high_water(self) -> int:
        """Highest job id launched so far (job ids are sequential)."""
        while self.tracker.getJobInfo(self.hw + 1) is not None:
            self.hw += 1
        return self.hw

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def group_jobs(self, group: str) -> int:
        return len(self.tracker.getJobIdsForGroup(group))

    def tasks(self, first_job: int, last_job: int) -> int:
        """Tasks completed by the stages of jobs first_job..last_job; a
        stage shared by several of these jobs counts once."""
        stages: set[int] = set()
        for jid in range(first_job, last_job + 1):
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        total = 0
        for sid in stages:
            st = self.tracker.getStageInfo(sid)
            if st is not None:
                total += st.numCompletedTasks
        return total


class Tracer:
    """In-memory span recorder for one client thread.

    ``enabled`` switches recording on and off between operations, so one
    traced run can time some operations with tracing and some without and
    report the difference as the tracing overhead."""

    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = True
        self.spark: SparkAccounting | None = None
        self._ids = itertools.count()
        self._local = threading.local()
        self.op_warnings: dict[int, list[str]] = {}

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, layer: str, own_group: bool = False,
             count_jobs: bool = True, **attrs):
        """A span, nested under the thread's open span. ``own_group`` runs
        it under its own Spark job group (benchmark operations do);
        ``count_jobs=False`` skips job accounting for spans too short to
        launch a job."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(
            id=next(self._ids), name=name, layer=layer,
            start=time.perf_counter(),
            parent=parent.id if parent else None,
            op=parent.op if parent else None, attrs=attrs,
        )
        if s.op is None:
            s.op = s.id
        spark = self.spark if count_jobs else None
        first = spark.high_water() + 1 if spark else 0
        group = f"perfbench-op-{s.id}"
        if spark and own_group:
            spark.set_group(group)
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.perf_counter()
            if spark is not None:
                last = spark.high_water()
                if own_group:
                    spark.set_group(None)
                    s.attrs["group_jobs"] = spark.group_jobs(group)
                s.jobs = max(0, last - first + 1)
                if parent is None and s.jobs:
                    s.tasks = spark.tasks(first, last)
            self.spans.append(s)

    @contextmanager
    def op(self, name: str, layer: str, **attrs):
        """One benchmark operation: a top-level span under its own Spark
        job group, with the warnings it raised recorded."""
        if not self.enabled:
            yield None
            return
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            with self.span(name, layer, own_group=True, **attrs) as s:
                yield s
        self.op_warnings[s.id] = [str(w.message) for w in caught]

    def wrap(self, fn, name: str, layer: str, after=None,
             count_jobs: bool = True):
        """``fn`` recording a span per call while tracing is enabled.
        ``after(span, result)`` may add attributes to the span."""
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name, layer, count_jobs=count_jobs) as s:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(s, out)
                return out

        traced.__wrapped__ = fn
        return traced

    # -- summaries -----------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span id -> its duration minus the time its child spans cover."""
        covered: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] = covered.get(s.parent, 0.0) + s.dur
        return {s.id: s.dur - covered.get(s.id, 0.0) for s in self.spans}

    def dump(self) -> list[dict]:
        self_t = self.self_times()
        return [
            {
                "id": s.id, "name": s.name, "layer": s.layer,
                "start": s.start, "end": s.end, "parent": s.parent,
                "op": s.op, "self_s": self_t[s.id], "jobs": s.jobs,
                "tasks": s.tasks,
                **s.attrs,
            }
            for s in sorted(self.spans, key=lambda s: s.start)
        ]


def instrument(tracer: Tracer, query_mod, api_mod, compaction_mod,
               dataframe_cls) -> None:
    """Install the tracing wrappers for the rest of the process.

    Wrapped: SearchEngine construction, dictionary lookups
    (lookup_terms), the lazy plan builders search/search_many, driver-side
    query analysis, the incremental merge and compaction behind the API,
    and DataFrame.collect
    when a read op's API envelope itself calls it (the query's
    execution)."""
    SE = query_mod.SearchEngine
    patch = setattr

    def term_dfs(span, out):
        infos, n_missing = out
        span.attrs["dfs"] = [int(ti.df) for ti in infos]
        span.attrs["n_missing"] = int(n_missing)

    patch(SE, "__init__", tracer.wrap(SE.__init__, "query.init", "query.init"))
    patch(SE, "lookup_terms", tracer.wrap(
        SE.lookup_terms, "query.lookup_terms", "query.lookup",
        after=term_dfs))
    patch(SE, "search", tracer.wrap(SE.search, "query.search", "query.plan"))
    patch(SE, "search_many", tracer.wrap(
        SE.search_many, "query.search_many", "query.plan"))
    patch(query_mod, "analyze_text", tracer.wrap(
        query_mod.analyze_text, "analyzer.analyze_text", "analyzer",
        count_jobs=False))
    patch(api_mod, "incremental_update", tracer.wrap(
        api_mod.incremental_update, "incremental.update", "incremental"))
    patch(compaction_mod, "compact_index", tracer.wrap(
        compaction_mod.compact_index, "compaction.compact", "compaction"))

    collect = dataframe_cls.collect
    exec_collect = tracer.wrap(collect, "spark.collect", "query.exec")

    def collect_at_op(self):
        cur = tracer.current()
        if cur is not None and cur.name in READ_OPS:
            return exec_collect(self)
        return collect(self)

    patch(dataframe_cls, "collect", collect_at_op)
