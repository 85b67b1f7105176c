"""Span tracing from outside the program.

A span is recorded around each call into a public callable of the
engine's layer modules: name, start, end, parent. Functions are patched
in every loaded module namespace that holds them (so ``from x import f``
callers are traced too); methods are patched on their class.

Spark work is attributed per span. Each Spark-side span sets its own job
group and records the scheduler's next job id at entry and exit. After
the run, ``statusTracker`` gives each group's jobs; a job outside every
span group (streaming micro-batches run under their query's group) goes
to the innermost span open when it was submitted: job ids are handed out
in submission order and the client is single-threaded. Spans stay in
memory until ``write``.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from dataclasses import dataclass, field

# Cursor classes are pure client code (pyarrow reads, no Spark job). Their
# spans skip the job-id reads so tracing stays cheap on millisecond ops;
# a job they ran would still land in the enclosing Spark-side span.
CLIENT_CLASSES = ("PointLookupCursor", "SearchCursor", "VectorSearchCursor")
LAYER_PACKAGES = ("operators", "sources", "plans.registry")


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    spark: bool = True
    job_lo: int = 0
    job_hi: int = 0
    jobs: list[int] = field(default_factory=list)  # own jobs (not children's)
    tasks: int = 0
    rows: int = 0  # length of a list result (cursor reads)

    @property
    def s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, package: str):
        self.sc = spark.sparkContext
        self.package = package
        self._dag = self.sc._jsc.sc().dagScheduler()
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._kids: dict | None = None  # parent -> child spans, built on demand
        self.overhead_s = 0.0  # time spent in span bookkeeping

    def next_job_id(self) -> int:
        v = self._dag.nextJobId()
        return v if isinstance(v, int) else v.get()

    # ------------------------------------------------------------ spans

    def open(self, name: str, spark: bool = True) -> int:
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, parent, 0.0, spark=spark)
        if spark:
            sp.job_lo = self.next_job_id()
            self.sc.setLocalProperty("spark.jobGroup.id", f"span-{len(self.spans)}")
        self.spans.append(sp)
        self._kids = None
        idx = len(self.spans) - 1
        self._stack.append(idx)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        return idx

    def close(self, idx: int) -> None:
        t0 = time.perf_counter()
        sp = self.spans[idx]
        sp.end = t0
        self._stack.pop()
        if sp.spark:
            sp.job_hi = self.next_job_id()
            outer = next(
                (i for i in reversed(self._stack) if self.spans[i].spark), None
            )
            self.sc.setLocalProperty(
                "spark.jobGroup.id", None if outer is None else f"span-{outer}"
            )
        self.overhead_s += time.perf_counter() - t0

    def span(self, name: str, spark: bool = True):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.idx = tracer.open(name, spark)
                return self.idx

            def __exit__(self, *exc):
                tracer.close(self.idx)
                return False

        return _Ctx()

    def wrap(self, fn, name: str, spark: bool):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.open(name, spark)
            try:
                out = fn(*args, **kwargs)
                if isinstance(out, list):
                    self.spans[idx].rows = len(out)
                return out
            finally:
                self.close(idx)

        return traced

    # ---------------------------------------------------------- patching

    def install(self) -> int:
        """Wrap every public function and client-class method defined in
        the layer modules. Returns the number of callables wrapped."""
        layer_mods = [
            m
            for name, m in list(sys.modules.items())
            if m is not None
            and any(name.startswith(f"{self.package}.{p}") for p in LAYER_PACKAGES)
        ]
        loaded = [
            m for name, m in list(sys.modules.items())
            if m is not None and (name.startswith(self.package) or name.startswith("perfbench"))
        ]
        n = 0
        for mod in layer_mods:
            short = mod.__name__.rsplit(".", 1)[-1]
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    wrapped = self.wrap(obj, f"{short}.{attr}", spark=True)
                    for holder in loaded:
                        for hattr, hval in list(vars(holder).items()):
                            if hval is obj:
                                setattr(holder, hattr, wrapped)
                    n += 1
                elif inspect.isclass(obj):
                    client = obj.__name__ in CLIENT_CLASSES
                    for mname, meth in list(vars(obj).items()):
                        if mname.startswith("_") or not inspect.isfunction(meth):
                            continue
                        setattr(
                            obj, mname,
                            self.wrap(meth, f"{short}.{obj.__name__}.{mname}", spark=not client),
                        )
                        n += 1
        return n

    # -------------------------------------------------------- attribution

    def attribute(self, job_lo: int, job_hi: int) -> dict:
        """Assign every job in [job_lo, job_hi) to its span: by job group,
        else to the innermost Spark-side span open when it was submitted.
        Every executed stage's completed tasks go to the first job that
        lists the stage. Returns the run totals."""
        self._drain()
        st = self.sc.statusTracker()
        spark_spans = [i for i, s in enumerate(self.spans) if s.spark]
        by_group = {j: i for i in spark_spans for j in st.getJobIdsForGroup(f"span-{i}")}
        seen_stages: set[int] = set()
        missing = 0
        unattributed = 0
        tasks_total = 0
        for j in range(job_lo, job_hi):
            owner = by_group.get(j)
            if owner is None:
                for i in spark_spans:  # in open order: the last match is innermost
                    if self.spans[i].job_lo <= j < self.spans[i].job_hi:
                        owner = i
            info = st.getJobInfo(j)
            if info is None:
                missing += 1
                continue
            tasks = 0
            for sid in info.stageIds:
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                si = st.getStageInfo(sid)
                if si is not None:
                    tasks += si.numCompletedTasks
            tasks_total += tasks
            if owner is None:
                unattributed += 1
                continue
            self.spans[owner].jobs.append(j)
            self.spans[owner].tasks += tasks
        return {
            "jobs_total": job_hi - job_lo,
            "jobs_by_group": sum(job_lo <= j < job_hi for j in by_group),
            "jobs_in_spans": sum(len(s.jobs) for s in self.spans),
            "jobs_unattributed": unattributed,
            "jobs_missing": missing,
            "tasks_total": tasks_total,
        }

    def _drain(self) -> None:
        bus = self.sc._jsc.sc().listenerBus()
        try:
            bus.waitUntilEmpty()
        except Exception:  # noqa: BLE001 - older signature takes a timeout
            bus.waitUntilEmpty(60_000)

    # ------------------------------------------------------------ queries

    def children(self, idx: int) -> list[int]:
        if self._kids is None:
            self._kids = {}
            for i, s in enumerate(self.spans):
                self._kids.setdefault(s.parent, []).append(i)
        return self._kids.get(idx, [])

    def descendants(self, idx: int) -> list[int]:
        out, todo = [], [idx]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(kids)
        return out

    def inclusive(self, idx: int) -> tuple[int, int]:
        """(jobs, tasks) of a span and everything below it."""
        ids = [idx, *self.descendants(idx)]
        return (
            sum(len(self.spans[i].jobs) for i in ids),
            sum(self.spans[i].tasks for i in ids),
        )

    def self_s(self, idx: int) -> float:
        return self.spans[idx].s - sum(self.spans[i].s for i in self.children(idx))

    def by_name(self, name: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": s.name,
                            "parent": s.parent,
                            "start": s.start,
                            "end": s.end,
                            "jobs": len(s.jobs),
                            "tasks": s.tasks,
                        }
                    )
                    + "\n"
                )
