"""Layer tracing for the benchmark's traced run.

Spans are recorded from outside the program: the benchmark wraps the
public functions of the layer modules (``sources.io``, ``operators``,
``multimodal.columns``, ``ml_api``, ``streaming.jobs``) and times its
own calls into ``session`` and ``registry``. Spark's jobs and stages
come from the driver's status store and are attributed to the
innermost span whose interval holds the job's submit time (the CV
fan-out threads run without the caller's job group, so the group
cannot be used).

Spans stay in memory; ``Tracer.dump`` writes them out when the run
ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import sys
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    depth: int


@dataclass
class Job:
    id: int
    submit: float
    end: float
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    span: int | None = None


@dataclass
class Tracer:
    """Records spans while ``enabled``; wrappers stay installed but
    pass straight through when it is off, so one process can time
    traced and untraced passes of the same code."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    root: int | None = None  # parent for spans opened on worker threads
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> Span:
        stack = self._stack()
        if stack:
            parent, depth = stack[-1].id, stack[-1].depth + 1
        else:
            parent = self.root
            depth = self.spans[parent].depth + 1 if parent is not None else 0
        with self._lock:
            span = Span(len(self.spans), name, time.time(), 0.0, parent, depth)
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        self._stack().pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            span = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(span)

        traced.__layer__ = name
        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def _public_functions(module) -> dict[str, object]:
    return {
        name: fn
        for name, fn in vars(module).items()
        if inspect.isfunction(fn)
        and fn.__module__ == module.__name__
        and not name.startswith("_")
    }


def install(tracer: Tracer) -> dict[object, object]:
    """Wrap every layer entry point. Call before ``registry.load_all()``
    so query modules that bind a function by name at import time bind
    the wrapper; ``rebind`` afterwards catches modules that imported an
    original before its wrapper existed.

    Returns ``{original: wrapper}``; each wrapper's span name is its
    ``__layer__`` attribute."""
    import spark_sklearn_spark.ml_api as ml_api
    import spark_sklearn_spark.multimodal.columns as columns
    import spark_sklearn_spark.operators as operators
    import spark_sklearn_spark.sources.io as io
    import spark_sklearn_spark.streaming.jobs as jobs

    wrapped: dict[object, object] = {}

    def patch(owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)
        wrapped[fn] = tracer.wrap(name, fn)
        setattr(owner, attr, wrapped[fn])

    patch(io, "load", "io.load")
    for attr in ("write_parquet", "write_table", "write_bucketed"):
        patch(io, attr, "io.write")
    for info in pkgutil.iter_modules(operators.__path__):
        mod = importlib.import_module(f"{operators.__name__}.{info.name}")
        for attr in _public_functions(mod):
            patch(mod, attr, f"operators.{attr}")
    for attr in _public_functions(columns):
        patch(columns, attr, f"multimodal.{attr}")
    for attr in _public_functions(jobs):
        patch(jobs, attr, f"streaming.{attr}")
    patch(ml_api.GridSearchCV, "fit", "ml_api.fit")
    patch(ml_api.KeyedEstimator, "fit", "ml_api.fit")
    patch(ml_api.KeyedModel, "transform", "ml_api.transform")
    patch(ml_api.LinearPredictor, "transform", "ml_api.transform")
    getter = ml_api.GridSearchCV.best_model_.fget
    wrapped[getter] = tracer.wrap("ml_api.refit", getter)
    ml_api.GridSearchCV.best_model_ = property(wrapped[getter])
    return wrapped


def rebind(wrapped: dict[object, object]) -> int:
    """Point every module-level reference to a wrapped original at its
    wrapper; returns how many references were rebound."""
    n = 0
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("spark_sklearn_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            try:
                wrapper = wrapped.get(val)
            except TypeError:  # unhashable module attribute
                continue
            if wrapper is not None:
                setattr(mod, attr, wrapper)
                n += 1
    return n


class JobReader:
    """Reads finished jobs and their stages from the driver's status
    store (``AppStatusStore``) in job-id order, from the first job not
    read yet up to the first one that has not finished."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._next = 0

    def _drain(self) -> None:
        # the status listener runs on the async listener bus
        self._sc.listenerBus().waitUntilEmpty()

    def skip_existing(self) -> None:
        self._drain()
        while self._job(self._next) is not None:
            self._next += 1

    def _job(self, jid: int):
        try:
            return self._store.job(jid)
        except Py4JJavaError:  # NoSuchElementException: not submitted yet
            return None

    def read_new(self) -> list[Job]:
        self._drain()
        out = []
        while True:
            data = self._job(self._next)
            if data is None or not data.completionTime().isDefined():
                return out
            self._next += 1
            sub = data.submissionTime()
            job = Job(
                id=data.jobId(),
                submit=sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
                end=data.completionTime().get().getTime() / 1000.0,
            )
            ids = data.stageIds()
            for i in range(ids.size()):
                self._add_stage(job, ids.apply(i))
            out.append(job)

    def _add_stage(self, job: Job, stage_id: int) -> None:
        try:
            st = self._store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # the stage was never attempted
            return
        if str(st.status()) == "SKIPPED":
            return
        job.stages += 1
        job.tasks += st.numTasks()
        job.failed_tasks += st.numFailedTasks()
        job.run_s += st.executorRunTime() / 1e3
        job.cpu_s += st.executorCpuTime() / 1e9
        job.gc_s += st.jvmGcTime() / 1e3
        job.shuffle_read_mb += st.shuffleReadBytes() / 2**20
        job.shuffle_write_mb += st.shuffleWriteBytes() / 2**20
        job.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20


def attribute(jobs: list[Job], spans: list[Span]) -> None:
    """Set ``job.span`` to the innermost span whose interval holds the
    job's submit time (status-store times have millisecond grain)."""
    for job in jobs:
        best = None
        for s in spans:
            if s.start - 0.001 <= job.submit <= s.end + 0.001:
                if best is None or (s.depth, s.start) > (best.depth, best.start):
                    best = s
        job.span = best.id if best is not None else None


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it that its children cover."""
    cover, cur_lo, cur_hi = 0.0, None, None
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                cover += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        cover += cur_hi - cur_lo
    return (span.end - span.start) - cover


def max_overlap(jobs: list[Job]) -> int:
    """Most jobs running at once, from submit and completion times."""
    events = sorted([(j.submit, 1) for j in jobs] + [(j.end, -1) for j in jobs])
    cur = best = 0
    for _, d in events:
        cur += d
        best = max(best, cur)
    return best
