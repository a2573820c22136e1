"""In-memory spans around the program's layers, recorded from outside it.

``Tracer.install`` wraps every public function of the program's layer
packages, the public methods of the classes they define, and the pyspark
actions and writes those layers call.  Each wrapper is patched into every
module that holds the function under a name, so a caller's own import
(``api.app.q1_busiest_stops``) reaches the wrapper too.  A span records
its name, start, end, parent span and the request id of the thread that
opened it; spans stay in memory until the run writes them out.

``attach(False)`` puts the program's own functions back, so the untraced
segments of a traced run time the unpatched program and the tracing
overhead includes the cost of the wrappers themselves.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import pkgutil
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

LAYERS = ("session", "sources", "jobs", "api", "queries", "pipeline")

_DF_ACTIONS = ("collect", "count", "first", "head", "take", "toPandas",
               "toLocalIterator", "foreach", "foreachPartition", "isEmpty",
               "show")
_WRITER_ACTIONS = ("save", "parquet", "json", "csv", "saveAsTable",
                   "insertInto")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    rid: int | None


_ABSENT = object()


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        # (owner, attribute, original or _ABSENT, wrapper) per patch
        self._patches: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- span recording --------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def set_request(self, rid: int | None) -> None:
        self._local.rid = rid

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        sp = Span(next(self._ids), name, time.perf_counter(), 0.0,
                  st[-1].id if st else None,
                  getattr(self._local, "rid", None))
        st.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(sp)

    def _in(self, name: str) -> bool:
        st = self._stack()
        return bool(st) and st[-1].name == name

    def wrap(self, fn, name: str):
        """``fn`` with a span named ``name``.  A recursive call (the
        innermost span has the same name) and a pyspark action called
        inside another one (``first`` -> ``take`` -> ``collect``) record
        no span of their own."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled or self._in(name) or (
                    name.startswith("spark.") and self._inside_spark()):
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)
        traced.__wrapped_by_tracer__ = True
        return traced

    def _inside_spark(self) -> bool:
        return any(s.name.startswith("spark.") for s in self._stack())

    # -- installation ----------------------------------------------------

    def install(self, package: str, df_class, writer_class) -> None:
        """Wrap the layer packages of ``package`` and the given pyspark
        classes' actions."""
        mods = []
        for layer in LAYERS:
            root = importlib.import_module(f"{package}.{layer}")
            mods.append(root)
            if hasattr(root, "__path__"):
                for info in pkgutil.iter_modules(root.__path__):
                    mods.append(importlib.import_module(
                        f"{root.__name__}.{info.name}"))
        wrapped: dict[int, object] = {}
        for mod in mods:
            short = mod.__name__.removeprefix(package + ".")
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_"):
                    continue
                if inspect.isfunction(obj) and obj.__module__ == mod.__name__:
                    wrapped[id(obj)] = self.wrap(obj, f"{short}.{attr}")
                elif inspect.isclass(obj) and obj.__module__ == mod.__name__:
                    for m, fn in list(vars(obj).items()):
                        if not m.startswith("_") and inspect.isfunction(fn):
                            self._patch(obj, m, self.wrap(
                                fn, f"{short}.{attr}.{m}"))
        # any loaded module of the package can hold a layer function under
        # its own name (api.app imports q1_busiest_stops); a module loaded
        # later reads the patched attribute when it imports
        holders = [m for name, m in list(sys.modules.items())
                   if name == package or name.startswith(package + ".")]
        for mod in holders:
            for attr, obj in list(vars(mod).items()):
                w = wrapped.get(id(obj))
                if w is not None:
                    self._patch(mod, attr, w)
        for cls, names, prefix in ((df_class, _DF_ACTIONS, "spark."),
                                   (writer_class, _WRITER_ACTIONS,
                                    "spark.write.")):
            for m in names:
                fn = getattr(cls, m, None)
                if fn is not None and not getattr(
                        fn, "__wrapped_by_tracer__", False):
                    self._patch(cls, m, self.wrap(fn, prefix + m))

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patches.append(
            (owner, attr, vars(owner).get(attr, _ABSENT), wrapper))
        setattr(owner, attr, wrapper)

    def attach(self, on: bool) -> None:
        """Put the installed wrappers in place (``on``) or restore what
        each patched name held before ``install``."""
        for owner, attr, orig, wrapper in self._patches:
            if on:
                setattr(owner, attr, wrapper)
            elif orig is _ABSENT:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)


# -- span arithmetic ------------------------------------------------------


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def children(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            out.setdefault(s.parent, []).append(s)
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its child spans cover
    (children of concurrent threads never share a parent)."""
    kids = children(spans)
    return {s.id: (s.end - s.start) - covered(
        [(c.start, c.end) for c in kids.get(s.id, [])], s.start, s.end)
        for s in spans}


def descendants(span: Span, kids: dict[int, list[Span]]) -> list[Span]:
    out, todo = [], list(kids.get(span.id, []))
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out


def spark_time(span: Span, kids: dict[int, list[Span]]) -> float:
    """Time inside pyspark actions under ``span`` (union, so nested or
    overlapping actions count once)."""
    return covered([(d.start, d.end) for d in descendants(span, kids)
                    if d.name.startswith("spark.")], span.start, span.end)


# -- Spark job and task counts -------------------------------------------

_GROUPS = itertools.count()


@dataclass
class JobCount:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0


@contextmanager
def job_group(sc, label: str):
    """Run the body under a fresh job group of the calling thread and
    yield a ``JobCount`` filled in when the body ends — the same scoped
    counting ``plans.inspect.jobs_run`` uses, so concurrent work in other
    threads is not attributed."""
    group = f"bench-{label}-{next(_GROUPS)}"
    props = ("spark.jobGroup.id", "spark.job.description",
             "spark.job.interruptOnCancel")
    saved = {p: sc.getLocalProperty(p) for p in props}
    sc.setJobGroup(group, label)
    out = JobCount()
    try:
        yield out
    finally:
        for p in props:
            sc.setLocalProperty(p, saved[p])
        tracker = sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            out.jobs += 1
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                st = tracker.getStageInfo(sid)
                if st is not None:
                    out.tasks += st.numCompletedTasks
                    out.failed_tasks += st.numFailedTasks
