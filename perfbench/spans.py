"""Per-layer tracing from outside the package.

``Tracer.install`` wraps every public function defined in the layer
modules (``catalog``, ``sources``, ``jobs``, ``plans``, ``operators``)
and rebinds every reference to it in every loaded package module, so
``from ..catalog import load_table``-style imports are traced too.
Wrappers keep ``__module__``/``__qualname__``, so a wrapped function
that ends up inside a pickled UDF still pickles by reference and the
Python workers import the original.

Each span records name, module, start, end and parent in memory. A
span owns a unique Spark job group and its name as job description,
so every Spark job is attributed to the innermost open span. Counters
come from ``statusTracker()`` and the status store's
``lastStageAttempt(stageId)``; they are harvested after each operation,
outside the timed region.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import itertools
import os
import sys
import time
from collections import defaultdict

from harness import PKG

#: the layers whose public functions are wrapped
LAYERS = ("catalog", "sources", "jobs", "plans", "operators")

COUNTERS = (
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
    "max_task_skew",
)


class Span:
    __slots__ = (
        "sid", "name", "module", "parent", "t0", "t1", "child_s",
        "jobs", "stages", "group", "tag", "files", "bytes",
    )

    def __init__(self, sid, name, module, parent, group):
        self.sid, self.name, self.module, self.parent = sid, name, module, parent
        self.t0 = self.t1 = 0.0
        self.child_s = 0.0
        self.jobs: list[int] = []
        self.stages: list[int] = []
        self.group = group
        self.tag = None  # bronze_to_silver: the table
        self.files = self.bytes = 0  # write_parquet: what landed on disk

    @property
    def wall(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.wall - self.child_s


def _layer_of(module_name: str) -> str | None:
    rel = module_name[len(PKG) + 1 :] if module_name.startswith(PKG + ".") else None
    if rel is None:
        return None
    head = rel.split(".")[0]
    return head if head in LAYERS else None


def _short(module_name: str) -> str:
    """``operators.bpe`` / ``sources`` / ``jobs`` ... for a defining module."""
    rel = module_name[len(PKG) + 1 :]
    parts = rel.split(".")
    return ".".join(parts[:2]) if parts[0] == "operators" else parts[0]


class Tracer:
    _serial = itertools.count()

    def __init__(self, spark):
        self.sc = spark.sparkContext
        # job groups unique across tracers in one SparkContext
        self.prefix = f"perfbench-t{next(Tracer._serial)}"
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.wrapped: dict[str, object] = {}  # qualified name -> original
        self.unrebound = 0
        self._stage_cache: dict[int, dict] = {}
        self._harvested = 0
        self._returns: dict[tuple, int] = {}
        self.load_table_reuse = 0

    # -- spans -------------------------------------------------------------

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    def open(self, name: str, module: str) -> Span:
        parent = self.stack[-1] if self.stack else None
        sid = len(self.spans)
        span = Span(sid, name, module, parent.sid if parent else None, f"{self.prefix}-{sid}")
        self.spans.append(span)
        self.stack.append(span)
        self._set_group(span)
        span.t0 = time.time()
        return span

    def close(self, span: Span) -> None:
        span.t1 = time.time()
        self.stack.pop()
        if self.stack:
            self.stack[-1].child_s += span.wall
        self._set_group(self.stack[-1] if self.stack else None)

    @contextlib.contextmanager
    def span(self, name: str, module: str):
        s = self.open(name, module)
        try:
            yield s
        finally:
            self.close(s)

    def prime_load_table(self, handles: dict) -> None:
        """Handles the catalog returned before tracing began, keyed by
        (sf_dir, table): a traced call that returns the same object
        reused the cached handle."""
        for key, df in handles.items():
            self._returns[key] = id(df)

    # -- wrapping ----------------------------------------------------------

    def _wrap(self, fn, qual: str, module: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            s = tracer.open(qual, module)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close(s)
            if qual == "jobs.bronze_to_silver":
                s.tag = args[1] if len(args) > 1 else kwargs.get("table")
            elif qual == "sources.write_parquet":
                s.files, s.bytes = _parquet_files(args[1] if len(args) > 1 else kwargs["path"])
            elif qual == "catalog.load_table" and len(args) >= 3:
                key = (str(args[1]), str(args[2]))
                if tracer._returns.get(key) == id(out):
                    tracer.load_table_reuse += 1
                tracer._returns[key] = id(out)
            return out

        wrapper.__perfbench_original__ = fn
        return wrapper

    def install(self) -> None:
        """Wrap the public functions of every layer module and rebind
        every module-global reference to them across the package."""
        import importlib
        import pkgutil

        pkg = importlib.import_module(PKG)
        for info in pkgutil.walk_packages(pkg.__path__, PKG + "."):
            importlib.import_module(info.name)
        mods = [m for n, m in sorted(sys.modules.items()) if n == PKG or n.startswith(PKG + ".")]
        replace: dict[int, object] = {}
        for mod in mods:
            if _layer_of(mod.__name__) is None:
                continue
            for name, obj in vars(mod).items():
                if (
                    name.startswith("_")
                    or not inspect.isfunction(obj)
                    or obj.__module__ != mod.__name__
                    or hasattr(obj, "__perfbench_original__")
                ):
                    continue
                qual = f"{_short(mod.__name__)}.{name}"
                replace[id(obj)] = self._wrap(obj, qual, _short(mod.__name__))
                self.wrapped[qual] = obj
        for mod in mods:
            for name, obj in list(vars(mod).items()):
                w = replace.get(id(obj))
                if w is not None:
                    setattr(mod, name, w)
        originals = {id(o) for o in self.wrapped.values()}
        self.unrebound = sum(
            1 for mod in mods for obj in vars(mod).values() if id(obj) in originals
        )

    def uninstall(self) -> None:
        for mod in [m for n, m in list(sys.modules.items()) if n.startswith(PKG)]:
            for name, obj in list(vars(mod).items()):
                orig = getattr(obj, "__perfbench_original__", None)
                if orig is not None:
                    setattr(mod, name, orig)

    # -- Spark counters ----------------------------------------------------

    def stage(self, sid: int) -> dict:
        """One stage's counters from the status store (cached)."""
        hit = self._stage_cache.get(sid)
        if hit is not None:
            return hit
        store = self.sc._jsc.sc().statusStore()
        rec = {c: 0.0 for c in COUNTERS}
        rec.update(tasks=0, t0=None, t1=None)
        try:
            st = store.lastStageAttempt(sid)
            rec["executor_run_s"] = st.executorRunTime() / 1e3
            rec["executor_cpu_s"] = st.executorCpuTime() / 1e9
            rec["gc_s"] = st.jvmGcTime() / 1e3
            rec["shuffle_read_bytes"] = float(st.shuffleReadBytes())
            rec["shuffle_write_bytes"] = float(st.shuffleWriteBytes())
            rec["spill_bytes"] = float(st.memoryBytesSpilled() + st.diskBytesSpilled())
            rec["input_bytes"] = float(st.inputBytes())
            rec["output_bytes"] = float(st.outputBytes())
            rec["tasks"] = int(st.numCompleteTasks())
            if st.submissionTime().isDefined() and st.completionTime().isDefined():
                rec["t0"] = st.submissionTime().get().getTime() / 1e3
                rec["t1"] = st.completionTime().get().getTime() / 1e3
            rec["max_task_skew"] = self._skew(store, sid, st.attemptId())
        except Exception:  # noqa: BLE001 - skipped / evicted stage: no data
            pass
        self._stage_cache[sid] = rec
        return rec

    def _skew(self, store, sid: int, attempt: int) -> float:
        """Slowest task's run time over the median task's, one stage."""
        gw = self.sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summ = store.taskSummary(sid, attempt, qs)
        if not summ.isDefined():
            return 0.0
        run = summ.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 0.0

    def harvest(self) -> None:
        """Attach job ids and stage counters to every span opened since
        the last harvest (call between operations, untimed)."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - fall back to a short settle
            time.sleep(0.2)
        tracker = self.sc.statusTracker()
        for span in self.spans[self._harvested :]:
            span.jobs = sorted(tracker.getJobIdsForGroup(span.group))
            stages = []
            for jid in span.jobs:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stages.extend(info.stageIds)
            span.stages = sorted(set(stages))
            for sid in span.stages:
                self.stage(sid)
        self._harvested = len(self.spans)


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span nested under it."""
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids[s.sid])
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _parquet_files(path: str) -> tuple[int, int]:
    """(files, bytes) of the parquet part files under a local path."""
    files = size = 0
    for d, _, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size
