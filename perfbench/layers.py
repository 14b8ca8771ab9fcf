"""Per-layer tracing for the benchmark's traced runs.

Everything here measures the engine from outside: the public functions of
``catalog``, ``sources.io`` and ``sources.custom`` are wrapped where the
engine's modules bound them, ``memo.MemoDict`` reads and writes are counted
on the class, and Spark's own status stores are read after each query phase.
Spans stay in memory and are written when the run ends.
"""

from __future__ import annotations

import functools
import inspect
import sys
import time
from collections import Counter, defaultdict

PACKAGE = "aws_saas_etl_spark"
WRAPPED_LAYERS = {
    "catalog": (f"{PACKAGE}.catalog",),
    "sources.io": (f"{PACKAGE}.sources.io", f"{PACKAGE}.sources.custom"),
}


def union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Spans and counters for one traced run.

    ``enabled`` switches recording off without unwrapping, so the run can
    time untraced passes with the same objects in place."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.enabled = True
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._stack: list[int] = []
        self._depth: Counter = Counter()
        self._patched: list[tuple[object, str, object]] = []
        self._context: dict = {}

    # ---------------------------------------------------------------- spans
    def set_context(self, **ctx) -> None:
        self._context = ctx

    def open_span(self, layer: str, name: str) -> dict:
        span = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "layer": layer,
            "name": name,
            "start": time.time(),
            "end": None,
            **self._context,
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        return span

    def close_span(self, span: dict) -> None:
        span["end"] = time.time()
        self._stack.pop()

    # ------------------------------------------------------------- wrapping
    def install(self) -> None:
        from aws_saas_etl_spark import memo

        for layer, module_names in WRAPPED_LAYERS.items():
            for module_name in module_names:
                module = sys.modules[module_name]
                short = module_name[len(PACKAGE) + 1 :]
                for name, fn in list(vars(module).items()):
                    if (
                        inspect.isfunction(fn)
                        and fn.__module__ == module_name
                        and not name.startswith("_")
                    ):
                        self._rebind(fn, self._wrap(layer, f"{short}.{name}", fn))
        self._wrap_memo(memo.MemoDict)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def _rebind(self, original, wrapper) -> None:
        """Point every engine module's binding of ``original`` at ``wrapper``
        (operator modules import catalog functions by name)."""
        for module_name, module in list(sys.modules.items()):
            if module is None or not module_name.startswith(PACKAGE):
                continue
            for attr, value in list(vars(module).items()):
                if value is original:
                    self._patched.append((module, attr, original))
                    setattr(module, attr, wrapper)

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            tracer.counts[f"{name}.calls"] += 1
            tracer.counts[f"{layer}.calls"] += 1
            span = tracer.open_span(layer, name)
            tracer._depth[layer] += 1
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._depth[layer] -= 1
                tracer.close_span(span)
                elapsed = span["end"] - span["start"]
                tracer.counts[f"{name}.s"] += elapsed
                if tracer._depth[layer] == 0:
                    tracer.counts[f"{layer}.s"] += elapsed

        return wrapper

    def _wrap_memo(self, cls) -> None:
        tracer = self
        get, getitem, setitem = cls.get, cls.__getitem__, cls.__setitem__

        def prefix(m) -> str:
            return "memo." if m.traced else "memo.sizing_"

        def counted_get(self, key, default=None):
            if tracer.enabled:
                tracer.counts[prefix(self) + "gets"] += 1
                tracer.counts[prefix(self) + "hits"] += dict.__contains__(self, key)
            return get(self, key, default)

        def counted_getitem(self, key):
            if tracer.enabled:
                tracer.counts[prefix(self) + "gets"] += 1
                tracer.counts[prefix(self) + "hits"] += dict.__contains__(self, key)
            return getitem(self, key)

        def counted_setitem(self, key, value):
            if tracer.enabled:
                tracer.counts[prefix(self) + "sets"] += 1
            return setitem(self, key, value)

        for attr, fn in (
            ("get", counted_get),
            ("__getitem__", counted_getitem),
            ("__setitem__", counted_setitem),
        ):
            self._patched.append((cls, attr, getattr(cls, attr)))
            setattr(cls, attr, fn)

    # -------------------------------------------------------- status stores
    def last_sql_execution(self) -> int:
        store = self.spark._jsparkSession.sharedState().statusStore()
        n = store.executionsCount()
        if n == 0:
            return -1
        return store.executionsList(int(n) - 1, 1).last().executionId()

    def phase_stats(self, group: str, first_exec: int, last_exec: int) -> dict:
        """Jobs and stage totals of one phase: the jobs that ran under
        ``group`` and the count of SQL executions (first_exec, last_exec]."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out: dict = defaultdict(float)
        intervals = []
        for job_id in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(job_id)
            out["jobs"] += 1
            submitted, completed = job.submissionTime(), job.completionTime()
            if submitted.isDefined() and completed.isDefined():
                a = submitted.get().getTime() / 1e3
                b = completed.get().getTime() / 1e3
                intervals.append((a, b))
            info = sc.statusTracker().getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(stage_id)
                except Exception:  # skipped stage: never attempted, not stored
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["task_s"] += st.executorRunTime() / 1e3
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
                out["input_bytes"] += st.inputBytes()
                out["output_bytes"] += st.outputBytes()
        out["job_s"] = union_seconds(intervals, float("-inf"), float("inf"))
        out["sql_executions"] = max(0, last_exec - first_exec)
        out["_intervals"] = intervals
        return out

    def memory(self) -> dict:
        """What the session holds now: bytes of cached blocks (the memos'
        checkpointed frames) and the driver heap in use after a full GC."""
        jvm = self.spark._jvm
        cached = sum(
            info.memSize() + info.diskSize()
            for info in self.spark._jsc.sc().getRDDStorageInfo()
        )
        jvm.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return {
            "memo.cached_bytes": float(cached),
            "jvm.heap_after_gc_mb": heap.getHeapMemoryUsage().getUsed() / 2**20,
        }


def self_seconds(spans: list[dict]) -> dict[str, float]:
    """Self time per layer: each span's length minus what its children cover."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered = union_seconds(
            [(c["start"], c["end"]) for c in children[s["id"]]], s["start"], s["end"]
        )
        out[s["layer"]] += (s["end"] - s["start"]) - covered
    return dict(out)
