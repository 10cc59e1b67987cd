"""Layer attribution from outside the program.

The tracer wraps the package's public functions (per module), keeps a
span stack per thread, tags Spark jobs started under a span with the
span's layer (the job group), and afterwards reads the jobs' counters
from Spark's status store, which works with the UI disabled.  Spans and
counters stay in memory; ``layer_metrics`` turns them into the
per-layer numbers at the end of a run.

Operator, function and ML code mostly returns lazy plans that execute
only when a query's result is collected.  A registry query's collect
therefore runs under the layer of the first package function its build
called outside ``queries``/``io`` (``take_owner``), so those jobs and
that time count in the layer that planned them.

Wrapping is by module-attribute substitution: after ``load_all`` has
imported every module, each public function of a traced module is
replaced by a wrapper in every package module that refers to it.  A
wrapper pickles as the function it wraps, so closures shipped to Python
workers run the original code.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time
from collections import defaultdict

PKG = "sparkstreamingtwitter_presidential_spark"
LAYERS = ("queries", "operators", "functions", "ml", "sources", "streaming")
JOB_COUNTERS = ("jobs", "tasks", "driver_ms", "cpu_ms", "offcpu_ms", "gc_ms",
                "shuffle_bytes", "spill_bytes")
_COMMIT_PREFIXES = ("write_", "merge_", "delete_", "upsert_", "update_", "compact_")
# source modules -> the table format they implement
_FORMAT_OF = {
    "delta": "delta", "delta_dml": "delta", "delta_dv": "delta",
    "iceberg": "iceberg", "iceberg_dv": "iceberg",
    "hudi": "hudi", "hudi_mor": "hudi_mor", "hudi_log": "hudi_mor",
}
_GROUP_PREFIX = "pb|"


def group_of(module: str, func: str) -> tuple[str, str]:
    """(layer, group) for a public function of ``module``; the group is
    the per-layer metric family the function's time is summed into."""
    parts = module[len(PKG) + 1:].split(".")
    layer = parts[0]
    if layer == "io":
        return "queries", f"io.{func}"
    if layer == "sources" and len(parts) > 1 and parts[1] in _FORMAT_OF:
        kind = "commit" if func.startswith(_COMMIT_PREFIXES) else "plan"
        return layer, f"sources.{_FORMAT_OF[parts[1]]}.{kind}"
    return layer, ".".join(parts[:2])


class _Span:
    __slots__ = ("layer", "group", "also", "start", "child_ms")

    def __init__(self, layer: str, group: str, also: str | None = None):
        self.layer, self.group, self.also = layer, group, also
        self.start = time.perf_counter()
        self.child_ms = 0.0


class Tracer:
    """In-memory spans and Spark job counters, keyed by layer."""

    def __init__(self):
        self.enabled = False
        self._local = threading.local()
        self._lock = threading.Lock()
        self.group_ms: dict[str, float] = defaultdict(float)
        self.group_calls: dict[str, int] = defaultdict(int)
        self.self_ms: dict[str, float] = defaultdict(float)
        self.job_ms: dict[str, float] = defaultdict(float)
        self.counters: dict[str, float] = defaultdict(float)
        self.load_hits = 0
        self._seen_tables: dict[tuple, object] = {}
        self._sc = None
        self._last_job = -1
        self._seen_stages: set[int] = set()
        self._owner: tuple[str, str] | None = None

    # -- spans -------------------------------------------------------
    def _stack(self) -> list[_Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, layer: str | None) -> None:
        if self._sc is None or threading.current_thread() is not threading.main_thread():
            return
        self._sc.setLocalProperty("spark.jobGroup.id", _GROUP_PREFIX + layer if layer else None)

    def enter(self, layer: str, group: str, also: str | None = None) -> _Span:
        span = _Span(layer, group, also)
        stack = self._stack()
        if self._owner is None and layer != "queries" and stack and stack[-1].group == "queries.build":
            self._owner = (layer, group)
        stack.append(span)
        self._set_group(layer)
        return span

    def exit(self, span: _Span) -> float:
        ms = (time.perf_counter() - span.start) * 1000.0
        stack = self._stack()
        stack.pop()
        outer = all(s.group != span.group for s in stack)
        with self._lock:
            self.self_ms[span.layer] += ms - span.child_ms
            if outer:
                self.group_ms[span.group] += ms
            if span.also:
                self.group_ms[span.also] += ms
            self.group_calls[span.group] += 1
        if stack:
            stack[-1].child_ms += ms
        self._set_group(stack[-1].layer if stack else None)
        return ms

    def take_owner(self) -> tuple[str, str] | None:
        """(layer, group) of the first traced function a query's build
        called outside ``queries``/``io`` (None if there was none), so
        the frame's action is charged to the layer that planned it."""
        owner, self._owner = self._owner, None
        return owner

    def span(self, layer: str, group: str, also: str | None = None):
        """A span charged to ``layer``/``group``; its time is also summed
        into group ``also``."""
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.s = tracer.enter(layer, group, also) if tracer.enabled else None
                return self

            def __exit__(self, *exc):
                if self.s is not None:
                    tracer.exit(self.s)

        return _Ctx()

    # -- wrapping ----------------------------------------------------
    def wrap(self, fn, layer: str, group: str):
        tracer = self
        is_load_table = group == "io.load_table"

        class Traced:
            __wrapped__ = fn

            def __call__(self, *args, **kwargs):
                if not tracer.enabled:
                    return fn(*args, **kwargs)
                span = tracer.enter(layer, group)
                try:
                    out = fn(*args, **kwargs)
                finally:
                    tracer.exit(span)
                if is_load_table:
                    key = tuple(a for a in args[1:] if isinstance(a, str))
                    if tracer._seen_tables.get(key) is out:
                        tracer.load_hits += 1
                    tracer._seen_tables[key] = out
                return out

            def __reduce__(self):
                return getattr, (sys.modules[fn.__module__], fn.__name__)

        w = Traced()
        functools.update_wrapper(w, fn)
        return w

    def install(self, spark) -> int:
        """Wrap every public function of the traced modules; returns how
        many were wrapped."""
        self._sc = spark.sparkContext
        prefixes = tuple(f"{PKG}.{p}" for p in ("io",) + LAYERS[1:])
        root = importlib.import_module(PKG)
        for info in pkgutil.walk_packages(root.__path__, PKG + "."):
            if info.name.startswith(prefixes):
                importlib.import_module(info.name)
        mods = [m for n, m in list(sys.modules.items()) if n.startswith(PKG) and m is not None]
        wrapped: dict[int, object] = {}
        for m in mods:
            if not m.__name__.startswith(prefixes):
                continue
            for name, obj in vars(m).items():
                if (name.startswith("_") or not inspect.isfunction(obj)
                        or obj.__module__ != m.__name__ or hasattr(obj, "evalType")):
                    continue
                layer, group = group_of(m.__name__, name)
                wrapped[id(obj)] = self.wrap(obj, layer, group)
        for m in mods:
            for name, obj in list(vars(m).items()):
                w = wrapped.get(id(obj))
                if w is not None and w.__wrapped__ is obj:
                    setattr(m, name, w)
        return len(wrapped)

    # -- Spark job counters ------------------------------------------
    def collect_jobs(self, count: bool = True) -> None:
        """Fold every job finished since the last call into per-layer
        counters: a job belongs to the layer of the span that started
        it; streaming jobs (grouped by their query's run id) belong to
        ``streaming``.  With ``count=False`` the jobs are only marked
        seen (they ran untraced)."""
        if self._sc is None:
            return
        store = self._sc._jsc.sc().statusStore()
        it = store.jobsList(None).iterator()
        intervals: dict[str, list[tuple[int, int]]] = defaultdict(list)
        newest = self._last_job
        while it.hasNext():
            job = it.next()
            jid = job.jobId()
            if jid <= self._last_job or not job.completionTime().isDefined():
                continue
            newest = max(newest, jid)
            if not count:
                sids = job.stageIds().iterator()
                while sids.hasNext():
                    self._seen_stages.add(sids.next())
                continue
            g = job.jobGroup()
            group = g.get() if g.isDefined() else None
            if group and group.startswith(_GROUP_PREFIX):
                layer = group[len(_GROUP_PREFIX):]
            elif group:  # only streaming queries set other job groups
                layer = "streaming"
            else:
                layer = "queries"
            intervals[layer].append((job.submissionTime().get().getTime(),
                                     job.completionTime().get().getTime()))
            self.counters[f"{layer}.jobs"] += 1
            sids = job.stageIds().iterator()
            while sids.hasNext():
                sid = sids.next()
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # stage evicted or never attempted
                    continue
                if str(sd.status()) != "COMPLETE":
                    continue
                cpu = sd.executorCpuTime() / 1e6
                self.counters[f"{layer}.tasks"] += sd.numCompleteTasks()
                self.counters[f"{layer}.cpu_ms"] += cpu
                self.counters[f"{layer}.offcpu_ms"] += max(0.0, sd.executorRunTime() - cpu)
                self.counters[f"{layer}.gc_ms"] += sd.jvmGcTime()
                self.counters[f"{layer}.shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                self.counters[f"{layer}.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        for layer, spans in intervals.items():
            self.job_ms[layer] += _union_ms(spans)
        self._last_job = newest

    def layer_metrics(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for layer in LAYERS:
            for c in JOB_COUNTERS:
                out[f"{layer}.{c}"] = self.counters.get(f"{layer}.{c}", 0.0)
            out[f"{layer}.driver_ms"] = max(0.0, self.self_ms.get(layer, 0.0) - self.job_ms.get(layer, 0.0))
        calls = self.group_calls.get("io.load_table", 0)
        out["io.load_table.calls"] = calls
        out["io.load_table.ms"] = self.group_ms.get("io.load_table", 0.0)
        out["io.load_table.hit_ratio"] = self.load_hits / calls if calls else 0.0
        out["operators.dedup.ms"] = self.group_ms.get("operators.dedup", 0.0)
        out["functions.text_clean.ms"] = self.group_ms.get("functions.text_clean", 0.0)
        out["ml.clustering.fit_ms"] = self.group_ms.get("ml.clustering", 0.0)
        for f in ("delta", "hudi", "hudi_mor"):
            for kind in ("commit", "plan", "scan"):
                out[f"sources.{f}.{kind}_ms"] = self.group_ms.get(f"sources.{f}.{kind}", 0.0)
        return out


def _union_ms(spans: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for s, e in sorted(spans):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return float(total)


def make_listener(sink: list, lock: threading.Lock):
    """A StreamingQueryListener that appends each trigger's progress
    (as a dict) to ``sink``."""
    import json

    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with lock:
                sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()
