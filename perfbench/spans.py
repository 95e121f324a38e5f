"""Per-layer tracing from outside the engine.

:class:`Tracer` wraps the public functions and public methods of every
module under ``datalake_backend_spark`` with span recorders, and
rebinds names other modules imported with ``from … import`` (so
``engine.write_table`` records a ``sources`` span). A layer is the
module's package: ``engine``, ``queries``, ``pipelines``, ``operators``,
``datapipe``, ``sources``, ``streaming``, ``serving`` or ``core``.

Each span records name, layer, start, end, parent and op id, and sets
its own Spark job group, so after the run the Spark counters of every
job it launched (not its children's) are read from ``statusTracker()``
and the JVM status store. Streaming micro-batch jobs carry their query's
runId as job group; a ``StreamingQueryListener`` supplies the runIds and
the trigger phases. Self time is a span's duration minus the part its
child spans cover, so the self times of one op sum to the op's time.

Spans are kept in memory and written out by :meth:`Tracer.dump`.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import pkgutil
import sys
import threading
import time
from collections import defaultdict

PACKAGE = "datalake_backend_spark"
LAYERS = (
    "engine", "queries", "pipelines", "operators", "datapipe",
    "sources", "streaming", "serving", "core",
)
#: the benchmark's own code between engine calls (op bookkeeping)
BENCH = "bench"
LAYER_COUNTERS = (
    "calls", "self_s", "jobs", "stages", "tasks", "executor_run_s",
    "shuffle_bytes", "input_bytes", "spill_bytes", "failed",
)
SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "stage_wait_s", "executor_run_s",
    "executor_cpu_s", "gc_s", "shuffle_bytes", "input_bytes",
    "output_bytes", "spill_bytes", "persisted_rdds_end",
)
#: Spark counters reported per layer (of the jobs its own spans launched)
_LAYER_SPARK = (
    "jobs", "stages", "tasks", "executor_run_s", "shuffle_bytes", "input_bytes", "spill_bytes",
)
STREAM_PHASES = {
    "add_batch_s": "addBatch",
    "query_planning_s": "queryPlanning",
    "wal_commit_s": "walCommit",
    "latest_offset_s": "latestOffset",
    "trigger_s": "triggerExecution",
}


def per_layer_names() -> list[str]:
    """Every per-layer metric name a traced run reports, in order."""
    names = [f"{layer}.{c}" for layer in LAYERS for c in LAYER_COUNTERS]
    names += [f"spark.{c}" for c in SPARK_COUNTERS]
    names += ["queries.build_s", "queries.build_jobs", "queries.run_s"]
    names += ["streaming.triggers", *(f"streaming.{k}" for k in STREAM_PHASES)]
    names += ["sources.files_read_ratio", "core.cache_persists", "core.cache_evictions"]
    names += [f"{BENCH}.self_s", "trace.self_sum_s", "trace.wall_s", "trace.overhead_s"]
    return names


def _short(module: str) -> str:
    return module.removeprefix(PACKAGE + ".")


class Span:
    __slots__ = ("sid", "name", "layer", "parent", "op", "start", "end", "failed", "children")

    def __init__(self, sid, name, layer, parent: Span | None, op):
        self.sid, self.name, self.layer, self.parent, self.op = sid, name, layer, parent, op
        self.start = time.perf_counter()
        self.end = None
        self.failed = False
        self.children: list[tuple[float, float]] = []

    def self_s(self) -> float:
        covered, last = 0.0, self.start
        for s, e in sorted(self.children):
            s = max(s, last)
            if e > s:
                covered += e - s
                last = e
        return (self.end - self.start) - covered


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = 0
        self._originals: dict[int, object] = {}
        self._wrapped_methods: list[tuple[type, str, object]] = []
        self._rebound: list[tuple[object, str, object]] = []
        self.prune_calls: list[tuple[int, int]] = []
        self.progress: list[dict] = []
        self.run_ids: set[str] = set()
        self._listener = None
        self._op_stack: list[Span] | None = None
        self._new_session = None

    # -- spans ---------------------------------------------------------

    def _next_id(self) -> int:
        with self._lock:
            self._ids += 1
            return self._ids

    @contextlib.contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        sp = self._enter(name, layer, op)
        failed = True
        try:
            yield sp
            failed = False
        finally:
            self._exit(sp, failed)

    def _enter(self, name, layer, op):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        if stack:
            parent = stack[-1]
        else:
            # restore whatever group the thread had (a streaming runId)
            self._local.outer_group = self.sc.getLocalProperty("spark.jobGroup.id")
            # a span opened on another thread while an op runs (a
            # foreachBatch callback) is a child of the span the op's
            # thread is waiting in, so their self times never overlap
            op_stack = self._op_stack
            waiting = op_stack[-1:] if layer != BENCH and op_stack is not None else []
            parent = waiting[0] if waiting else None
        sp = Span(self._next_id(), name, layer, parent,
                  op if op is not None else (parent.op if parent else None))
        if layer == BENCH:
            self._op_stack = stack
        stack.append(sp)
        self.sc.setLocalProperty("spark.jobGroup.id", f"pb-{sp.sid}")
        return sp

    def _exit(self, sp, failed):
        sp.end = time.perf_counter()
        sp.failed = failed
        stack = self._local.stack
        stack.pop()
        if sp.parent is not None:
            with self._lock:
                sp.parent.children.append((sp.start, sp.end))
        if stack:
            self.sc.setLocalProperty("spark.jobGroup.id", f"pb-{stack[-1].sid}")
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", self._local.outer_group)
        if sp.layer == BENCH:
            self._op_stack = None
        with self._lock:
            self.spans.append(sp)

    # -- instrumentation -------------------------------------------------

    def install(self) -> None:
        """Wrap every public function and method of the package's layer
        modules and rebind every module-level alias of them."""
        pkg = importlib.import_module(PACKAGE)
        for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
            if not info.name.endswith("__main__"):
                importlib.import_module(info.name)
        modules = [m for n, m in list(sys.modules.items())
                   if n.startswith(PACKAGE + ".") and m is not None]
        for mod in modules:
            layer = mod.__name__.split(".")[1]
            if layer not in LAYERS:
                continue
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    # the defining module's attribute is rebound below, so
                    # pickling the wrapper (a closure shipped to Python
                    # workers) resolves by reference to the worker's
                    # untraced original
                    self._originals[id(obj)] = self._span_wrapper(
                        obj, f"{_short(mod.__name__)}.{name}", layer)
                elif inspect.isclass(obj):
                    self._wrap_methods(obj, layer)
        for mod in [*modules, importlib.import_module(PACKAGE)]:
            for name, obj in list(vars(mod).items()):
                wrapper = self._originals.get(id(obj))
                if wrapper is not None:
                    setattr(mod, name, wrapper)
                    self._rebound.append((mod, name, obj))
        self._hook_prune()
        self._add_listener()
        self._cached_at_install = self._cached_frames()

    @staticmethod
    def _cached_frames() -> int:
        from datalake_backend_spark.core import cache

        return sum(len(c._frames) for c in cache._REGISTRY)

    def _wrap_methods(self, cls, layer):
        for name, attr in list(vars(cls).items()):
            if name.startswith("_") or not inspect.isfunction(attr):
                continue
            qual = f"{_short(cls.__module__)}.{cls.__qualname__}.{name}"
            setattr(cls, name, self._span_wrapper(attr, qual, layer))
            self._wrapped_methods.append((cls, name, attr))

    def _span_wrapper(self, fn, span_name, layer):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(span_name, layer):
                return fn(*args, **kwargs)

        return wrapper

    def _hook_prune(self):
        from datalake_backend_spark.sources.versioned import VersionedTable

        traced = VersionedTable.prune_files

        def prune_files(tbl, *args, **kwargs):
            kept, total, n_kept = traced(tbl, *args, **kwargs)
            with self._lock:
                self.prune_calls.append((n_kept, total))
            return kept, total, n_kept

        functools.update_wrapper(prune_files, traced)
        VersionedTable.prune_files = prune_files

    def _add_listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                with tracer._lock:
                    tracer.run_ids.add(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                with tracer._lock:
                    tracer.run_ids.add(str(p.runId))
                    tracer.progress.append(dict(p.durationMs))

            def onQueryTerminated(self, event):
                pass

        self._listener = _Progress()
        self.spark.streams.addListener(self._listener)
        # streaming rows run on cloned sessions, and listeners are per
        # session: register on every session cloned while tracing
        from pyspark.sql import SparkSession

        self._new_session = new_session = SparkSession.newSession

        def newSession(session):
            clone = new_session(session)
            clone.streams.addListener(tracer._listener)
            return clone

        SparkSession.newSession = newSession

    def wrapped(self, fn):
        """The span-recording stand-in of ``fn`` (``fn`` if not wrapped)."""
        return self._originals.get(id(fn), fn)

    def uninstall(self) -> None:
        for mod, name, obj in self._rebound:
            setattr(mod, name, obj)
        # restores prune_files too: it is a public method, hooked on top
        for cls, name, attr in self._wrapped_methods:
            setattr(cls, name, attr)
        if self._listener is not None:
            from pyspark.sql import SparkSession

            SparkSession.newSession = self._new_session
            self.spark.streams.removeListener(self._listener)

    # -- counters --------------------------------------------------------

    def _stage_counters(self, stage_id: int, store) -> dict:
        sd = store.lastStageAttempt(stage_id)
        status = str(sd.status())
        if status == "SKIPPED":
            return {}
        sub, first = sd.submissionTime(), sd.firstTaskLaunchedTime()
        wait = 0.0
        if sub.isDefined() and first.isDefined():
            wait = max(0, first.get().getTime() - sub.get().getTime()) / 1000.0
        return {
            "stages": 1,
            "tasks": sd.numTasks(),
            "stage_wait_s": wait,
            "executor_run_s": sd.executorRunTime() / 1000.0,
            "executor_cpu_s": sd.executorCpuTime() / 1e9,
            "gc_s": sd.jvmGcTime() / 1000.0,
            "shuffle_bytes": sd.shuffleReadBytes() + sd.shuffleWriteBytes(),
            "input_bytes": sd.inputBytes(),
            "output_bytes": sd.outputBytes(),
            "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
        }

    def _group_counters(self, group: str, store) -> dict:
        tracker = self.sc.statusTracker()
        out: dict = defaultdict(float)
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in list(info.stageIds):
                for k, v in self._stage_counters(int(sid), store).items():
                    out[k] += v
        return out

    def metrics(self, wall_s: float, untraced_wall_s: float) -> dict[str, float]:
        """Aggregate spans and Spark counters into the per-layer metrics;
        ``wall_s`` is the traced timed phase's, ``untraced_wall_s`` the
        same phase's without tracing."""
        store = self.sc._jsc.sc().statusStore()
        m: dict[str, float] = {n: 0.0 for n in per_layer_names()}
        own = {sp.sid: self._group_counters(f"pb-{sp.sid}", store) for sp in self.spans}
        kids = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                kids[sp.parent.sid].append(sp)

        def subtree_jobs(sp: Span) -> float:
            return own[sp.sid].get("jobs", 0.0) + sum(subtree_jobs(k) for k in kids[sp.sid])

        spark_total: dict = defaultdict(float)
        for sp in self.spans:
            self_s = sp.self_s()
            m["trace.self_sum_s"] += self_s
            for k, v in own[sp.sid].items():
                spark_total[k] += v
            if sp.layer == BENCH:
                m[f"{BENCH}.self_s"] += self_s
                continue
            pre = sp.layer + "."
            m[pre + "calls"] += 1
            m[pre + "self_s"] += self_s
            m[pre + "failed"] += sp.failed
            for k in _LAYER_SPARK:
                m[pre + k] += own[sp.sid].get(k, 0.0)
            if sp.name == "queries.run":
                m["queries.run_s"] += sp.end - sp.start
            elif sp.layer == "queries" and sp.parent is not None and sp.parent.layer == BENCH:
                # a registry builder called straight from the op: its
                # subtree holds every eager job the builder launched
                m["queries.build_s"] += sp.end - sp.start
                m["queries.build_jobs"] += subtree_jobs(sp)
        for run_id in self.run_ids:
            counters = self._group_counters(run_id, store)
            for k, v in counters.items():
                spark_total[k] += v
            for k in _LAYER_SPARK:
                m["streaming." + k] += counters.get(k, 0.0)
        m.update({f"spark.{k}": v for k, v in spark_total.items()})
        m["spark.persisted_rdds_end"] = float(len(self.sc._jsc.getPersistentRDDs()))
        m["streaming.triggers"] = float(len(self.progress))
        for key, phase in STREAM_PHASES.items():
            m["streaming." + key] = sum(p.get(phase, 0) for p in self.progress) / 1000.0
        persists = sum(1 for sp in self.spans if sp.name == "core.cache.BoundedFrameCache.persist")
        m["core.cache_persists"] = float(persists)
        # every persist beyond what the caches still hold was evicted
        m["core.cache_evictions"] = float(
            persists - (self._cached_frames() - self._cached_at_install)
        )
        total = sum(t for _, t in self.prune_calls)
        m["sources.files_read_ratio"] = (
            sum(k for k, _ in self.prune_calls) / total if total else 0.0
        )
        m["trace.wall_s"] = wall_s
        m["trace.overhead_s"] = wall_s - untraced_wall_s
        return m

    def dump(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "layer": s.layer,
                    "parent": s.parent.sid if s.parent else None,
                    "op": s.op, "start": round(s.start - t0, 6), "end": round(s.end - t0, 6),
                    "failed": s.failed,
                }) + "\n")
