"""Per-layer tracing of the engine from outside its package.

Everything here observes the engine through public surfaces only:
wrappers around the module functions named in ``TRACED_FUNCTIONS``
(installed by an import hook, so that ``from module import f`` bindings
see the wrapper), Spark job groups read back through
``sc.statusTracker()``, a ``StreamingQueryListener``, the executed
plan's tree string, and the JVM's management beans through py4j.

Spans are kept in memory and written once, when the benchmark ends.
"""

from __future__ import annotations

import functools
import importlib.abc
import importlib.machinery
import json
import re
import sys
import threading
import time
from contextlib import contextmanager

PKG = "rws_data_ingester_spark"

# Wrapped functions whose spans also count the Spark jobs submitted while
# they run. Counting costs a py4j round trip per boundary, so it is kept
# off the hot construction helpers (pround, load_table).
JOB_COUNTED = frozenset({
    "operators.cluster.connected_components",
    "operators.dedup.minhash_signature",
    "operators.dedup.lsh_star_edges",
    "operators.similarity.ivf_fit",
    "operators.similarity.cosine_topk",
    "operators.similarity.embedding_dup_ids",
    "operators.packing.pack_sequences",
    "sources.http.fanout_fetch",
    "functions.html_extract.extract_spots",
    "functions.llm.enrich_with_llm",
    "streaming.jobs.run_to_memory",
    "streaming.jobs.run_to_parquet",
})

# Every wrapped function, named "<module under the package>.<function>";
# each is reported as a per-layer metric, and nothing else is wrapped.
TRACED_FUNCTIONS = ("catalog.load_table", "functions.rounding.pround",
                    "session.local_frame") + tuple(sorted(JOB_COUNTED))

# Module attribute behind a traced name, where the two differ. The IVF fit
# behind ivf_index: the curation queries reach it directly (semantic
# dedup), never through ivf_index.
_ATTR = {"operators.similarity.ivf_fit": "_ivf_fit"}

# Spans of this name record whether the returned DataFrame handle is one
# returned before (the catalog's handle cache hit).
HANDLE_SPAN = "catalog.load_table"

# Phase spans recorded by the runner around each query.
CONSTRUCT, PLAN, EXEC = "plans.construct", "catalyst.plan", "exec.run"


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent index,
    query id, jobs); only the main thread records, so spans nest."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.qid: str | None = None
        self.phase: str | None = None
        self.next_job_id = None  # () -> int, set once a SparkContext exists
        self._stack: list[int] = []
        self._main = threading.get_ident()
        self._handles: dict[int, object] = {}

    def active(self) -> bool:
        return self.enabled and threading.get_ident() == self._main

    @contextmanager
    def span(self, name: str, count_jobs: bool = False):
        if not self.active():
            yield
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "qid": self.qid, "jobs": None}
        jobs0 = self.next_job_id() if count_jobs and self.next_job_id else None
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            if jobs0 is not None:
                rec["jobs"] = self.next_job_id() - jobs0

    def wrap(self, fn, name: str):
        count_jobs = name in JOB_COUNTED
        track_handles = name == HANDLE_SPAN

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active():
                return fn(*args, **kwargs)
            with self.span(name, count_jobs) as rec:
                result = fn(*args, **kwargs)
                if track_handles:
                    rec["hit"] = self._handles.get(id(result)) is result
                    self._handles[id(result)] = result
                return result

        return wrapper

    def dump(self, path) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of its interval covered by its
    direct children (children of one span never overlap: one thread)."""
    cover = [0.0] * len(spans)
    for s in spans:
        p = s["parent"]
        if p is not None:
            cover[p] += s["end"] - s["start"]
    return [s["end"] - s["start"] - c for s, c in zip(spans, cover)]


def summarize(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: calls, inclusive seconds (outermost spans of that
    name only, so recursion is not double counted), self seconds, jobs."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for i, s in enumerate(spans):
        agg = out.setdefault(s["name"], {"calls": 0, "s": 0.0, "self_s": 0.0, "jobs": 0})
        agg["calls"] += 1
        agg["self_s"] += selfs[i]
        p = s["parent"]
        while p is not None and spans[p]["name"] != s["name"]:
            p = spans[p]["parent"]
        if p is None:
            agg["s"] += s["end"] - s["start"]
            agg["jobs"] += s["jobs"] or 0
    return out


class _WrappingLoader(importlib.abc.Loader):
    def __init__(self, inner, label: str, tracer: Tracer) -> None:
        self._inner, self._label, self._tracer = inner, label, tracer

    def create_module(self, spec):
        return self._inner.create_module(spec)

    def exec_module(self, module) -> None:
        self._inner.exec_module(module)
        wrap_module(module, self._label, self._tracer)


class _WrappingFinder(importlib.abc.MetaPathFinder):
    def __init__(self, tracer: Tracer) -> None:
        self._tracer = tracer
        modules = {name.rsplit(".", 1)[0] for name in TRACED_FUNCTIONS}
        self._targets = {f"{PKG}.{m}": m for m in modules}

    def find_spec(self, fullname, path, target=None):
        label = self._targets.get(fullname)
        if label is None:
            return None
        spec = importlib.machinery.PathFinder.find_spec(fullname, path)
        if spec is not None:
            spec.loader = _WrappingLoader(spec.loader, label, self._tracer)
        return spec


def wrap_module(module, label: str, tracer: Tracer) -> None:
    """Replace the module's traced functions by tracing wrappers, right
    after the module body ran and before any other module imports them."""
    for name in TRACED_FUNCTIONS:
        mod, func = name.rsplit(".", 1)
        if mod == label:
            attr = _ATTR.get(name, func)
            setattr(module, attr, tracer.wrap(getattr(module, attr), name))


def install(tracer: Tracer) -> None:
    """Install the wrapping import hook. Must run before the engine
    package is first imported: its ``__init__`` imports every module."""
    if PKG in sys.modules:
        raise RuntimeError(f"{PKG} was imported before the trace hook")
    sys.meta_path.insert(0, _WrappingFinder(tracer))


# --- Spark-side counters -------------------------------------------------

def drain_listener_bus(spark) -> None:
    """Block until Spark's listener bus has delivered every event, so the
    status store has seen every finished job and stage."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def job_counter(spark):
    """() -> number of jobs submitted so far. Job ids are assigned in the
    submitting thread, so the difference across a call counts every job
    it submitted, on any thread."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs


def group_jobs(spark, groups) -> dict[str, int]:
    """Jobs, run stages, tasks, failed tasks and single-task stages of the
    jobs in the given job groups. Call after ``drain_listener_bus``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = []
    for g in groups:
        jobs.extend(tracker.getJobIdsForGroup(g))
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = failed = single = 0
    for sid in stage_ids:
        st = tracker.getStageInfo(sid)
        if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
            continue  # skipped: its shuffle output was reused
        stages += 1
        tasks += st.numCompletedTasks + st.numFailedTasks
        failed += st.numFailedTasks
        single += st.numTasks == 1
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
            "failed_tasks": failed, "single_task_stages": single}


PLAN_NODES = {
    "plan.exchanges": ("Exchange",),
    "plan.broadcast_exchanges": ("BroadcastExchange",),
    "plan.python_evals": ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                          "FlatMapGroupsInPandas"),
    "plan.cartesian_products": ("CartesianProduct",),
    "plan.sort_merge_joins": ("SortMergeJoin",),
    "plan.broadcast_hash_joins": ("BroadcastHashJoin",),
}
_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]+)")


def plan_shape(tree_string: str) -> dict[str, int]:
    """Count operator nodes in a physical plan's tree string."""
    names = [m.group(1) for m in map(_NODE.match, tree_string.splitlines()) if m]
    return {k: sum(n in nodes for n in names) for k, nodes in PLAN_NODES.items()}


class JvmStats:
    """GC time and heap peak from the driver JVM's management beans."""

    def __init__(self, spark) -> None:
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap = [p for p in mf.getMemoryPoolMXBeans()
                      if p.getType().toString() == "Heap memory"]

    def gc_s(self) -> float:
        return sum(max(b.getCollectionTime(), 0) for b in self._gcs) / 1000.0

    def reset_peak(self) -> None:
        for p in self._heap:
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap) / 2**20


def make_stream_listener(tracer: Tracer):
    """A StreamingQueryListener recording, per run id, the query/phase
    that started it and every progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamStats(StreamingQueryListener):
        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.started: dict[str, tuple] = {}
            self.terminated: set[str] = set()
            self.progress: list[dict] = []

        # Called synchronously inside DataStreamWriter.start(), so the
        # tracer still names the query and phase that started the stream.
        def onQueryStarted(self, event) -> None:
            with self.lock:
                self.started[str(event.runId)] = (tracer.qid, tracer.phase)

        def onQueryProgress(self, event) -> None:
            p = json.loads(event.progress.json)
            with self.lock:
                self.progress.append(p)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self.lock:
                self.terminated.add(str(event.runId))

        def wait_terminated(self, timeout: float = 30.0) -> None:
            deadline = time.monotonic() + timeout
            while time.monotonic() < deadline:
                with self.lock:
                    if set(self.started) <= self.terminated:
                        return
                time.sleep(0.02)

        def take(self):
            with self.lock:
                started, progress = dict(self.started), list(self.progress)
                self.started.clear()
                self.terminated.clear()
                self.progress.clear()
            return started, progress

    return StreamStats()


def stream_metrics(progress: list[dict], input_bytes_per_row: float,
                   bytes_written: int) -> dict[str, float]:
    """Fold progress reports into the streaming per-layer metrics."""
    def dur(p, key):
        return p.get("durationMs", {}).get(key, 0)

    trig = sorted(dur(p, "triggerExecution") for p in progress)
    rows = sum(p.get("numInputRows", 0) for p in progress)
    last: dict[str, dict] = {}
    for p in progress:
        last[p["runId"]] = p
    state_ops = [op for p in last.values() for op in p.get("stateOperators", [])]
    in_bytes = rows * input_bytes_per_row
    return {
        "streaming.triggers": len(progress),
        "streaming.trigger_ms_p50": trig[len(trig) // 2] if trig else 0.0,
        "streaming.add_batch_ms": sum(dur(p, "addBatch") for p in progress),
        "streaming.query_planning_ms": sum(dur(p, "queryPlanning") for p in progress),
        "streaming.wal_commit_ms": sum(dur(p, "walCommit") + dur(p, "commitOffsets")
                                       for p in progress),
        "streaming.state_rows": sum(op.get("numRowsTotal", 0) for op in state_ops),
        "streaming.state_mem_bytes": sum(op.get("memoryUsedBytes", 0) for op in state_ops),
        "streaming.bytes_written_per_input_byte": bytes_written / in_bytes if in_bytes else 0.0,
        "stream_rows_per_s": rows / (sum(trig) / 1000.0) if trig and sum(trig) else 0.0,
    }
