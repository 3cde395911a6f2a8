"""Span tracing for the traced run, done entirely from the benchmark's files.

The engine package is never edited. :func:`install` replaces public
functions with wrappers at the module attribute their callers look up,
so the engine's own call sites reach the wrapper:

===========================================  ==============================
attribute                                    span
===========================================  ==============================
``saneql.bind_query``                        ``saneql.bind``
``saneql.parser.parse``                      ``saneql.parse``
``saneql.binder.mutations_aggregate``        ``operators.mutations_build``
``saneql.binder.insertions_aggregate``       ``operators.insertions_build``
``sources.ndjson.ingest_ndjson``             ``sources.ingest``
``sources.adapt.merge_stores``               ``sources.merge_stores``
``storage.save_version`` / ``load_version``  ``storage.save`` / ``storage.load``
``storage.append_version``                   ``storage.append``
``DataFrame.toLocalIterator`` (classic)      scan counters (no span)
===========================================  ==============================

Each span records name, start, end, parent, operation id (the HTTP
``X-Request-Id`` or the curation pass) and thread. While a span is open the
wrapper sets the Spark local properties ``perfbench.op`` and
``perfbench.span``, so every Spark job in the event log can be charged to
the operation and the span that started it. Spans stay in memory and are
written once, at exit.

:func:`read_event_log` is the client-side half: it reduces a Spark event
log to per-job counts (stages, tasks, run time, GC, shuffle and spill).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time

OP_PROP = "perfbench.op"
SPAN_PROP = "perfbench.span"


def _spark_context():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.scans: list[dict] = []
        self.meta: dict = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- operation context -------------------------------------------------
    def set_op(self, op: str | None) -> None:
        self._local.op = op
        sc = _spark_context()
        if sc is not None:
            sc.setLocalProperty(OP_PROP, op)

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _enter(self, name: str) -> tuple:
        stack = self._stack()
        parent = stack[-1] if stack else None
        path = f"{parent[2]}/{name}" if parent else name
        sid = next(self._ids)
        stack.append((sid, name, path))
        sc = _spark_context()
        if sc is not None:
            sc.setLocalProperty(SPAN_PROP, path)
        return sid, parent[0] if parent else None, time.monotonic()

    def _exit(self, name: str, sid: int, parent: int | None,
              start: float) -> None:
        end = time.monotonic()
        stack = self._stack()
        stack.pop()
        sc = _spark_context()
        if sc is not None:
            sc.setLocalProperty(SPAN_PROP, stack[-1][2] if stack else None)
        with self._lock:
            self.spans.append({
                "id": sid, "parent": parent, "name": name, "start": start,
                "end": end, "op": getattr(self._local, "op", None),
                "thread": threading.get_ident(),
            })

    @contextlib.contextmanager
    def span(self, name: str):
        state = self._enter(name)
        try:
            yield
        finally:
            self._exit(name, *state)

    def wrap(self, name: str, fn, request_op: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if request_op:
                self.set_op(_request_id())
            try:
                with self.span(name):
                    return fn(*args, **kwargs)
            finally:
                if request_op:
                    self.set_op(None)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "scans": self.scans,
                       "meta": self.meta}, fh)


def _request_id() -> str | None:
    try:
        import flask
    except ImportError:
        return None
    if flask.has_request_context():
        return flask.request.headers.get("X-Request-Id")
    return None


def _parquet_scan_rows(plan) -> int:
    """Sum ``numOutputRows`` of every Parquet file scan in an executed plan,
    unwrapping adaptive-execution and query-stage nodes."""
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return _parquet_scan_rows(plan.executedPlan())
    if cls.endswith("QueryStageExec"):
        return _parquet_scan_rows(plan.plan())
    total = 0
    if cls == "FileSourceScanExec":
        metrics = plan.metrics()
        if metrics.contains("numOutputRows"):
            total += int(metrics.apply("numOutputRows").value())
    children = plan.children()
    for i in range(children.size()):
        total += _parquet_scan_rows(children.apply(i))
    return total


def install(tracer: Tracer) -> None:
    """Install the wrappers listed in the module docstring."""
    from pyspark.sql.classic.dataframe import DataFrame

    import lapis_silo_spark.saneql as saneql
    import lapis_silo_spark.saneql.binder as binder
    import lapis_silo_spark.saneql.parser as parser
    import lapis_silo_spark.sources.adapt as adapt
    import lapis_silo_spark.sources.ndjson as ndjson
    import lapis_silo_spark.storage as storage

    saneql.bind_query = tracer.wrap("saneql.bind", saneql.bind_query,
                                    request_op=True)
    parser.parse = tracer.wrap("saneql.parse", parser.parse)
    binder.mutations_aggregate = tracer.wrap(
        "operators.mutations_build", binder.mutations_aggregate)
    binder.insertions_aggregate = tracer.wrap(
        "operators.insertions_build", binder.insertions_aggregate)
    ndjson.ingest_ndjson = tracer.wrap("sources.ingest", ndjson.ingest_ndjson)
    adapt.merge_stores = tracer.wrap("sources.merge_stores",
                                     adapt.merge_stores)
    storage.save_version = tracer.wrap("storage.save", storage.save_version)
    storage.load_version = tracer.wrap("storage.load", storage.load_version)
    storage.append_version = tracer.wrap("storage.append",
                                         storage.append_version)

    original = DataFrame.toLocalIterator

    @functools.wraps(original)
    def to_local_iterator(self, *args, **kwargs):
        rows = 0
        for row in original(self, *args, **kwargs):
            rows += 1
            yield row
        sc = _spark_context()
        group = sc.getLocalProperty("spark.jobGroup.id") if sc else None
        try:
            scanned = _parquet_scan_rows(self._jdf.queryExecution()
                                         .executedPlan())
        except Exception as exc:  # noqa: BLE001 — counters never fail a request
            tracer.meta.setdefault("scan_errors", []).append(str(exc)[:200])
            return
        with tracer._lock:
            tracer.scans.append({"group": group, "scan_rows": scanned,
                                 "result_rows": rows})

    DataFrame.toLocalIterator = to_local_iterator


def _lines(paths: list[str]):
    for path in paths:
        with open(path) as fh:
            yield from fh


def read_event_log(paths: list[str]) -> list[dict]:
    """Per-job records from the files of one Spark event log: properties,
    stage count, task count, executor run time, stage wait, GC, shuffle
    write and spill."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {"job": jid, "props": ev.get("Properties", {}),
                         "submitted": ev.get("Submission Time"),
                         "stages": set()}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["completed"] = ev.get("Completion Time")
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], {"tasks": []})
            st["wall"] = ((info.get("Completion Time") or 0)
                          - (info.get("Submission Time") or 0))
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], {"tasks": []})
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            st["tasks"].append({
                "run": m.get("Executor Run Time", 0),
                "dur": (info.get("Finish Time", 0)
                        - info.get("Launch Time", 0)),
                "gc": m.get("JVM GC Time", 0),
                "shuffle": (m.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0),
                "spill": (m.get("Memory Bytes Spilled", 0)
                          + m.get("Disk Bytes Spilled", 0)),
            })
    for sid, st in stages.items():
        jid = stage_job.get(sid)
        if jid in jobs and "wall" in st:
            jobs[jid]["stages"].add(sid)
    out = []
    for job in jobs.values():
        tasks = [t for sid in job["stages"] for t in stages[sid]["tasks"]]
        out.append({
            "job": job["job"],
            "op": job["props"].get(OP_PROP),
            "span": job["props"].get(SPAN_PROP),
            "group": job["props"].get("spark.jobGroup.id"),
            "stages": len(job["stages"]),
            "tasks": len(tasks),
            "task_busy_ms": sum(t["run"] for t in tasks),
            "task_wait_ms": sum(
                max(0, stages[sid]["wall"]
                    - max((t["dur"] for t in stages[sid]["tasks"]), default=0))
                for sid in job["stages"]),
            "gc_ms": sum(t["gc"] for t in tasks),
            "shuffle_write_bytes": sum(t["shuffle"] for t in tasks),
            "spill_bytes": sum(t["spill"] for t in tasks),
        })
    return out
