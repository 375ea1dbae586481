"""Span recorders for a traced run, installed inside the process
under test by perfbench/sut.py.

`install()` replaces the public functions of the engine's layers
(web, session, ingest, catalog, pipeline, operators) and the Spark
calls they make with wrappers that record a span per call:
name, start, end (epoch seconds), id, parent span id and a trace id
shared by every span of one request or one upload. Spans stay in
memory; `dump()` writes them, with the Spark UI's job and stage
records, as one JSON file when the process ends.
"""

from __future__ import annotations

import asyncio
import contextvars
import functools
import inspect
import itertools
import json
import os
import signal
import threading
import time
import urllib.request
from urllib.parse import parse_qs

_current: contextvars.ContextVar = contextvars.ContextVar("span",
                                                          default=None)
_ids = itertools.count(1)
_spans: list[dict] = []
_open_spans: dict[int, dict] = {}
_state: dict = {}

def _open(name: str, trace=None, attrs=None):
    parent = _current.get()
    sid = next(_ids)
    if trace is None:
        trace = parent["trace"] if parent else f"t{sid}"
    sp = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
          "trace": trace, "start": time.time(), "end": None,
          "thread": threading.get_ident()}
    if attrs:
        sp["attrs"] = attrs
    _open_spans[sid] = sp
    return sp, _current.set(sp)


def _close(sp, token, error=None):
    sp["end"] = time.time()
    if error is not None:
        sp["error"] = type(error).__name__
    _current.reset(token)
    _open_spans.pop(sp["id"], None)
    _spans.append(sp)


def _make_wrapper(fn, name, trace_of=None, attrs_of=None):
    def ids(args, kwargs):
        trace = attrs = None
        if trace_of is not None:
            try:
                trace = trace_of(*args, **kwargs)
            except Exception:
                trace = None
        if attrs_of is not None:
            try:
                attrs = attrs_of(*args, **kwargs)
            except Exception:
                attrs = None
        return trace, attrs

    if inspect.iscoroutinefunction(fn):
        @functools.wraps(fn)
        async def awrapper(*args, **kwargs):
            sp, token = _open(name, *ids(args, kwargs))
            try:
                out = await fn(*args, **kwargs)
            except BaseException as ex:
                _close(sp, token, ex)
                raise
            _close(sp, token)
            return out
        return awrapper

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        sp, token = _open(name, *ids(args, kwargs))
        try:
            out = fn(*args, **kwargs)
        except BaseException as ex:
            _close(sp, token, ex)
            raise
        _close(sp, token)
        return out
    return wrapper


def wrap(owner, attr: str, name: str, trace_of=None, attrs_of=None):
    """Replace owner.attr (module function, method, staticmethod or
    classmethod) with a span-recording wrapper."""
    raw = owner.__dict__.get(attr) if isinstance(owner, type) else None
    if isinstance(raw, staticmethod):
        setattr(owner, attr, staticmethod(
            _make_wrapper(raw.__func__, name, trace_of, attrs_of)))
    elif isinstance(raw, classmethod):
        setattr(owner, attr, classmethod(
            _make_wrapper(raw.__func__, name, trace_of, attrs_of)))
    else:
        setattr(owner, attr, _make_wrapper(getattr(owner, attr), name,
                                           trace_of, attrs_of))


def wrap_module(mod, layer: str, extra=(), special=None, skip=()) -> None:
    """Wrap every public function defined in `mod` (plus `extra`
    private ones, minus `skip`) as spans named '<layer>.<function>'."""
    special = special or {}
    for attr, fn in list(vars(mod).items()):
        if not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
            continue
        if attr in skip:
            continue
        if attr.startswith("_") and attr not in extra:
            continue
        trace_of, attrs_of = special.get(attr, (None, None))
        wrap(mod, attr, f"{layer}.{attr.lstrip('_')}", trace_of, attrs_of)


def _request_trace(self, scope, receive, send):
    """A progress poll joins the trace of the upload it asks about."""
    query = parse_qs(scope.get("query_string", b"").decode())
    return (query.get("id") or [None])[0]


def _request_attrs(self, scope, receive, send):
    query = parse_qs(scope.get("query_string", b"").decode())
    attrs = {"method": scope["method"], "path": scope["path"]}
    if "sql" in query:
        attrs["sql"] = query["sql"][0]
    return attrs


def _copy_context_executor() -> None:
    """run_in_executor does not carry contextvars into the worker
    thread; make it, so spans inside SQL executor jobs find their
    request span as parent."""
    orig = asyncio.BaseEventLoop.run_in_executor

    def run_in_executor(self, executor, func, *args):
        ctx = contextvars.copy_context()
        return orig(self, executor, functools.partial(ctx.run, func), *args)

    asyncio.BaseEventLoop.run_in_executor = run_in_executor


def _wrap_upload_async(fn):
    """upload_csv_async: the task id is only known on return, so the
    span (and its request span) adopt it as their trace id then."""
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        sp, token = _open("ingest.upload_csv_async")
        try:
            task = fn(*args, **kwargs)
        except BaseException as ex:
            _close(sp, token, ex)
            raise
        _close(sp, token)
        # the enclosing POST handler and request spans are still open
        node = sp
        while node is not None:
            node["trace"] = task.task_id
            node = _open_spans.get(node["parent"])
        return task
    return wrapper


def install(path: str):
    """Wrap the layers, raise the Spark UI's job/stage retention so the
    whole run stays queryable, and arrange for `dump(path)` at exit."""
    _state["path"] = path
    _copy_context_executor()
    from pyspark.sql import DataFrameWriter, SparkSession
    from pyspark.sql.catalog import Catalog
    from pyspark.sql.classic.dataframe import DataFrame

    from datasette_upload_csvs_spark import catalog, ingest, pipeline
    from datasette_upload_csvs_spark import session, web
    from datasette_upload_csvs_spark.operators import dedup, export, graph

    session.ENGINE_CONFS.update({
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    wrap_module(session, "session")
    wrap(SparkSession, "newSession", "session.new_session")

    task_arg = (lambda *a, **k: k.get("task_id"))
    wrap_module(ingest, "ingest", extra=("_append_progress",), special={
        "upload_csv": (task_arg, None),
        "_append_progress": (lambda spark, db, row: row.get("id"), None),
        "get_progress": (lambda spark, task_id, database=None: task_id,
                         None),
    }, skip=("upload_csv_async",))
    ingest.upload_csv_async = _wrap_upload_async(ingest.upload_csv_async)
    wrap_module(catalog, "catalog")
    wrap_module(pipeline, "pipeline")
    for mod, layer in ((dedup, "operators.dedup"), (graph, "operators.graph"),
                       (export, "operators.export")):
        wrap_module(mod, layer)

    wrap(web.UploadApp, "__call__", "web.request", _request_trace,
         _request_attrs)
    for attr in ("_get_form", "_post_upload", "_get_sql", "_get_progress",
                 "_sql_guard", "_plan_is_pure_read"):
        wrap(web.UploadApp, attr, f"web.{attr.lstrip('_')}")
    wrap(web, "spool_multipart", "web.spool_multipart")

    for owner, attr in ((SparkSession, "sql"), (SparkSession, "table"),
                        (SparkSession, "createDataFrame"),
                        (DataFrame, "collect"), (DataFrame, "count"),
                        (DataFrame, "localCheckpoint"),
                        (DataFrameWriter, "saveAsTable"),
                        (DataFrameWriter, "insertInto"),
                        (Catalog, "tableExists")):
        wrap(owner, attr, f"spark.{attr}")

    def on_term(signum, frame):
        dump()
        os._exit(0)

    signal.signal(signal.SIGTERM, on_term)


def run_stage(name, thunk):
    """The run_stage hook the curation worker passes to
    run_curation_funnel: one span per funnel stage."""
    sp, token = _open("pipeline.stage", attrs={"stage": name})
    try:
        stage = thunk()
    except BaseException as ex:
        _close(sp, token, ex)
        raise
    sp["attrs"]["n_docs"] = stage.n_docs
    _close(sp, token)
    return stage


def _rest(sc, what: str):
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{what}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def dump() -> None:
    """Write spans plus the Spark UI's job and stage records."""
    if _state.get("dumped"):
        return
    _state["dumped"] = True
    from pyspark import SparkContext

    out = {"spans": list(_spans), "jobs": [], "stages": []}
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            out["jobs"] = [
                {k: j.get(k) for k in ("jobId", "jobGroup", "submissionTime",
                                       "stageIds")}
                for j in _rest(sc, "jobs")]
            out["stages"] = [
                {k: s.get(k) for k in (
                    "stageId", "attemptId", "numTasks", "submissionTime",
                    "inputBytes", "shuffleWriteBytes", "memoryBytesSpilled",
                    "diskBytesSpilled", "jvmGcTime")}
                for s in _rest(sc, "stages")]
        except Exception as ex:  # counters are best-effort
            out["rest_error"] = str(ex)
    tmp = _state["path"] + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, _state["path"])
