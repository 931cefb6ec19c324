"""Spans around the calls the engine's modules make into each other.

Nothing here edits the program: ``install_server`` replaces module attributes with
wrappers that record a span (layer, name, start, end, parent, request id)
and then call the original.  Spans stay in memory until ``dump``.  A
request's root span is the HTTP ``POST`` handler; work the executor runs on
its pool thread is parented to the ``run_with_timeout`` span that
submitted it, so a request's spans form one tree and its layers' self times
add up to the root span exactly.

Spark work is attributed per request through its job group: jobs, stages
and tasks from ``statusTracker()``, task time, shuffle and spill from the
event log (enabled in traced runs only).
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
import types
import uuid
from pathlib import Path

_clock = time.perf_counter


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.msg_rid: dict[str, int] = {}  # JSON-RPC id -> request id
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    # -- context ------------------------------------------------------------

    def current(self) -> tuple[int, int] | None:
        """(request id, span id) of the innermost open span on this thread."""
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    def _push(self, ctx) -> None:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        self._local.stack.append(ctx)

    def _pop(self) -> None:
        self._local.stack.pop()

    def open(self, layer: str, name: str, root: bool = False, parent=None) -> dict | None:
        """Start a span under ``parent`` (default: this thread's innermost
        span); None when tracing is off or there is no request to join."""
        if not self.enabled:
            return None
        parent = parent or self.current()
        if parent is None and not root:
            return None
        sid = next(self._ids)
        rid = sid if root else parent[0]
        span = {
            "rid": rid, "sid": sid, "parent": None if root else parent[1],
            "layer": layer, "name": name, "t0": _clock(), "t1": None, "attrs": {},
        }
        self._push((rid, sid))
        return span

    def close(self, span: dict | None) -> None:
        if span is None:
            return
        span["t1"] = _clock()
        self._pop()
        with self._lock:
            self.spans.append(span)

    def wrap(self, owner, attr: str, layer: str, name: str | None = None, on_result=None):
        """Replace ``owner.attr`` by a spanned wrapper; ``on_result(span,
        args, kwargs, result)`` may attach attributes."""
        orig = getattr(owner, attr)
        label = name or attr

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span = self.open(layer, label)
            if span is None:
                return orig(*args, **kwargs)
            try:
                out = orig(*args, **kwargs)
            except BaseException as e:
                span["attrs"]["error"] = type(e).__name__
                raise
            finally:
                self.close(span)
            if on_result is not None:
                on_result(span, args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)

    def dump(self, path: Path, extra: dict) -> None:
        with self._lock:
            body = {"spans": self.spans, "msg_rid": self.msg_rid, **extra}
        path.write_text(json.dumps(body))


# --- installing the wrappers --------------------------------------------------


def with_event_log(get_spark, log_dir: str):
    """get_spark that also enables the event log (traced runs only)."""

    @functools.wraps(get_spark)
    def build(*args, extra_conf=None, **kwargs):
        conf = dict(extra_conf or {})
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": Path(log_dir).resolve().as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        return get_spark(*args, extra_conf=conf, **kwargs)

    return build


def timed_setup(session_mod, setup: dict) -> None:
    """Record the set-up split (session build, table registration)."""
    for attr, key in (("get_spark", "get_spark_ms"), ("register_testdata", "register_ms")):
        orig = getattr(session_mod, attr)

        def timed(*args, _orig=orig, _key=key, **kwargs):
            t0 = _clock()
            try:
                return _orig(*args, **kwargs)
            finally:
                setup[_key] = setup.get(_key, 0.0) + (_clock() - t0) * 1e3

        setattr(session_mod, attr, timed)


def install_server(tracer: Tracer, httpd, server) -> None:
    """Span every cross-module call on the served path."""
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame

    from mcp_clickhouse_spark import dialect, mcp_server, tools
    from mcp_clickhouse_spark.executor import QueryTimeoutError
    from mcp_clickhouse_spark.sources import system_tables, table_functions

    handler = httpd.RequestHandlerClass
    orig_post = handler.do_POST

    def do_post(self):
        span = tracer.open("mcp_server", "http_post", root=True)
        try:
            return orig_post(self)
        finally:
            tracer.close(span)

    handler.do_POST = do_post

    orig_handle = server.handle_message

    def handle_message(msg):
        ctx = tracer.current()
        if ctx is not None and isinstance(msg, dict):
            tracer.msg_rid.setdefault(str(msg.get("id")), ctx[0])
        return orig_handle(msg)

    server.handle_message = handle_message

    # mcp_server's json.dumps is the encode step (tool result and envelope)
    shim = types.ModuleType("json")
    shim.__dict__.update({k: getattr(json, k) for k in dir(json) if not k.startswith("__")})
    mcp_server.json = shim
    tracer.wrap(shim, "dumps", "mcp_server", "encode")

    for tool in ("list_databases", "list_tables", "run_select_query", "run_embedded_select_query"):
        tracer.wrap(tools, tool, "tools", tool)
    tracer.wrap(tools, "check_read_only", "readonly", "check")
    tracer.wrap(tools, "check_read_only_plan", "readonly", "plan_check")
    tracer.wrap(tools, "list_database_names", "catalog", "list")
    tracer.wrap(tools, "list_table_names", "catalog", "list")
    tracer.wrap(tools, "consume_token", "pagination", "consume",
                on_result=lambda s, a, k, out: s["attrs"].update(hit=out is not None))
    tracer.wrap(tools, "mint_token", "pagination", "mint")
    tracer.wrap(dialect, "translate", "dialect", "translate")
    tracer.wrap(dialect, "extract_settings", "dialect", "settings")
    tracer.wrap(table_functions, "bind_sql_table_functions", "sources", "bind")
    tracer.wrap(system_tables, "bind_system_tables", "sources", "bind")
    tracer.wrap(SparkSession, "sql", "session", "analyze")
    tracer.wrap(DataFrame, "collect", "session", "execute_fetch")

    # describe_table runs on the handler thread with no job group: give each
    # call its own so its Spark jobs can be counted
    orig_describe = tools.describe_table

    def describe_table(spark, database, name):
        span = tracer.open("catalog", "describe")
        if span is None:
            return orig_describe(spark, database, name)
        sc = spark.sparkContext
        group = f"perfbench-describe-{uuid.uuid4().hex}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        span["attrs"]["group"] = group
        try:
            return orig_describe(spark, database, name)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
            tracer.close(span)

    tools.describe_table = describe_table

    # run_with_timeout: the pool thread joins the submitting request's tree
    orig_rwt = tools.run_with_timeout

    def run_with_timeout(spark, fn, timeout_secs=None):
        span = tracer.open("executor", "run_with_timeout")
        if span is None:
            return orig_rwt(spark, fn, timeout_secs=timeout_secs)
        parent = tracer.current()

        def traced_fn():
            span["attrs"]["queue_wait_ms"] = (_clock() - span["t0"]) * 1e3
            child = tracer.open("tools", "query_fn", parent=parent)
            group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
            if group:
                child["attrs"]["group"] = group
            try:
                return fn()
            finally:
                tracer.close(child)

        try:
            return orig_rwt(spark, traced_fn, timeout_secs=timeout_secs)
        except QueryTimeoutError:
            span["attrs"]["timeout"] = True
            raise
        finally:
            tracer.close(span)

    tools.run_with_timeout = run_with_timeout


# --- Spark attribution ---------------------------------------------------------


def spark_counts(sc, groups) -> dict[str, dict]:
    """Jobs, stages and tasks per job group, from the status tracker."""
    st = sc.statusTracker()
    out = {}
    for group in groups:
        jobs = list(st.getJobIdsForGroup(group))
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
        out[group] = {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}
    return out


def parse_event_log(log_dir: Path) -> dict[str, dict]:
    """Task time, shuffle and spill per job group, as scripts/job_profile.py
    reads them: stage accumulables from SparkListenerStageCompleted, stages
    mapped to groups through SparkListenerJobStart."""
    stage_group: dict[int, str] = {}
    per_group: dict[str, dict] = {}
    for path in sorted(log_dir.glob("*")):
        if not path.is_file():
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for s in ev.get("Stage Infos", []):
                            stage_group[s["Stage ID"]] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is None:
                        continue
                    acc = {a.get("Name"): a.get("Value") or 0 for a in info.get("Accumulables", [])}
                    g = per_group.setdefault(group, dict.fromkeys(
                        ("task_ms", "shuffle_read", "shuffle_write", "spill"), 0))
                    g["task_ms"] += int(acc.get("internal.metrics.executorRunTime", 0))
                    g["shuffle_read"] += int(acc.get("internal.metrics.shuffle.read.remoteBytesRead", 0)) + int(
                        acc.get("internal.metrics.shuffle.read.localBytesRead", 0))
                    g["shuffle_write"] += int(acc.get("internal.metrics.shuffle.write.bytesWritten", 0))
                    g["spill"] += int(acc.get("internal.metrics.diskBytesSpilled", 0)) + int(
                        acc.get("internal.metrics.memoryBytesSpilled", 0))
    return per_group
