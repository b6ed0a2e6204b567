"""Traced mode of the serving benchmark: spans around the engine's layers.

Nothing in the engine changes. ``install`` wraps public functions where
their callers look them up (``timely_spark.api.run_query`` is the name
``TimelyEngine._frames`` calls, not ``plans.builder.run_query``), wraps the
py4j gateway client's ``send_command`` to count round trips per span, and
tags each request's Spark jobs with a job group named after its request
id so jobs, stages, tasks, executor time and shuffle bytes can be read
back from the status tracker and the status store.

A span records its name, start, end, parent span, request id and the py4j
calls made while it was the innermost open span on its thread. Spans stay
in memory until ``dump`` is called at the end of the run.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from functools import wraps

REQUEST_HEADER = "X-Request-Id"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self.spans: list[dict] = []
        self.groups: set[str] = set()  # job groups, named after request ids
        self.unattributed_py4j = 0

    # -------------------------------------------------------------- spans

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, rid: str | None = None, **attrs):
        st = self._stack()
        parent = st[-1] if st else None
        if rid is None and parent is not None:
            rid = parent["rid"]
        s = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "rid": rid,
            "py4j": 0,
            **attrs,
        }
        st.append(s)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(s)

    def wrap(self, fn, name: str, on_result=None):
        @wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(s, out)
                return out

        return traced

    # --------------------------------------------------------------- py4j

    def _count_py4j(self, send):
        @wraps(send)
        def counted(*args, **kwargs):
            st = getattr(self._local, "stack", None)
            if st:
                st[-1]["py4j"] += 1
            else:
                self.unattributed_py4j += 1
            return send(*args, **kwargs)

        return counted

    # ---------------------------------------------------------- job stats

    def job_stats(self, group: str) -> dict:
        """Jobs, stages, tasks, executor time and shuffle bytes of one job
        group, from the status tracker and the status store."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "run_ms": 0.0,
               "cpu_ms": 0.0, "shuffle_read": 0, "shuffle_write": 0}
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # stage never submitted (skipped) or evicted
                continue
            if sd.status().toString() in ("SKIPPED", "PENDING"):
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["run_ms"] += sd.executorRunTime()
            out["cpu_ms"] += sd.executorCpuTime() / 1e6
            out["shuffle_read"] += sd.shuffleReadBytes()
            out["shuffle_write"] += sd.shuffleWriteBytes()
        return out

    def dump(self) -> dict:
        jobs = {g: self.job_stats(g) for g in list(self.groups)}
        with self._lock:
            spans = list(self.spans)
        return {"spans": spans, "jobs": jobs, "unattributed_py4j": self.unattributed_py4j}

    def reset(self) -> None:
        """Forget the spans and job groups recorded so far (warm-up)."""
        with self._lock:
            self.spans.clear()
            self.groups.clear()
        self.unattributed_py4j = 0


def install(spark) -> Tracer:
    """Wrap the engine's layer boundaries; returns the tracer holding
    their spans. Call before the facades are constructed."""
    import timely_spark.api as api
    import timely_spark.http_facade as http_facade
    import timely_spark.plans.builder as builder
    from timely_spark.plans.request import QueryRequest
    from timely_spark.sources.hot_cache import HotCache

    t = Tracer(spark)
    gw = spark.sparkContext._gateway._gateway_client
    gw.send_command = t._count_py4j(gw.send_command)

    def dps(span, out):
        span["dps"] = sum(len(s["dps"]) for s in out)

    api.run_query = t.wrap(api.run_query, "plans.builder")
    api.to_query_response = t.wrap(api.to_query_response, "plans.response", dps)
    api.read_points = t.wrap(api.read_points, "sources.store.read")
    api.write_points = t.wrap(api.write_points, "sources.store.write")
    builder.viz_filter = t.wrap(builder.viz_filter, "functions.viz")
    HotCache.hybrid = t.wrap(HotCache.hybrid, "sources.hot_cache.hybrid")
    HotCache.refresh = t.wrap(HotCache.refresh, "sources.hot_cache.refresh")
    parse = QueryRequest.from_dict.__func__
    QueryRequest.from_dict = classmethod(t.wrap(parse, "plans.request"))

    def grouped(fn, name):
        """Engine entry: set the request's job group, then span it."""

        @wraps(fn)
        def run(engine, body, *args, **kwargs):
            st = t._stack()
            rid = st[-1]["rid"] if st else None
            if rid is not None:
                t.groups.add(rid)
                t.sc.setJobGroup(rid, name)
            with t.span(name) as s:
                if name == "api.query":
                    s["hit_share"] = _hit_share(engine, body)
                return fn(engine, body, *args, **kwargs)

        return run

    api.TimelyEngine.query = grouped(api.TimelyEngine.query, "api.query")
    api.TimelyEngine.put_json = grouped(api.TimelyEngine.put_json, "api.put_json")

    make_handler = http_facade.TimelyHttpServer._make_handler

    @wraps(make_handler)
    def traced_handler(self):
        cls = make_handler(self)
        do_post = cls.do_POST

        def do_POST(handler):  # noqa: N802 (stdlib casing)
            rid = handler.headers.get(REQUEST_HEADER)
            with t.span("http_facade", rid=rid):
                do_post(handler)

        cls.do_POST = do_POST
        return cls

    http_facade.TimelyHttpServer._make_handler = traced_handler
    return t


def _hit_share(engine, body: dict) -> float:
    """Share of the requested time range that lies inside the pinned
    hot-cache window. The backlog has one point per series per step, so
    this equals the share of scanned rows served from the pinned window."""
    hot = getattr(engine, "_hot", None)
    if hot is None or hot.oldest_ts is None:
        return 0.0
    lo, hi = int(body["start"]), int(body.get("end") or body["start"])
    if hi <= lo:
        return 0.0
    inside = max(0, hi - max(lo, hot.oldest_ts - 1))
    return min(1.0, inside / (hi - lo))
