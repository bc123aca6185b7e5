"""Outside-in layer trace of the daemon, built only from this directory.

:class:`Tracer` wraps the public functions each layer exposes, from the
outside, and records a span around every call a traced request makes:

* the daemon request (``PromHTTPServer._route``): the root span;
* PromQL parse, ``PromQLEngine.query_range`` (the py4j build), the API
  entry points ``PromAPI.query``/``query_range`` and ``format_*``;
* the write path: ``codec.decode_remote_write_body`` and
  ``PromHTTPServer.ingest``;
* the library boundary: ``DataFrame.collect``,
  ``SparkSession.createDataFrame`` and every py4j ``send_command``
  (counted, not timed).

Only requests carrying the ``X-Bench-Trace: 1`` header are traced, so a
run can interleave traced and untraced requests and report the tracing
overhead. Spans stay in memory (name, start, end, parent, request id) and
are written out when the run ends. Self time is a span's duration minus
the time its children cover; calls on one thread never overlap, so that
is the duration minus the children's durations.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time

TRACE_HEADER = "X-Bench-Trace"
ID_HEADER = "X-Bench-Id"

#: the root span of a traced request; the tracer's own work is in spans
#: named ``trace``
ROOT = "http.request"
PHASES = ("analysis", "optimization", "planning")


class _Request:
    __slots__ = ("rid", "client_id", "path", "spans", "stack", "phases")

    def __init__(self, rid: int, client_id: str | None, path: str):
        self.rid, self.client_id, self.path = rid, client_id, path
        #: [name, start_ns, end_ns, parent_index, py4j_calls]
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.phases = dict.fromkeys(PHASES, 0.0)

    def open(self, name: str) -> None:
        parent = self.stack[-1] if self.stack else -1
        self.stack.append(len(self.spans))
        self.spans.append([name, time.perf_counter_ns(), 0, parent, 0])

    def close(self) -> None:
        self.spans[self.stack.pop()][2] = time.perf_counter_ns()


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self.done: list[_Request] = []

    # ---------------------------------------------------------- wrapping

    def _req(self) -> _Request | None:
        return getattr(self._local, "req", None)

    def _wrap(self, owner, attr: str, name: str, after=None) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            req = tracer._req()
            if req is None:
                return fn(*args, **kwargs)
            req.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                req.close()
                if after is not None:
                    req.open("trace")
                    try:
                        after(req, args[0])
                    finally:
                        req.close()

        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Patch the layer entry points. Call before the daemon starts."""
        from py4j.java_gateway import GatewayClient

        from squirreldb_spark import api, codec, http_api
        from squirreldb_spark.promql import parser, planner

        route = http_api.PromHTTPServer._route
        tracer = self

        @functools.wraps(route)
        def traced_route(server, handler, body):
            if handler.headers.get(TRACE_HEADER) != "1":
                return route(server, handler, body)
            req = _Request(next(tracer._ids), handler.headers.get(ID_HEADER),
                           handler.path)
            tracer._local.req = req
            req.open(ROOT)
            try:
                return route(server, handler, body)
            finally:
                req.close()
                tracer._local.req = None
                with tracer._lock:
                    tracer.done.append(req)

        http_api.PromHTTPServer._route = traced_route
        # api._guard imports parse at call time; the planner bound it at
        # import time, so both names are wrapped
        self._wrap(parser, "parse", "promql.parse")
        self._wrap(planner, "parse", "promql.parse")
        self._wrap(planner.PromQLEngine, "query_range", "planner.build")
        self._wrap(api.PromAPI, "query", "api.query")
        self._wrap(api.PromAPI, "query_range", "api.query")
        self._wrap(api.PromAPI, "format_matrix", "api.format")
        self._wrap(api.PromAPI, "format_vector", "api.format")
        self._wrap(codec, "decode_remote_write_body", "codec.decode")
        self._wrap(http_api.PromHTTPServer, "ingest", "http_api.ingest")
        # the concrete classes: PySpark's public DataFrame is a base class
        # that the classic implementation overrides
        self._wrap(type(self.spark.range(0)), "collect", "spark.collect",
                   after=self._phases)
        self._wrap(type(self.spark), "createDataFrame", "spark.create_dataframe")

        send = GatewayClient.send_command

        @functools.wraps(send)
        def counted_send(client, *args, **kwargs):
            req = tracer._req()
            if req is not None and req.stack:
                req.spans[req.stack[-1]][4] += 1
            return send(client, *args, **kwargs)

        GatewayClient.send_command = counted_send

    def _phases(self, req: _Request, df) -> None:
        """Catalyst phase times of the query just collected, from its
        ``QueryPlanningTracker``. Runs inside a ``trace`` span, so its own
        py4j calls are not charged to a layer."""
        phases = df._jdf.queryExecution().tracker().phases()
        for p in PHASES:
            opt = phases.get(p)
            if opt.isDefined():
                req.phases[p] += opt.get().durationMs()

    # ----------------------------------------------------------- results

    def clear(self) -> None:
        with self._lock:
            self.done = []

    def summary(self) -> dict:
        """Per-request layer records: for each traced request, its client
        id and path, root duration, self and total time per span name, py4j
        calls during the build and Catalyst phase times (times in ms)."""
        with self._lock:
            done = list(self.done)
        out = []
        for req in done:
            spans = req.spans
            child = [0] * len(spans)
            for name, start, end, parent, _ in spans:
                if parent >= 0:
                    child[parent] += end - start
            selfs: dict[str, float] = {}
            totals: dict[str, float] = {}
            build_calls = 0
            inside_build = set()
            for i, (name, start, end, parent, calls) in enumerate(spans):
                dur = end - start
                selfs[name] = selfs.get(name, 0.0) + (dur - child[i]) / 1e6
                totals[name] = totals.get(name, 0.0) + dur / 1e6
                if name == "planner.build" or parent in inside_build:
                    inside_build.add(i)
                    build_calls += calls
            out.append({
                "id": req.client_id, "path": req.path.split("?")[0],
                "root_ms": (spans[0][2] - spans[0][1]) / 1e6,
                "self_ms": selfs, "total_ms": totals,
                "py4j_build_calls": build_calls,
                "catalyst_ms": dict(req.phases),
            })
        return {"requests": out}

    def dump(self, path: str) -> None:
        """Write every span, one JSON object per line."""
        with self._lock:
            done = list(self.done)
        with open(path, "w") as f:
            for req in done:
                for i, (name, start, end, parent, calls) in enumerate(req.spans):
                    f.write(json.dumps({
                        "request": req.rid, "client_id": req.client_id,
                        "span": i, "name": name, "start_ns": start,
                        "end_ns": end, "parent": parent, "py4j_calls": calls,
                    }) + "\n")
