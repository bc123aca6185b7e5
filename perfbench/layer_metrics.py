"""Per-layer metrics of a traced run (``--trace 1``).

Inputs: the client's request records, the server's ``stats`` reply (the
per-request layer records from :mod:`layertrace`, totals diffed from
Spark's status store, JVM MXBean gauges) and the set-up timings. Times
are per query request, write-path times per write request, unless the
name says otherwise.
"""

from __future__ import annotations

import statistics

QUERY_PATHS = ("/api/v1/query", "/api/v1/query_range")

#: per traced query request: (metric, span name, "self" or "total")
QUERY_SPANS = (
    ("promql.parse_ms", "promql.parse", "total"),
    ("planner.build_ms", "planner.build", "self"),
    ("api.query_ms", "api.query", "self"),
    ("api.format_ms", "api.format", "self"),
    ("spark.collect_ms", "spark.collect", "total"),
    ("spark.create_dataframe_ms", "spark.create_dataframe", "total"),
    ("http.self_ms", "http.request", "self"),
    ("trace.self_ms", "trace", "self"),
)
#: per traced write request
WRITE_SPANS = (
    ("codec.decode_ms", "codec.decode", "total"),
    ("http_api.ingest_ms", "http_api.ingest", "self"),
)
#: Spark status-store totals; the suffix after the last ``_`` is the unit
STATUS = ("jobs", "stages", "tasks", "executor_run_ms", "input_rows",
          "shuffle_bytes")
SETUP = ("setup.session_s", "setup.seed_write_s", "setup.downsample_s",
         "setup.daemon_start_s")
FAIL_REASONS = ("error", "timeout", "truncated", "wrong")


def names() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in report order."""
    out = [(m, "ms") for m, _, _ in QUERY_SPANS]
    out += [("py4j.calls", "count")]
    out += [(f"catalyst.{p}_ms", "ms")
            for p in ("analysis", "optimization", "planning")]
    out += [(m, "ms") for m, _, _ in WRITE_SPANS]
    out += [(f"spark.{k}", k.rsplit("_", 1)[1] if "_" in k else "count")
            for k in STATUS]
    out += [("jvm.threads", "count"), ("jvm.gc_ms", "ms"),
            ("jvm.heap_used_mb", "MB"), ("python.rss_mb", "MB")]
    out += [(k, "s") for k in SETUP] + [("setup.warmup_s", "s")]
    out += [("trace.overhead_ms", "ms"), ("trace.accounted_ratio", "ratio"),
            ("failed_ratio", "ratio")]
    out += [(f"fail.{r}", "count") for r in FAIL_REASONS]
    out += [("cap.truncated_answers", "count"), ("read_growth_ratio", "ratio")]
    return out


def per_layer(window: list, stats: dict, ready: dict, warmup_s: float,
              fails: tuple[float, dict[str, int]], client: dict[str, float]
              ) -> dict[str, tuple[float, str]]:
    """``window`` holds the ``run.Record``s completed in the timed phase,
    ``fails`` is ``run.failures`` of every workload request of the run,
    ``client`` the metrics the client works out from its own records
    (``cap.truncated_answers``, ``read_growth_ratio``)."""
    units = dict(names())
    latency = {r.rid: r.latency for r in window}
    traced = [q for q in stats["trace"]["requests"] if q["id"] in latency]
    queries = [q for q in traced if q["path"] in QUERY_PATHS]
    writes = [q for q in traced if q["path"] == "/api/v1/write"]
    nq, nw = max(1, len(queries)), max(1, len(writes))
    v: dict[str, float] = {}
    for metric, span, which in QUERY_SPANS:
        v[metric] = sum(q[f"{which}_ms"].get(span, 0.0) for q in queries) / nq
    v["py4j.calls"] = sum(q["py4j_build_calls"] for q in queries) / nq
    for p in ("analysis", "optimization", "planning"):
        v[f"catalyst.{p}_ms"] = sum(q["catalyst_ms"][p] for q in queries) / nq
    for metric, span, which in WRITE_SPANS:
        v[metric] = sum(q[f"{which}_ms"].get(span, 0.0) for q in writes) / nw
    n_all = max(1, sum(1 for r in window if r.kind != "write"))
    for k in STATUS:
        v[f"spark.{k}"] = stats["status"][k] / n_all
    v.update(stats["gauges"])
    v["python.rss_mb"] = stats["python.rss_mb"]
    for k in SETUP:
        v[k] = ready[k]
    v["setup.warmup_s"] = warmup_s
    on = [latency[q["id"]] for q in queries]
    off = [r.latency for r in window if r.kind != "write" and not r.traced]
    v["trace.overhead_ms"] = (
        (statistics.median(on) - statistics.median(off)) * 1000
        if on and off else 0.0
    )
    v["trace.accounted_ratio"] = (
        sum(q["root_ms"] for q in queries) / 1000 / sum(on) if on else 0.0
    )
    v["failed_ratio"], counts = fails
    for r in FAIL_REASONS:
        v[f"fail.{r}"] = counts.get(r, 0)
    v.update(client)
    return {k: (v[k], units[k]) for k, _ in names()}
