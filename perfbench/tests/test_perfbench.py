"""Tests of the benchmark itself: generator, answer checker and metrics.

    python3 -m pytest perfbench/tests -q

None of them starts Spark.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import check  # noqa: E402
import gen  # noqa: E402
import layer_metrics  # noqa: E402
import run  # noqa: E402


def _stream(workload: str, seed: int, cid: int, n: int = 8):
    client = gen.Client(workload, seed, cid, gen.Store())
    return [client.next() for _ in range(n)]


def _key(reqs):
    return [(r.kind, r.path, r.headers, r.body, r.expected) for r in reqs]


def test_generator_is_deterministic_for_a_seed():
    assert gen.series_params(3) == gen.series_params(3)
    for workload in gen.WORKLOADS:
        for cid in (0, 1):
            assert _key(_stream(workload, 7, cid)) == _key(_stream(workload, 7, cid))
    assert _key(_stream("dashboard", 7, 1)) != _key(_stream("dashboard", 8, 1))
    assert _key(_stream("write_read", 7, 0)) != _key(_stream("write_read", 8, 0))
    assert gen.batch_bodies(7, 3) == gen.batch_bodies(7, 3) != gen.batch_bodies(8, 3)


def test_slopes_are_distinct_so_topk_has_no_ties():
    slopes = [slope for _, _, slope in gen.series_params(gen.STORE_SEED)]
    assert len(set(slopes)) == gen.N_SERIES


def _body(expected: dict, kind: str, cap: int | None = None) -> bytes:
    """A Prometheus JSON answer holding ``expected``, cut after ``cap``
    points the way the daemon's row limit cuts it."""
    rows = sorted(
        (sorted(key), t, v) for key, vals in expected.items()
        for t, v in vals.items()
    )
    if cap is not None:
        rows = rows[:cap]
    series: dict = {}
    for labels, t, v in rows:
        series.setdefault(tuple(labels), []).append([t / 1000, repr(v)])
    if kind == "instant":
        result = [{"metric": dict(k), "value": vals[0]}
                  for k, vals in series.items()]
    else:
        result = [{"metric": dict(k), "values": vals}
                  for k, vals in series.items()]
    return json.dumps({"status": "success", "data": {
        "resultType": "vector" if kind == "instant" else "matrix",
        "result": result}}).encode()


def _panel(predicate):
    for req in _stream("dashboard", 1, 1, n=len(gen.RANGE_PANELS)):
        if predicate(req):
            return req
    raise AssertionError("no such panel")


def test_checker_accepts_the_right_answer():
    for req in _stream("dashboard", 1, 0) + _stream("dashboard", 1, 1):
        assert check.check(req, 200, _body(req.expected, req.kind)) is None


def test_only_the_cap_probes_exceed_the_row_cap():
    for cid in (0, 1, 2, 3):
        stream = _stream("dashboard", 1, cid, n=2 * len(gen.RANGE_PANELS))
        assert all(r.points <= gen.RESULT_ROW_CAP for r in stream)
    probes = gen.Client("dashboard", 1, 0, gen.Store()).cap_probes()
    assert len(probes) == len(gen.CAP_PANELS)
    assert all(r.points > gen.RESULT_ROW_CAP for r in probes)


def test_checker_rejects_a_truncated_answer():
    for req in gen.Client("dashboard", 1, 0, gen.Store()).cap_probes():
        cut = _body(req.expected, req.kind, cap=gen.RESULT_ROW_CAP)
        assert check.check(req, 200, cut) == "truncated"
        short = _body(req.expected, req.kind, cap=gen.RESULT_ROW_CAP - 1)
        assert check.check(req, 200, short) == "wrong"
        assert check.check(req, 200, _body(req.expected, req.kind)) is None


def test_checker_rejects_a_perturbed_answer():
    req = _panel(lambda r: 1 < r.points <= gen.RESULT_ROW_CAP)
    key = next(iter(req.expected))
    t = next(iter(req.expected[key]))
    bad = {k: dict(v) for k, v in req.expected.items()}
    bad[key][t] *= 1 + 1e-6
    assert check.check(req, 200, _body(bad, req.kind)) == "wrong"
    missing = {k: v for k, v in req.expected.items() if k != key}
    assert check.check(req, 200, _body(missing, req.kind)) == "wrong"


def test_checker_demands_exact_read_back():
    *writes, read = _stream("write_read", 1, 0, n=gen.RW_BATCHES + 1)
    assert {w.kind for w in writes} == {"write"} and read.exact
    assert check.check(read, 200, _body(read.expected, read.kind)) is None
    key = next(iter(read.expected))
    t = next(iter(read.expected[key]))
    bad = {k: dict(v) for k, v in read.expected.items()}
    bad[key][t] += 1e-9 * abs(bad[key][t])
    assert check.check(read, 200, _body(bad, read.kind)) == "wrong"


def test_checker_reasons_for_transport_failures():
    req = _stream("dashboard", 1, 0, n=1)[0]
    assert check.check(req, None, b"") == "timeout"
    assert check.check(req, 503, b"{}") == "timeout"
    assert check.check(req, 400, b"{}") == "error"
    write = _stream("write_read", 1, 0, n=1)[0]
    assert check.check(write, 204, b"") is None
    assert check.check(write, 500, b"") == "error"


def _benchmark() -> dict:
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_are_unique_and_match_the_code():
    bench = _benchmark()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert e2e == run.UNITS
    assert layers == dict(layer_metrics.names())
    assert {w["name"] for w in bench["workloads"]} == set(gen.WORKLOADS)


#: the timed phase of a synthetic run
WINDOW = (0.0, 20.0)


def _records(instant=1.0, rng=2.0, write=0.01, burst=0.02, samples=500,
             growth=1.5, fail=None):
    """A synthetic write_read-shaped run: the feed and an instant and a
    range read-back client that write before each read, in the timed
    phase, the queries getting slower in a straight line until they take
    ``growth`` times as long; then the burst."""
    out = []
    for i in range(8):
        t = i * 2.5
        out.append(run.Record("write", "feed", t, t + write * (1 + i / 10),
                              None, samples, run.FEED, None, False, "timed"))
        slower = 1 + (growth - 1) * i / 7
        for cid, kind, lat in ((0, "instant", instant), (1, "range", rng)):
            out.append(run.Record("write", "rw_batch", t, t + 0.003, None, 40,
                                  cid, None, False, "timed"))
            q = t + 0.1
            out.append(run.Record(kind, "p", q, q + lat * slower, None,
                                  0, cid, None, False, "timed"))
    for i in range(40):
        t = 25.0 + i * burst
        out.append(run.Record("write", "burst", t, t + burst, None, samples,
                              run.WRITER, None, False, "burst"))
    if fail is not None:
        out.append(run.Record("instant", "p", 5.0, 6.0, fail, 0, 0, None,
                              False, "timed"))
    return out


def _e2e(records):
    return run.end_to_end(records, WINDOW, 10.0, 1000.0)


def test_no_metric_is_computed_from_another_metrics_samples():
    base = _e2e(_records())
    assert len(set(base.values())) == len(base), "two metrics are equal"
    slow_range = _e2e(_records(rng=3.0))
    assert slow_range["instant_p50_ms"] == base["instant_p50_ms"]
    assert slow_range["write_p50_ms"] == base["write_p50_ms"]
    assert slow_range["range_p50_ms"] != base["range_p50_ms"]
    slow_write = _e2e(_records(write=0.05))
    for name in ("instant_p50_ms", "range_p50_ms", "queries_per_s",
                 "ingest_samples_per_s"):
        assert slow_write[name] == base[name]
    assert slow_write["write_p50_ms"] != base["write_p50_ms"]


def test_ingest_rate_does_not_follow_the_queries():
    base = _e2e(_records())
    slower = _e2e(_records(instant=2.0, rng=4.0))
    assert slower["ingest_samples_per_s"] == base["ingest_samples_per_s"]
    assert slower["queries_per_s"] < base["queries_per_s"]
    grown = _e2e(_records(growth=3.0))
    assert grown["ingest_samples_per_s"] == base["ingest_samples_per_s"]
    assert _growth(_records(growth=3.0)) > _growth(_records())
    slow_burst = _e2e(_records(burst=0.04))
    assert slow_burst["ingest_samples_per_s"] < base["ingest_samples_per_s"]
    assert {k: v for k, v in slow_burst.items()
            if k != "ingest_samples_per_s"} == {
        k: v for k, v in base.items() if k != "ingest_samples_per_s"}


def _growth(records):
    return run.read_growth([r for r in records if r.phase == "timed"])


def test_read_growth_is_the_fitted_slowdown_over_the_timed_phase():
    assert abs(_growth(_records(growth=1.0)) - 1) < 1e-9
    assert abs(_growth(_records(growth=2.0)) - 2) < 1e-9
    assert _growth(_records(growth=0.8)) < 1
    # one slow query does not tilt the fitted line
    spiked = _records(growth=1.0)
    i = next(i for i, r in enumerate(spiked) if r.kind == "range")
    spiked[i] = spiked[i]._replace(end=spiked[i].start + 3 * spiked[i].latency)
    assert abs(_growth(spiked) - 1) < 1e-9


def test_a_percentile_needs_ten_samples_beyond_it():
    assert run.percentile([1.0] * 99, 0.9) is None
    assert run.percentile([1.0] * 100, 0.9) == 1.0
    assert run.percentile(list(range(19)), 0.5) is None
    assert run.percentile(list(range(20)), 0.5) == 9.5


def test_a_failing_request_raises_failed_ratio():
    ok_ratio, ok_counts = run.failures(_records())
    assert ok_ratio == 0 and ok_counts == {}
    for reason in check.REASONS:
        ratio, counts = run.failures(_records(fail=reason))
        assert ratio > ok_ratio and counts == {reason: 1}
