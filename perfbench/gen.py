"""Seeded workload generator with closed-form answers.

The store follows the shape of the reference's ``remote-storage-bench``:
10 tenants x 10 agents x 20 counter metrics scraped every 10 s. Every
counter is a straight line ``base + slope * t`` with a seed-chosen base and
a seed-chosen, distinct slope, so each PromQL answer the workloads ask for
has a closed form. The answers below are computed from those lines with
the upstream PromQL rules (left-open windows, extrapolated rate, linear
quantile interpolation), never by running a query.

Nothing here imports Spark: the server process writes the seed store from
:func:`param_coefficients`, and the client process uses the rest.
"""

from __future__ import annotations

import math
import operator
import random
import urllib.parse
from dataclasses import dataclass

TENANTS, AGENTS, METRICS = 10, 10, 20
N_SERIES = TENANTS * AGENTS * METRICS
STEP_MS = 10_000                      # scrape interval
#: 35 min of history per series; a multiple of the 30 samples of a
#: downsample bucket, as ``max_line`` models whole buckets only
STORE_SAMPLES = 210
RES_MS = 300_000                      # downsample resolution (5 min)
T0 = 1_767_225_600_000                # 2026-01-01T00:00:00Z, RES-aligned
STORE_END = T0 + (STORE_SAMPLES - 1) * STEP_MS  # last seed sample
LOOKBACK_MS = 300_000
TENANT_LABEL = "__account_id"
#: the seed store does not depend on ``--seed`` (which drives the request
#: stream and the written samples), so one build serves every run of a
#: checkout
STORE_SEED = 20_260_101
#: the daemon truncates a JSON result at this many rows (api.format_*)
RESULT_ROW_CAP = 10_000


def metric_name(m: int) -> str:
    return f"node_m{m:02d}_total"


def series_index(tenant: int, agent: int, metric: int) -> int:
    return (tenant * AGENTS + agent) * METRICS + metric


def series_labels(s: int) -> dict[str, str]:
    tenant, rest = divmod(s, AGENTS * METRICS)
    agent, metric = divmod(rest, METRICS)
    return {
        "__name__": metric_name(metric),
        "instance": f"agent-{agent}",
        "job": "node",
        TENANT_LABEL: f"tenant-{tenant}",
    }


def param_coefficients(seed: int) -> tuple[int, int, int, int]:
    """``(a, b, c, d)``: slope rank ``(a*s + b) mod N_SERIES`` is a
    permutation of the series (``a`` is coprime with ``N_SERIES``), and
    base ``1000 + (c*s + d) mod 999000``. Integer formulas, so the server
    evaluates the same ones in Spark SQL."""
    rng = random.Random(seed)
    a = rng.randrange(1, N_SERIES)
    while math.gcd(a, N_SERIES) != 1:
        a = rng.randrange(1, N_SERIES)
    return a, rng.randrange(N_SERIES), rng.randrange(1, 10**6), rng.randrange(10**6)


def series_params(seed: int) -> list[tuple[int, float, float]]:
    """``(series, base, slope_per_s)`` for every seed series. Slopes are
    distinct multiples of 1/64, so every sample value is an exact double
    and ``topk`` never meets a tie."""
    a, b, c, d = param_coefficients(seed)
    return [
        (s, float(1000 + (c * s + d) % 999_000), ((a * s + b) % N_SERIES + 1) / 64)
        for s in range(N_SERIES)
    ]


@dataclass(frozen=True)
class Line:
    """Samples ``v0 + dv * i`` at ``t0 + i * dt`` for ``i`` in
    ``[0, count)``: one stored counter, raw or as a downsample column."""

    t0: int
    dt: int
    count: int
    v0: float
    dv: float

    def t(self, i: int) -> int:
        return self.t0 + i * self.dt

    def v(self, i: int) -> float:
        return self.v0 + self.dv * i

    def span(self, a: int, b: int) -> tuple[int, int]:
        """Inclusive index range of the samples in the window ``(a, b]``."""
        lo = max(0, (a - self.t0) // self.dt + 1)
        hi = min(self.count - 1, (b - self.t0) // self.dt)
        return lo, hi


def raw_line(base: float, slope: float) -> Line:
    return Line(T0, STEP_MS, STORE_SAMPLES, base, slope * STEP_MS / 1000)


def max_line(base: float, slope: float) -> Line:
    """The downsample's ``max`` column: one point per 5-min bucket at the
    bucket start, holding the bucket's last (largest) sample."""
    per = RES_MS // STEP_MS
    return Line(T0, RES_MS, STORE_SAMPLES // per,
                base + slope * (per - 1) * STEP_MS / 1000,
                slope * RES_MS / 1000)


# ------------------------------------------------- PromQL on a straight line


def extrapolated(line: Line, t: int, range_ms: int, is_rate: bool):
    """Upstream ``extrapolatedRate`` for a counter without resets."""
    a = t - range_ms
    lo, hi = line.span(a, t)
    if hi - lo < 1:
        return None
    t1, t2 = line.t(lo), line.t(hi)
    v1, v2 = line.v(lo), line.v(hi)
    result = v2 - v1
    to_start, to_end = (t1 - a) / 1000, (t - t2) / 1000
    sampled = (t2 - t1) / 1000
    avg = sampled / (hi - lo)
    if result > 0 and v1 >= 0:
        to_start = min(to_start, sampled * (v1 / result))
    threshold = avg * 1.1
    ext = sampled
    ext += to_start if to_start < threshold else avg / 2
    ext += to_end if to_end < threshold else avg / 2
    result *= ext / sampled
    return result / (range_ms / 1000) if is_rate else result


def quantile_over_time(line: Line, t: int, range_ms: int, q: float):
    lo, hi = line.span(t - range_ms, t)
    if hi < lo:
        return None
    rank = q * (hi - lo)      # values rise with time: sorted = time order
    lower = int(rank)
    upper = min(lower + 1, hi - lo)
    w = rank - lower
    return line.v(lo + lower) * (1 - w) + line.v(lo + upper) * w


def last_in(line: Line, t: int, range_ms: int):
    """Newest sample in ``(t - range, t]``: an instant selector under the
    lookback, and ``max_over_time`` of a rising counter."""
    lo, hi = line.span(t - range_ms, t)
    return None if hi < lo else line.v(hi)


# ------------------------------------------------------------- requests


@dataclass
class Request:
    """One HTTP request of a workload and the answer it must get.

    ``expected`` maps a frozen label set to ``{step_ms: value}``; ``None``
    for writes. ``samples`` is the number of samples a write carries."""

    kind: str                 # "instant" | "range" | "write"
    panel: str
    path: str
    headers: dict[str, str]
    body: bytes = b""
    expected: dict | None = None
    samples: int = 0
    exact: bool = False       # read-back of written samples: no tolerance

    @property
    def points(self) -> int:
        return sum(len(v) for v in (self.expected or {}).values())


def _key(labels: dict[str, str]) -> frozenset:
    return frozenset(labels.items())


def _no_name(labels: dict[str, str]) -> dict[str, str]:
    return {k: v for k, v in labels.items() if k != "__name__"}


def _query_path(kind: str, query: str, t: int, start: int = 0,
                step: int = 0) -> str:
    if kind == "instant":
        qs = {"query": query, "time": f"{t / 1000:.3f}"}
        return "/api/v1/query?" + urllib.parse.urlencode(qs)
    qs = {"query": query, "start": f"{start / 1000:.3f}",
          "end": f"{t / 1000:.3f}", "step": f"{step / 1000:g}"}
    return "/api/v1/query_range?" + urllib.parse.urlencode(qs)


class Store:
    """The seed store as closed-form lines."""

    def __init__(self):
        self.params = series_params(STORE_SEED)

    def raw(self, s: int) -> Line:
        _, base, slope = self.params[s]
        return raw_line(base, slope)

    def preagg_max(self, s: int) -> Line:
        _, base, slope = self.params[s]
        return max_line(base, slope)

    def select(self, metric: int, tenant: int | None = None,
               agent: int | None = None) -> list[int]:
        return [
            series_index(tn, ag, metric)
            for tn in (range(TENANTS) if tenant is None else [tenant])
            for ag in (range(AGENTS) if agent is None else [agent])
        ]


def _steps(kind: str, end: int, step: int, span_ms: int) -> list[int]:
    if kind == "instant":
        return [end]
    return list(range(end - span_ms, end + 1, step))


def _per_series(store: Store, series: list[int], steps: list[int], fn,
                keep_name: bool = False) -> dict:
    out: dict = {}
    for s in series:
        labels = series_labels(s)
        if not keep_name:
            labels = _no_name(labels)
        vals = {t: fn(s, t) for t in steps}
        vals = {t: v for t, v in vals.items() if v is not None}
        if vals:
            out[_key(labels)] = vals
    return out


def _aggregate(per: dict, by: tuple[str, ...], combine) -> dict:
    """``sum by``/``max by``: fold the series of each label group."""
    out: dict = {}
    for key, vals in per.items():
        labels = dict(key)
        acc = out.setdefault(_key({k: labels[k] for k in by if k in labels}), {})
        for t, v in vals.items():
            acc[t] = combine(acc[t], v) if t in acc else v
    return out


def _topk(per: dict, k: int) -> dict:
    steps = sorted({t for vals in per.values() for t in vals})
    out: dict = {}
    for t in steps:
        ranked = sorted(
            ((vals[t], key) for key, vals in per.items() if t in vals),
            key=lambda e: e[0], reverse=True,
        )
        for v, key in ranked[:k]:
            out.setdefault(key, {})[t] = v
    return out


# ---------------------------------------------------------------- panels
#
# A panel is (name, kind, query template, step_ms, build). ``build`` gets
# the store, a series selector and the evaluation steps and returns the
# expected answer. ``M`` in a template is the metric name, ``A`` the agent.

#: time span of every range panel (Grafana "last 15 minutes")
SPAN_MS = 900_000
#: panels are evaluated at times sliding over the last 5 min of the store;
#: with the longest lookback (15 min) every window lies inside the store
SLIDE = 30


def _rate(store, rng_ms):
    return lambda s, t: extrapolated(store.raw(s), t, rng_ms, True)


#: instant panels, scoped to one tenant by the tenant header: small
#: answers, so the fixed per-request cost (parse, py4j build, the
#: max_samples pre-scan, Catalyst, job scheduling, JSON) dominates
INSTANT_PANELS = (
    ("tenant_sum_rate", "instant", "sum(rate({M}[5m]))", 0,
     lambda st, sel, steps: _aggregate(
         _per_series(st, sel(), steps, _rate(st, 300_000)), (), operator.add)),
    ("tenant_rate_one", "instant", 'rate({M}{{instance="{A}"}}[5m])', 0,
     lambda st, sel, steps: _per_series(
         st, sel(True), steps, _rate(st, 300_000))),
    ("tenant_raw_one", "instant", '{M}{{instance="{A}"}}', 0,
     lambda st, sel, steps: _per_series(
         st, sel(True), steps,
         lambda s, t: last_in(st.raw(s), t, LOOKBACK_MS), keep_name=True)),
    ("tenant_max_by", "instant", "max by (instance) ({M})", 0,
     lambda st, sel, steps: _aggregate(_per_series(
         st, sel(), steps,
         lambda s, t: last_in(st.raw(s), t, LOOKBACK_MS)), ("instance",), max)),
)

#: range panels over the whole store, every tenant and agent: Spark
#: execution of the tsdb kernels dominates. Steps under 5 min read raw
#: data, steps of 5 min or more the 5-min downsample. Every answer stays
#: under ``RESULT_ROW_CAP`` points, so a right daemon fails none of them.
RANGE_PANELS = (
    ("store_sum_rate", "range", f"sum by ({TENANT_LABEL}) (rate({{M}}[5m]))",
     60_000,
     lambda st, sel, steps: _aggregate(
         _per_series(st, sel(), steps, _rate(st, 300_000)), (TENANT_LABEL,),
         operator.add)),
    ("store_quantile", "range", "quantile_over_time(0.5, {M}[10m])", 60_000,
     lambda st, sel, steps: _per_series(
         st, sel(), steps,
         lambda s, t: quantile_over_time(st.raw(s), t, 600_000, 0.5))),
    ("store_topk", "range", "topk(5, rate({M}[5m]))", 60_000,
     lambda st, sel, steps: _topk(
         _per_series(st, sel(), steps, _rate(st, 300_000)), 5)),
    ("store_preagg_sum_rate", "range",
     f"sum by ({TENANT_LABEL}) (rate({{M}}[15m]))", 300_000,
     lambda st, sel, steps: _aggregate(_per_series(
         st, sel(), steps,
         lambda s, t: extrapolated(st.preagg_max(s), t, 900_000, True)),
         (TENANT_LABEL,), operator.add)),
    ("store_preagg_max", "range", "max_over_time({M}[15m])", 300_000,
     lambda st, sel, steps: _per_series(
         st, sel(), steps, lambda s, t: last_in(st.preagg_max(s), t, 900_000))),
)

#: range panels whose answers hold more than ``RESULT_ROW_CAP`` points, as
#: wide real dashboards do. The daemon cuts them at the cap and still says
#: ``success``. They are not in the timed mix, where every request must
#: succeed; a traced run sends each once after the load and reports how
#: many came back truncated (``cap.truncated_answers``).
CAP_PANELS = (
    ("store_rate_all", "range", "rate({M}[5m])", 5_000,
     lambda st, sel, steps: _per_series(st, sel(), steps, _rate(st, 300_000))),
    ("store_quantile_fine", "range", "quantile_over_time(0.9, {M}[10m])",
     7_500,
     lambda st, sel, steps: _per_series(
         st, sel(), steps,
         lambda s, t: quantile_over_time(st.raw(s), t, 600_000, 0.9))),
)

WORKLOADS = ("dashboard", "write_read")
#: write_read batch shape: series per client x samples per series, and
#: batches written between two read-backs
RW_SERIES, RW_SAMPLES, RW_BATCHES = 20, 2, 12
#: the shape of one remote-write batch of the feed and the burst: series
#: x samples per series (500 samples, a quarter of Prometheus' default
#: ``max_samples_per_send``)
BATCH_SERIES, BATCH_SAMPLES = 25, 20
#: back-to-back writes after the timed phase, whose rate is the ingest
#: metric
BURST_WRITES = 320
BATCH_TENANT = "feed"


def cycle_of(workload: str, cid: int) -> tuple[str, ...]:
    """The request kinds client ``cid`` issues, in a repeating cycle.

    On ``dashboard`` even clients issue only instant panels and odd
    clients only range panels, so the mix of requests in flight stays the
    same all through a run.
    On ``write_read`` every client writes ``RW_BATCHES`` batches and
    reads them back, even clients with an instant query, odd ones with a
    range query."""
    if workload == "dashboard":
        return (("instant", "range")[cid % 2],)
    if workload == "write_read":
        return (*("write",) * RW_BATCHES, ("instant", "range")[cid % 2])
    raise ValueError(f"unknown workload {workload!r}")


class Client:
    """The deterministic request stream of one client thread.

    ``seed`` fixes every choice; ``cid`` makes clients differ. Panel
    evaluation times slide over the last 5 minutes of the seed store, so
    the same panel is re-issued at moving times as a refreshing dashboard
    does, and every window lies inside the stored data."""

    def __init__(self, workload: str, seed: int, cid: int, store: Store):
        self.cycle = cycle_of(workload, cid)
        self.workload, self.cid, self.store = workload, cid, store
        self.seed = seed
        self.rng = random.Random(seed * 1_000_003 + cid)
        self.n = 0
        self.writes = 0
        self.read_writes = 0     # ``writes`` at the last read-back
        self.panel_i = cid // 2

    def next(self) -> Request:
        kind = self.cycle[self.n % len(self.cycle)]
        self.n += 1
        if kind == "write":
            self.writes += 1
            return self._rw_write()
        if self.workload == "write_read":
            return self._rw_read(kind)
        return self._panel(kind)

    def cap_probes(self) -> list[Request]:
        """One request of each of the ``CAP_PANELS``."""
        return [self._panel("range", panel) for panel in CAP_PANELS]

    # -- panels
    def _panel(self, kind: str, panel: tuple | None = None) -> Request:
        if panel is None:
            panels = INSTANT_PANELS if kind == "instant" else RANGE_PANELS
            panel = panels[self.panel_i % len(panels)]
            self.panel_i += 1
        name, _, template, step, build = panel
        metric = self.rng.randrange(METRICS)
        agent = self.rng.randrange(AGENTS)
        tenant = self.rng.randrange(TENANTS)
        t = STORE_END - self.rng.randrange(SLIDE) * STEP_MS
        if step:
            t -= t % step
        query = template.format(M=metric_name(metric), A=f"agent-{agent}")
        scoped = kind == "instant"

        def sel(agent_only: bool = False) -> list[int]:
            return self.store.select(metric, tenant if scoped else None,
                                     agent if agent_only else None)

        expected = build(self.store, sel, _steps(kind, t, step, SPAN_MS))
        headers = {"X-SquirrelDB-Tenant": f"tenant-{tenant}"} if scoped else {}
        return Request(kind, name, _query_path(kind, query, t, t - SPAN_MS, step),
                       headers, expected=expected)

    # -- writes
    def _rw_labels(self, k: int) -> dict[str, str]:
        return {"__name__": "bench_rw_total", "client": f"c{self.cid}",
                "k": f"{k:02d}"}

    def _rw_value(self, k: int, i: int) -> float:
        return (self.seed % 1000) + self.cid * 1e6 + k * 1e3 + i * 0.25

    def _rw_samples(self, first_batch: int) -> list[tuple[int, int]]:
        """``(sample index, timestamp)`` of the batches from
        ``first_batch`` to the last one written."""
        return [(i, T0 + i * STEP_MS)
                for i in range(first_batch * RW_SAMPLES, self.writes * RW_SAMPLES)]

    def _rw_write(self) -> Request:
        series = [
            (self._rw_labels(k),
             [(t, self._rw_value(k, i))
              for i, t in self._rw_samples(self.writes - 1)])
            for k in range(RW_SERIES)
        ]
        return Request("write", "rw_batch", "/api/v1/write",
                       {"X-SquirrelDB-Tenant": "rw"},
                       body=encode_write(series),
                       samples=RW_SERIES * RW_SAMPLES)

    def _rw_read(self, kind: str) -> Request:
        """Read back what this client wrote since its last read-back: the
        instant query at the last timestamp, the range query every sample."""
        batch = self._rw_samples(self.read_writes)
        self.read_writes = self.writes
        steps = batch[-1:] if kind == "instant" else batch
        expected = {
            _key({**self._rw_labels(k), TENANT_LABEL: "rw"}):
                {t: self._rw_value(k, i) for i, t in steps}
            for k in range(RW_SERIES)
        }
        query = f'bench_rw_total{{client="c{self.cid}"}}'
        return Request(kind, f"rw_{kind}",
                       _query_path(kind, query, batch[-1][1], batch[0][1], STEP_MS),
                       {"X-SquirrelDB-Tenant": "rw"}, expected=expected,
                       exact=True)


def batch_bodies(seed: int, n: int) -> list[bytes]:
    """``n`` encoded remote-write batches that continue each other in
    time: the feed's first, then the burst's. Series of their own
    (``bench_batch_total``, tenant ``feed``) that no panel or read-back
    selects, so every answer stays independent of them; they only grow the
    daemon's write buffer."""
    out = []
    for w in range(n):
        series = [
            ({"__name__": "bench_batch_total", "s": f"{k:03d}"},
             [(T0 + (w * BATCH_SAMPLES + j) * STEP_MS,
               (seed % 1000) + k * 1e4 + (w * BATCH_SAMPLES + j) * 0.5)
              for j in range(BATCH_SAMPLES)])
            for k in range(BATCH_SERIES)
        ]
        out.append(encode_write(series))
    return out


def encode_write(series: list[tuple[dict[str, str], list[tuple[int, float]]]]
                 ) -> bytes:
    """A snappy-compressed prompb WriteRequest, as Prometheus sends it."""
    from squirreldb_spark import codec

    return codec.encode_remote_write_body([
        codec.TimeSeries(labels=labels,
                         samples=[codec.Sample(v, t) for t, v in samples])
        for labels, samples in series
    ])

