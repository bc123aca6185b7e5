"""HTTP-daemon benchmark of squirreldb_spark.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 30 --trace 0

Starts ``server.py`` (Spark ``local[nproc]``, the seeded store and
``http_api.PromHTTPServer``) as a separate process, then drives it from
this process with a closed loop of ``nproc / 2`` client threads, one HTTP
connection each. Every response is checked against the closed-form
answer from ``gen.py``. The last stdout line is one JSON object: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. See README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import http.client
import itertools
import json
import math
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

#: the untimed warm-up lasts until one client of each query kind has
#: completed WARMUP_QUERIES queries (the first is cold: JIT, codegen, py4j
#: pools), and at most WARMUP_MAX_S seconds. The cold round is the
#: same for every client, so one per kind is enough, and two cold queries
#: at once end sooner than four
WARMUP_QUERIES, WARMUP_MAX_S = 1, 120.0
#: period of the remote-write feed's batches of 500 samples, seconds: it
#: grows the daemon's write buffer by 2,000 samples a second
FEED_PERIOD_S = 0.25
#: client-side request timeout, seconds
REQUEST_TIMEOUT_S = 60.0
READY_TIMEOUT_S = 150.0
#: client ids of the feed's connection and of the burst and probe one
FEED, WRITER = 999, 1000


class Record(NamedTuple):
    """One request of a run, as the client saw it."""

    kind: str              # "instant" | "range" | "write"
    panel: str
    start: float           # perf_counter seconds
    end: float
    reason: str | None     # failure reason from check.check, None if right
    samples: int           # samples a write carries
    client: int
    rid: str | None        # request id sent in a traced run
    traced: bool
    phase: str             # "warm", "timed", "burst" or "probe"

    @property
    def latency(self) -> float:
        return self.end - self.start


def percentile(values: list[float], q: float) -> float | None:
    """The ``q`` quantile, or ``None`` when fewer than 10 samples lie
    beyond it (a p50 needs 20 samples, a p90 needs 100)."""
    n = len(values)
    if n == 0 or n - math.ceil(q * n - 1e-9) < 10:
        return None
    s = sorted(values)
    rank = q * (n - 1)
    lo = int(rank)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (rank - lo)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def clients() -> int:
    """Closed-loop query clients, ``nproc / 2`` (at least one per query
    kind). The daemon's Python work runs under one interpreter lock, so
    ``nproc`` clients complete no more queries a second, each query takes
    twice as long, and per-run medians spread twice as wide (see
    README.md)."""
    return max(2, cpus() // 2)


# ------------------------------------------------------------ the server


class Server:
    """The server process and its line protocol (see server.py)."""

    def __init__(self, out: str, store: str, heap: str, trace: int,
                 base: str):
        env = dict(os.environ, TMPDIR=os.path.join(out, "tmp"),
                   PYTHONDONTWRITEBYTECODE="1")
        os.makedirs(env["TMPDIR"], exist_ok=True)
        self.log = open(os.path.join(out, "server.log"), "wb")
        self.started = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server.py"),
             "--out", out, "--store", store, "--heap", heap,
             "--trace", str(trace), "--base", base],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            cwd=out, env=env, text=True,
        )
        self.lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self) -> None:
        for line in self.proc.stdout:
            self.lines.put(line)
        self.lines.put(None)

    def read(self, timeout: float) -> dict:
        try:
            line = self.lines.get(timeout=timeout)
        except queue.Empty:
            raise RuntimeError("server did not answer in time") from None
        if line is None:
            raise RuntimeError("server exited; see server.log")
        return json.loads(line)

    def ask(self, cmd: str, timeout: float = 120.0) -> dict:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self.read(timeout)

    def stop(self) -> None:
        """Stop the server, then wait for its descendants (the JVM and
        PySpark's workers), which outlive it by a moment."""
        family = _descendants(self.proc.pid)
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.flush()
                self.proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            pass
        finally:
            if self.proc.poll() is None:
                self.proc.kill()
            self.proc.wait()
            self.log.close()
        deadline = time.monotonic() + 30
        while family and time.monotonic() < deadline:
            family = [p for p in family if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for p in family:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo += _children(p)
    return out


def _children(pid: int) -> list[int]:
    out = []
    try:
        for task in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of the server: its Python driver plus its
    direct children (the JVM), sampled from ``/proc``. PySpark's Python
    workers, forked below the JVM, share pages with each other and come and
    go with the tasks, so they are left out."""

    def __init__(self, pid: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.period = pid, period
        self.peak_kb = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            pids = [self.pid, *_children(self.pid)]
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in pids))
            self._halt.wait(self.period)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_kb / 1024


# ------------------------------------------------------------ the clients


class Load:
    """The closed-loop query clients, one connection each, the paced
    remote-write feed beside them, and the burst writer.

    A run is a sequence of phases (see :meth:`phase`); every client's
    request stream continues from one phase to the next."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        import gen

        store = gen.Store()
        self.trace = trace
        self.port = 0
        self.clients = [gen.Client(workload, seed, c, store)
                        for c in range(clients())]
        # encoded while the server starts, so the client's own encoding is
        # in no latency; one feed write per period of the timed phase, then
        # the burst's
        self.feed_writes = math.ceil(seconds / FEED_PERIOD_S)
        self._bodies: list[bytes] = []
        self._encoder = threading.Thread(
            target=lambda: self._bodies.extend(gen.batch_bodies(
                seed, self.feed_writes + gen.BURST_WRITES)),
            daemon=True)
        self._encoder.start()
        self.batch_samples = gen.BATCH_SERIES * gen.BATCH_SAMPLES
        self.records: list[Record] = []
        self.errors: list[BaseException] = []
        self._conns: dict[int, http.client.HTTPConnection] = {}
        self._lock = threading.Lock()
        self._deadline = 0.0

    def _conn(self, cid: int) -> http.client.HTTPConnection:
        if cid not in self._conns:
            self._conns[cid] = http.client.HTTPConnection(
                "127.0.0.1", self.port, timeout=REQUEST_TIMEOUT_S)
        return self._conns[cid]

    def close(self) -> None:
        for conn in self._conns.values():
            conn.close()

    def phase(self, name: str, seconds: float | None = None,
              queries: int | None = None, n: int | None = None
              ) -> tuple[float, float]:
        """Run the first ``n`` query clients (default all) and return the
        phase's window ``(start, end)``; the ``timed`` phase also runs the
        feed.

        The phase lasts ``seconds``, or, with ``queries``, until every query
        client has completed that many queries. No request starts after
        the window's end, and the requests still in flight then are waited
        for, so none is cut off."""
        start = time.perf_counter()
        self._deadline = start + (WARMUP_MAX_S if seconds is None else seconds)
        threads = [threading.Thread(target=self._run, daemon=True,
                                    args=(self._loop, c, name, queries))
                   for c in self.clients[:n]]
        feed = []
        if name == "timed":
            feed = [threading.Thread(target=self._run, daemon=True,
                                     args=(self._feed, start))]
        for t in threads + feed:
            t.start()
        for t in threads:
            self._join(t)
        end = min(self._deadline, time.perf_counter())
        self._deadline = end
        for t in feed:
            self._join(t)
        return start, end

    def _feed(self, start: float) -> None:
        """The remote-write feed: one batch every ``FEED_PERIOD_S`` on a
        fixed schedule from ``start``, so every run writes the same number
        of samples at the same pace, however fast the daemon answers."""
        import gen
        from layertrace import ID_HEADER, TRACE_HEADER

        self._encoder.join()
        for i, body in enumerate(self._bodies[:self.feed_writes]):
            slot = start + i * FEED_PERIOD_S
            if slot >= self._deadline:
                return
            time.sleep(max(0.0, slot - time.perf_counter()))
            req = gen.Request("write", "feed", "/api/v1/write",
                              {"X-SquirrelDB-Tenant": gen.BATCH_TENANT},
                              body=body, samples=self.batch_samples)
            extra, rid, traced = {}, None, False
            if self.trace:
                # every other write is traced, as for the query clients
                traced, rid = i % 2 == 0, f"feed-{i}"
                extra[ID_HEADER] = rid
                if traced:
                    extra[TRACE_HEADER] = "1"
            self._send(FEED, req, extra, "timed", rid, traced)

    def burst(self) -> tuple[float, float]:
        """Send the burst's writes back to back on one connection; returns
        ``(first send, last acknowledgement)``. One writer, because the
        daemon decodes under one interpreter lock: more writers only add
        lock hand-overs between its handler threads (in a trial, 4 writers
        acknowledged fewer samples a second than 1)."""
        import gen

        self._encoder.join()
        start = time.perf_counter()
        for body in self._bodies[self.feed_writes:]:
            req = gen.Request("write", "burst", "/api/v1/write",
                              {"X-SquirrelDB-Tenant": gen.BATCH_TENANT},
                              body=body, samples=self.batch_samples)
            self._send(WRITER, req, {}, "burst", None, False)
        return start, time.perf_counter()

    def probe(self) -> list[Record]:
        """Send each ``gen.CAP_PANELS`` request once, one after the other.
        Their records are returned, not added to the workload's."""
        client = self.clients[0]
        return [self._send(WRITER, req, {}, "probe", None, False, keep=False)
                for req in client.cap_probes()]

    def _join(self, t: threading.Thread, slack: float = REQUEST_TIMEOUT_S
              ) -> None:
        t.join(max(0.0, self._deadline - time.perf_counter()) + slack)
        if t.is_alive():
            raise RuntimeError("a client thread did not finish")
        if self.errors:
            raise RuntimeError("a client thread failed") from self.errors[0]

    def _run(self, fn, *args) -> None:
        try:
            fn(*args)
        except Exception as ex:  # re-raised by _join()
            self.errors.append(ex)

    def _loop(self, client, phase: str, quota: int | None) -> None:
        from layertrace import ID_HEADER, TRACE_HEADER

        done = 0
        while (time.perf_counter() < self._deadline
               and (quota is None or done < quota)):
            req = client.next()
            extra, rid, traced = {}, None, False
            if self.trace:
                # every other request of each client is traced, so traced
                # and untraced requests carry the same mix
                traced = client.n % 2 == 0
                rid = f"c{client.cid}-{client.n}"
                extra[ID_HEADER] = rid
                if traced:
                    extra[TRACE_HEADER] = "1"
            self._send(client.cid, req, extra, phase, rid, traced)
            if req.kind != "write":
                done += 1

    def _send(self, cid: int, req, extra: dict, phase: str, rid: str | None,
              traced: bool, keep: bool = True) -> Record:
        from check import check

        headers = {**req.headers, **extra}
        if req.body:
            headers["Content-Type"] = "application/x-protobuf"
            headers["Content-Encoding"] = "snappy"
        conn = self._conn(cid)
        start = time.perf_counter()
        try:
            conn.request("POST" if req.kind == "write" else "GET",
                         req.path, body=req.body or None, headers=headers)
            resp = conn.getresponse()
            status, body = resp.status, resp.read()
        except TimeoutError:
            status, body = None, b""
            conn.close()
        except (OSError, http.client.HTTPException):
            status, body = 599, b""
            conn.close()
        end = time.perf_counter()
        record = Record(req.kind, req.panel, start, end, reason=check(
            req, status, body), samples=req.samples, client=cid, rid=rid,
            traced=traced, phase=phase)
        if keep:
            with self._lock:
                self.records.append(record)
        return record


# ----------------------------------------------------------------- metrics

def _median_ms(lat: list[float]) -> float:
    if not lat:
        raise RuntimeError("no request of a measured kind completed")
    return statistics.median(lat) * 1000


def _share(r: Record, t0: float, t1: float) -> float:
    """The share of request ``r`` that lies in ``[t0, t1]``. Throughput
    counts a request in flight at the end of a window in part, so it is not
    quantised to whole requests."""
    return max(0.0, min(r.end, t1) - max(r.start, t0)) / max(r.latency, 1e-9)


def end_to_end(records: list[Record], window: tuple[float, float],
               setup_s: float, rss_mb: float) -> dict:
    """The end-to-end metrics. ``records`` are every request of the run,
    ``window`` the ``(start, end)`` of the timed phase."""
    timed = [r for r in records if r.phase == "timed"]
    lat = {k: [r.latency for r in timed if r.kind == k]
           for k in ("instant", "range")}
    # the feed's writes arrive at a steady pace, whereas the read-back
    # clients write in step, in bursts of nproc
    lat["write"] = [r.latency for r in timed if r.panel == "feed"]
    queries = sum(_share(r, *window) for r in timed if r.kind != "write")
    burst = [r.samples / r.latency for r in records
             if r.phase == "burst" and r.reason is None]
    if not burst:
        raise RuntimeError("no burst write was acknowledged")
    return {
        "setup_s": setup_s,
        "queries_per_s": queries / (window[1] - window[0]),
        "instant_p50_ms": _median_ms(lat["instant"]),
        "range_p50_ms": _median_ms(lat["range"]),
        "write_p50_ms": _median_ms(lat["write"]),
        # the median, as a write that meets a full collection of the
        # daemon's growing heap stalls ten times longer than the rest
        "ingest_samples_per_s": statistics.median(burst),
        "server_rss_mb": rss_mb,
    }


def read_growth(timed: list[Record]) -> float:
    """How much slower queries got over the timed phase, as the feed grew
    the write buffer. For each query kind, a Theil-Sen line through every
    query's (start, latency), so one slow query does not tilt it; its value
    at the last start over its value at the first. The geometric mean over
    the two kinds."""
    ratios = []
    for kind in ("instant", "range"):
        points = [(r.start, r.latency) for r in timed if r.kind == kind]
        slopes = [(y2 - y1) / (x2 - x1) for (x1, y1), (x2, y2)
                  in itertools.combinations(points, 2) if x2 != x1]
        if not slopes:
            raise RuntimeError(f"too few {kind} queries to fit a line")
        slope = statistics.median(slopes)
        icept = statistics.median(y - slope * x for x, y in points)
        starts = [x for x, _ in points]
        first, last = (icept + slope * t for t in (min(starts), max(starts)))
        if first <= 0 or last <= 0:
            raise RuntimeError(f"{kind} latency line crosses zero")
        ratios.append(last / first)
    return math.prod(ratios) ** (1 / len(ratios))


UNITS = {
    "setup_s": "s", "queries_per_s": "1/s", "instant_p50_ms": "ms",
    "range_p50_ms": "ms", "write_p50_ms": "ms", "ingest_samples_per_s": "1/s",
    "server_rss_mb": "MB",
}


def failures(records: list[Record]) -> tuple[float, dict[str, int]]:
    """``failed_ratio`` and the count per failure reason."""
    counts: dict[str, int] = {}
    for r in records:
        if r.reason is not None:
            counts[r.reason] = counts.get(r.reason, 0) + 1
    return sum(counts.values()) / max(1, len(records)), counts


def report(workload: str, seed: int, records: list[Record],
           windows: dict[str, tuple[float, float]], w0: float, ready: dict,
           setup_s: float) -> None:
    """Detail lines on stdout, ahead of the JSON line: phase lengths,
    sample counts, medians, p90s where at least 10 samples lie beyond them,
    failures by reason, and the query latency of every request over the
    run, to show the warm-up."""
    span = " ".join(f"{p}={w[1] - w[0]:.1f}s" for p, w in windows.items())
    print(f"# workload={workload} seed={seed} clients={clients()} "
          f"{span} setup={setup_s:.2f}s")
    kinds = (("instant", lambda r: r.kind == "instant"),
             ("range", lambda r: r.kind == "range"),
             ("feed", lambda r: r.panel == "feed"),
             ("rw_batch", lambda r: r.panel == "rw_batch"),
             ("burst", lambda r: r.panel == "burst"))
    for kind, pick in kinds:
        for p in ("warm", "timed", "burst"):
            lat = [r.latency for r in records if r.phase == p and pick(r)]
            if not lat:
                continue
            p50 = statistics.median(lat) * 1000
            p90 = percentile(lat, 0.9)
            print(f"#  {kind:8s} {p:5s} n={len(lat):4d}"
                  f" p50={p50:.1f}ms"
                  f" p90={'-' if p90 is None else f'{p90 * 1000:.0f}ms'}")
    ratio, counts = failures(records)
    print(f"#  failed_ratio={ratio:.3f} of {len(records)} requests, "
          f"by reason={json.dumps(counts)}")
    curve = " ".join(f"{r.phase}:{r.end - w0:.0f}s:{r.latency * 1000:.0f}"
                     for r in sorted(records, key=lambda r: r.end)
                     if r.kind != "write")
    print(f"#  query latency ms by completion time: {curve}")
    print(f"#  server: {json.dumps(ready)}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("dashboard", "write_read"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--heap", default="1g",
                    help="Spark driver heap, fixed so RSS compares between runs")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "squirreldb_spark")):
        print("squirreldb_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    try:
        import pyspark  # noqa: F401
    except ImportError:
        print("pyspark is not importable", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".bench_out")
    out = os.path.join(
        base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(out)
    load = Load(args.workload, args.seed, args.seconds, bool(args.trace))
    import gen

    # the store's directory names its shape, so a changed shape rebuilds it
    store = os.path.join(base, f"store-{gen.STORE_SEED}-{gen.STORE_SAMPLES}")
    # write_read reads back only what it writes: its daemon gets no seed
    # store, so a read-back's cost is the write path's, not a store scan
    server = Server(out, store, args.heap, args.trace,
                    "store" if args.workload == "dashboard" else "empty")
    try:
        ready = server.read(READY_TIMEOUT_S)
        rss = RssSampler(ready["pid"])
        rss.start()
        load.port = ready["port"]
        # the first two clients run one query kind each
        windows = {"warm": load.phase("warm", queries=WARMUP_QUERIES, n=2)}
        if args.trace:
            server.ask("mark")
        t0 = time.perf_counter()
        windows["timed"] = load.phase("timed", seconds=args.seconds)
        windows["burst"] = load.burst()
        rss_mb = rss.stop()
        stats = server.ask("stats") if args.trace else None
        # the over-cap panels read the seed store, which only dashboard's
        # daemon serves; after the stats, so they are in no layer metric
        # but their own
        probes = (load.probe() if args.trace and args.workload == "dashboard"
                  else [])
    finally:
        load.close()
        server.stop()
    for d in ("tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)

    records = load.records
    with open(os.path.join(out, "records.json"), "w") as f:
        json.dump({"windows": windows, "server": ready,
                   "fields": Record._fields, "records": records}, f)
    # a store build is once per checkout (or a traced run), not set-up
    setup_s = (t0 - server.started) - (
        ready.get("setup.seed_write_s", 0.0) + ready.get("setup.downsample_s", 0.0))
    w0 = windows["warm"][0]
    timed = [r for r in records if r.phase == "timed"]
    growth = read_growth(timed)
    report(args.workload, args.seed, records, windows, w0, ready, setup_s)
    print(f"#  read_growth_ratio={growth:.3f}")
    for r in probes:
        print(f"#  cap probe {r.panel}: {r.reason or 'right'} "
              f"in {r.latency * 1000:.0f}ms")

    if args.trace:
        from layer_metrics import per_layer

        metrics = per_layer(timed, stats, ready, t0 - w0, failures(records), {
            "read_growth_ratio": growth,
            "cap.truncated_answers": sum(r.reason == "truncated" for r in probes),
        })
    else:
        values = end_to_end(records, windows["timed"], setup_s, rss_mb)
        metrics = {k: (v, UNITS[k]) for k, v in values.items()}
    _, counts = failures(records)
    print(json.dumps({
        "correct": all(r.reason != "wrong" for r in records + probes),
        "attempted": len(records),
        "failed": sum(counts.values()),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
