"""Server process of the benchmark: Spark ``local[nproc]``, the seeded
store and ``http_api.PromHTTPServer``.

Run by ``run.py``; not meant to be started by hand. Protocol on the pipes:
the first stdout line is a JSON object with the daemon's port and the
set-up timings; afterwards stdin line ``mark`` (start of the timed phase:
counters are diffed from here, traced requests so far are dropped) and
``stats`` are each answered with one JSON line, and ``quit`` stops the
daemon and Spark and exits. Spark's own logging goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session(out: str, heap: str):
    from pyspark.sql import SparkSession

    from squirreldb_spark.session import configure_session

    n = cpus()
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # a fixed heap, committed and touched at start, so resident
        # memory compares between runs and moves only with what lives
        # outside the heap (Python objects, threads, native buffers); no
        # perf-data file in the system temp directory, so the run writes only
        # under ``out``
        .config("spark.driver.memory", heap)
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Xms{heap} -XX:+AlwaysPreTouch "
                "-XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(out, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(out, "warehouse"))
        # keep every stage of a run in the status store for the trace
        .config("spark.ui.retainedStages", "100000")
        .config("spark.ui.retainedJobs", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return configure_session(spark)


def build_store(spark, seed: int, path: str) -> tuple[float, float]:
    """Write the seed store the way the ingest path writes it: labels
    validated by ``streaming.ingest.validate_map`` (tenant injected per
    tenant, as one remote-write request carries one tenant), samples in
    date-partitioned parquet, then the 5-min downsample. Validation runs
    once per series, not once per sample: its map lambdas are interpreted
    per row and would otherwise dominate set-up. Returns the two step
    times in seconds."""
    from pyspark.sql import functions as F

    import gen
    from squirreldb_spark.streaming.ingest import validate_map
    from squirreldb_spark.tsdb.downsample import downsample_map

    t0 = time.perf_counter()
    a, b, c, d = gen.param_coefficients(seed)
    per_tenant = gen.AGENTS * gen.METRICS
    # one row per series; base and slope by gen.series_params' formulas
    series = spark.range(gen.N_SERIES).select(
        F.col("id").alias("s"),
        F.expr(f"cast(1000 + pmod(id * {c} + {d}, 999000) as double)")
        .alias("base"),
        F.expr(f"(pmod(id * {a} + {b}, {gen.N_SERIES}) + 1) / 64.0")
        .alias("slope"),
        F.create_map(
            F.lit("__name__"),
            F.format_string("node_m%02d_total", F.col("id") % gen.METRICS),
            F.lit("instance"),
            F.format_string(
                "agent-%d", (F.col("id") / gen.METRICS).cast("long") % gen.AGENTS),
            F.lit("job"), F.lit("node"),
        ).alias("labels"),
        F.lit(gen.T0).alias("ts"),
        F.lit(1.0).alias("value"),
    )
    valid = None
    for t in range(gen.TENANTS):
        part = validate_map(
            series.filter(
                F.col("s").between(t * per_tenant, (t + 1) * per_tenant - 1)),
            tenant=f"tenant-{t}", tenant_label=gen.TENANT_LABEL,
        )
        valid = part if valid is None else valid.unionByName(part)
    # materialise the 2,000 validated series before the time expansion
    samples = valid.localCheckpoint().crossJoin(
        spark.range(gen.STORE_SAMPLES).withColumnRenamed("id", "i")
    ).select(
        "labels",
        (F.lit(gen.T0) + F.col("i") * gen.STEP_MS).alias("ts"),
        (F.col("base") + F.col("slope") * (gen.STEP_MS / 1000) * F.col("i"))
        .alias("value"),
    )
    (
        samples.withColumn("date", F.to_date(F.timestamp_millis("ts")))
        .write.partitionBy("date").parquet(f"{path}/points")
    )
    t1 = time.perf_counter()
    points = spark.read.parquet(f"{path}/points")
    downsample_map(points).write.parquet(f"{path}/downsample_5m")
    return t1 - t0, time.perf_counter() - t1


def jvm_gauges(spark) -> dict:
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return {
        "jvm.threads": mf.getThreadMXBean().getThreadCount(),
        "jvm.gc_ms": gc_ms,
        "jvm.heap_used_mb":
            mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20,
    }


def status_totals(spark) -> dict:
    """Totals over every job and stage Spark's status store holds."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    jobs = conv.asJava(store.jobsList(None)).size()
    tot = {"stages": 0, "tasks": 0, "executor_run_ms": 0, "input_rows": 0,
           "shuffle_bytes": 0}
    no_quantiles = sc._gateway.new_array(spark._jvm.double, 0)
    for st in conv.asJava(store.stageList(None, False, False, no_quantiles, None)):
        tot["stages"] += 1
        tot["tasks"] += st.numTasks()
        tot["executor_run_ms"] += st.executorRunTime()
        tot["input_rows"] += st.inputRecords()
        tot["shuffle_bytes"] += st.shuffleWriteBytes()
    return {"jobs": jobs, **tot}


def python_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    return 0.0


def ensure_store(spark, path: str, rebuild: bool) -> dict:
    """Build the seed store at ``path`` unless a complete one is there
    (or ``rebuild``). The build goes to a temporary directory that is
    renamed into place, so a run that dies half-way leaves no store."""
    done = os.path.join(path, "_COMPLETE")
    if os.path.exists(done) and not rebuild:
        return {"setup.store_built": 0}
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    import gen

    w, d = build_store(spark, gen.STORE_SEED, tmp)
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return {"setup.store_built": 1, "setup.seed_write_s": w,
            "setup.downsample_s": d}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--store", required=True)
    ap.add_argument("--heap", required=True)
    ap.add_argument("--trace", type=int, default=0)
    # "empty": the daemon serves only what is remote-written to it
    ap.add_argument("--base", choices=("store", "empty"), default="store")
    args = ap.parse_args()

    from squirreldb_spark.http_api import PromHTTPServer

    setup = {}
    t = time.perf_counter()
    spark = start_session(args.out, args.heap)
    setup["setup.session_s"] = time.perf_counter() - t
    # a traced run always builds, so it reports the store layers, also
    # when its daemon does not serve the store
    if args.trace or args.base == "store":
        setup.update(ensure_store(spark, args.store, rebuild=bool(args.trace)))
    path = args.store

    tracer = None
    if args.trace:
        import layertrace

        tracer = layertrace.Tracer(spark)
        tracer.install()
    t = time.perf_counter()
    # the daemon gets the points schema (labels, ts, value): with the
    # ``date`` partition column exposed, remote-written rows (which have
    # no date) are dropped by the planner's partition filter
    if args.base == "store":
        points = spark.read.parquet(f"{path}/points").select(
            "labels", "ts", "value")
        downsample = spark.read.parquet(f"{path}/downsample_5m")
    else:
        points = downsample = None
    daemon = PromHTTPServer(spark, base_points=points, downsample=downsample,
                            tenant_label="__account_id").start()
    setup["setup.daemon_start_s"] = time.perf_counter() - t
    print(json.dumps({"port": daemon.port, "pid": os.getpid(), **setup}),
          flush=True)

    base_status = None
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "mark":
            # start of the timed phase: counters are diffed from here
            base_status = (status_totals(spark), jvm_gauges(spark))
            if tracer is not None:
                tracer.clear()
            print(json.dumps({"ok": True}), flush=True)
        elif cmd == "stats":
            status, gauges = status_totals(spark), jvm_gauges(spark)
            if base_status is not None:
                status = {k: v - base_status[0][k] for k, v in status.items()}
                gauges["jvm.gc_ms"] -= base_status[1]["jvm.gc_ms"]
            reply = {"status": status, "gauges": gauges,
                     "python.rss_mb": python_rss_mb()}
            if tracer is not None:
                reply["trace"] = tracer.summary()
                tracer.dump(os.path.join(args.out, "spans.jsonl"))
            print(json.dumps(reply), flush=True)
        elif cmd == "quit":
            break
    daemon.stop()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
