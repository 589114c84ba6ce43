"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload pip_hot --seed 1 --seconds 15 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into
``.perfbench/fixtures`` (cached per seed), Spark runs on ``local[<=4]`` in one
process, and the last line of standard output is the result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones (see perfbench/README.md). Earlier lines carry the raw samples.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, ROOT)  # after this directory, which holds the benchmark's modules
WORK = os.path.join(ROOT, ".perfbench")
TMP = os.path.join(WORK, "tmp")
CPUS = min(4, len(os.sched_getaffinity(0)))
# The JVM heap: the engine's default (32g) does not fit a small host. The heap
# is committed and touched at start, so peak_rss_mb does not follow GC
# timing (a growing heap varied it by 10-20% between runs); it holds 1 GB of
# heap plus what the run adds beyond it (JVM non-heap, driver and Python
# workers). Heap use itself is reported by the traced run (jvm.* metrics).
DRIVER_MEM = "1g"
JAVA_OPTS = f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={TMP}"
# Rounds of building the prepared state; setup_s uses their median. The first
# round is cold (codegen, Python workers), so the median is a warm one.
PREPARE_ROUNDS = 3
# Untimed jobs before the timed window: the first pays codegen and Python
# worker start for the job shape, and job walls still fall over the next ones
# as the JVM compiles the hot paths.
WARMUP_JOBS = 2


def pin_env() -> None:
    """Environment every Spark process of the run inherits."""
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        # Python workers start outside this directory and must import the engine
        PYTHONPATH=ROOT if not path else ROOT + os.pathsep + path,
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=TMP,
    )
    os.makedirs(TMP, exist_ok=True)
    cwd = os.path.join(WORK, "cwd")  # spark-warehouse/ and logs land here
    os.makedirs(cwd, exist_ok=True)
    os.chdir(cwd)


def stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit (it exits when its stdin
    closes); the Python workers end with the context."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        SparkContext._gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def cpu_times() -> list[float]:
    """Machine-wide user, system, idle and steal CPU seconds (/proc/stat)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return [(v[0] + v[1]) / hz, v[2] / hz, v[3] / hz, v[7] / hz]


def gc_seconds(spark) -> float:
    """Total GC time of the driver JVM."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def heap_after_gc_mb(spark) -> float:
    """Used JVM heap right after the latest collection (0 before the first)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    heap = {str(p.getName()) for p in mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"}
    used = 0
    for gc in mf.getGarbageCollectorMXBeans():
        info = gc.getLastGcInfo()
        if info is not None:
            after = info.getMemoryUsageAfterGc()
            used = max(used, sum(after.get(k).getUsed() for k in after.keySet() if str(k) in heap))
    return used / 2**20


def live_heap_mb(spark) -> float:
    """Used JVM heap right after a full GC: what the run retains."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20


def quartiles(values: list[float]) -> list[float]:
    if len(values) < 2:
        return [values[0]] * 3 if values else [0.0] * 3
    return statistics.quantiles(values, n=4, method="inclusive")


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def run_jobs(wl, spark, engine, tracer, name, result, until=0.0):
    """Run one job, then more until ``until``; yield the span of each job
    whose output passes the check."""
    while True:
        result["attempted"] += 1
        with tracer.span(name) as span:
            t = time.perf_counter()
            try:
                out = wl.job(spark, engine)
                wall = time.perf_counter() - t
                err = wl.check(out)
            except Exception:  # a failed job is counted, and the run goes on
                out, err = None, traceback.format_exc()
        if err:
            result["failed"] += 1
            print(f"job {span.id} failed: {err}", file=sys.stderr)
        else:
            span.attrs.update(wall_s=wall, out=out, heap_after_gc_mb=heap_after_gc_mb(spark))
            yield span
        if time.perf_counter() >= until:
            return


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.05, help="fixture scale factor")
    args = ap.parse_args(argv)

    pin_env()
    import layers
    import workloads
    from fixtures import Fixtures
    from tracing import RssSampler, SparkStats, Tracer

    from openstreetmapio_jl_spark.session import get_spark

    t = time.perf_counter()
    fx = Fixtures(os.path.join(WORK, "fixtures"), args.seed, args.scale)
    wl = workloads.make(args.workload, fx, WORK)
    inputs_s = time.perf_counter() - t

    result = {"attempted": 0, "failed": 0}
    tracer = Tracer(None)
    with RssSampler() as rss:
        with tracer.span("setup"):
            with tracer.span("setup.session_start") as start:
                spark = get_spark(
                    app_name="perfbench",
                    extra_conf={"spark.driver.extraJavaOptions": JAVA_OPTS, **wl.spark_conf},
                )
                spark.sparkContext.setLogLevel("ERROR")
                spark_version = spark.version
            rounds = []
            for _ in range(PREPARE_ROUNDS):
                with tracer.span("setup.prepare") as s:
                    wl.prepare(spark)
                rounds.append(s.end - s.start)
        start_s = start.end - start.start
        setup_s = start_s + median(rounds)
        # warm-up jobs are checked and counted like timed ones, but timed in
        # neither setup_s nor rows_per_s
        warmup_s = [
            s.attrs["wall_s"]
            for _ in range(WARMUP_JOBS)
            for s in run_jobs(wl, spark, workloads.ENGINE, tracer, "warmup_job", result)
        ]

        cpu0, gc0 = cpu_times(), gc_seconds(spark)
        deadline = time.perf_counter() + args.seconds
        walls, traced = [], []
        if args.trace:
            tracer.stats = SparkStats(spark)
            traced_engine = layers.traced_engine(tracer)
            # alternate untraced and traced jobs over the same window, so the
            # tracing overhead is measured under the same host load
            while True:
                walls += [s.attrs["wall_s"] for s in run_jobs(wl, spark, workloads.ENGINE, tracer, "job", result)]
                traced += list(run_jobs(wl, spark, traced_engine, tracer, "traced_job", result))
                if time.perf_counter() >= deadline:
                    break
            extra = {"geocoded_rows": wl.geocoded_rows()} if hasattr(wl, "geocoded_rows") else {}
        else:
            walls = [
                s.attrs["wall_s"]
                for s in run_jobs(wl, spark, workloads.ENGINE, tracer, "job", result, until=deadline)
            ]
        cpu = [b - a for a, b in zip(cpu0, cpu_times())]
        gc_s = gc_seconds(spark) - gc0
        heap = {
            # the most heap any timed job left after a collection
            "heap_after_gc_mb": max(
                (s.attrs["heap_after_gc_mb"] for s in tracer.spans if s.name in ("job", "traced_job")),
                default=0.0,
            ),
            "live_heap_mb": live_heap_mb(spark),
        }
        stop(spark)

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "cpus": CPUS,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_version": spark_version,
        "driver_mem": DRIVER_MEM,
        "inputs_s": inputs_s,
        "rows": wl.rows,
        "job_wall_s": walls,
        "job_wall_quartiles_s": quartiles(walls),
        "session_start_s": start_s,
        "prepare_rounds_s": rounds,
        "warmup_s": warmup_s,
        "loadavg": os.getloadavg(),
        # over the timed window: CPU seconds of the whole machine by kind,
        # and the JVM's GC time
        "cpu_user_sys_idle_steal_s": cpu,
        "gc_s": gc_s,
        **heap,
        "rss_peak_mb": rss.peak_kb / 1024.0,
        "rss_hwm_sum_mb": rss.hwm_kb() / 1024.0,
        "rss_hwm_by_process": rss.by_name(),
    }
    if args.trace:
        metrics = layers.per_layer_metrics(tracer, traced, wl, fx, start_s, walls, {**extra, **heap})
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        spans_path = os.path.join(WORK, "spans", f"{args.workload}-seed{args.seed}.json")
        for s in tracer.spans:
            s.attrs.pop("out", None)
        tracer.dump(spans_path)
        detail["spans"] = spans_path
    else:
        metrics = {
            "rows_per_s": (wl.rows / median(walls) if walls else 0.0, "1/s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (rss.peak_kb / 1024.0, "MB"),
        }
    detail["samples"] = len(traced) if args.trace else len(walls)
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
