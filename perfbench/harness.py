"""Host sizing, the Spark session, and the measurements every workload
shares: the closed op loop, memory and the JVM calibration probe."""

from __future__ import annotations

import os
import statistics
import time

WORK_DIR = ".perfbench_work"


def host_cores() -> int:
    """What ``nproc`` prints: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def host_ram_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """A quarter of host RAM, within [1g, 48g] (48g is the program's
    own default, sized for a bigger host)."""
    return f"{max(1, min(48, int(host_ram_gb() / 4)))}g"


def prepare_env(root: str, run_dir: str) -> None:
    """Keep every file Spark and its Python workers write inside the
    checkout, and let the workers import the package from it."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_spark(cores: int, run_dir: str):
    from augdiff_pipeline_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    return get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.driver.memory": driver_memory(),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job, stage and task of the run
            # back from the status store at the end
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=60)


def memory_mb(spark) -> float:
    """High-water RSS of this driver process, plus what the JVM holds
    after a full collection at the end of the run: live heap and
    non-heap (metaspace, code cache).  The JVM's own RSS is left out:
    it follows when the collector last ran and how far the heap had
    grown, and differs by up to half between runs of the same code."""
    with open("/proc/self/status") as fh:
        hwm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    jvm = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return hwm_kb / 1024 + jvm / 2**20


def calib_jvm_s(spark) -> float:
    """Wall time of a fixed pure-JVM aggregate (no Python workers, no
    disk, no shuffle): its cost depends only on the host's state, so a
    host swing shows up here too."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, 10_000_000).select(
        F.pmod(F.xxhash64("id"), F.lit(1_000_003)).alias("h")
    ).agg(F.sum("h")).collect()
    return time.perf_counter() - t0


def warm_python_workers(spark) -> None:
    """Spawn every Python worker once (numpy/pandas import included)."""
    cores = spark.sparkContext.defaultParallelism

    def noop(it):
        for pdf in it:
            yield pdf.iloc[:0]

    spark.range(0, cores, numPartitions=cores).mapInPandas(noop, "id long").collect()


def op_slots(ctx, wraps=(), min_ops: int = 1):
    """Yield the index of each op the closed loop may start.

    Op 0 is a warm-up that runs before the window opens, so its cold JIT,
    codegen and memo costs stay out of every metric.  Untraced runs then
    start ops until the window closes and at least ``min_ops`` have run.
    Traced runs trace the ops started in the second half of the window
    (installing ``wraps``), and go on until at least one untraced and one
    traced op have run; ``ctx.traced_from`` is the index of the first
    traced op."""
    yield 0
    t_end = time.perf_counter() + ctx.seconds
    i = 1
    try:
        while True:
            now = time.perf_counter()
            if ctx.trace and ctx.traced_from is None and i > 1 and now > t_end - ctx.seconds / 2:
                ctx.traced_from = i
                ctx.tracer.activate(wraps)
            if now >= t_end and i > min_ops and not (ctx.trace and ctx.traced_from in (None, i)):
                return
            yield i
            i += 1
    finally:
        ctx.tracer.deactivate()


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def median(values) -> float:
    return statistics.median(values)
