"""Shared harness pieces: the Spark session, Spark's own counters, peak
memory, latency statistics and order-insensitive result hashing."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import resource
import subprocess


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """An eighth of physical RAM, capped at 2 GiB."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(512, min(2048, total // 8 // 2**20))}m"


def start_spark(work_dir: str):
    """A local session sized to the host: ``local[cores]``, shuffle
    partitions = cores, driver memory well below physical RAM, every
    scratch path (local dirs, warehouse, JVM temp) under ``work_dir``."""
    from pyspark.sql import SparkSession

    n = cores()
    tmp = os.path.join(work_dir, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (SparkSession.builder.master(f"local[{n}]")
             .appName("fedbench")
             .config("spark.sql.shuffle.partitions", str(n))
             .config("spark.default.parallelism", str(n))
             .config("spark.driver.memory", driver_memory())
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.ui.retainedJobs", "100000")
             .config("spark.ui.retainedStages", "100000")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.local.dir", os.path.join(work_dir, "spark-local"))
             .config("spark.sql.warehouse.dir",
                     os.path.join(work_dir, "spark-warehouse"))
             # ParallelGC: G1's heap growth made peak RSS vary by 15%
             # from run to run
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                     "-XX:+UseParallelGC")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the Spark JVM this process launched and wait for it to exit.
    The gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# Spark's status store
# ---------------------------------------------------------------------------

SPARK_COUNTERS = ("jobs", "stages", "tasks", "executor_run_s",
                  "executor_cpu_s", "shuffle_write_bytes", "input_bytes",
                  "output_bytes")


def _store(spark):
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore()


def _stages(spark, store):
    gw = spark.sparkContext._gateway
    return store.stageList(None, False, False,
                           gw.new_array(gw.jvm.double, 0), None)


def spark_marks(spark) -> tuple:
    """(last job id, last stage id) seen so far."""
    store = _store(spark)
    jobs, stages = store.jobsList(None), _stages(spark, store)
    j = max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)
    s = max((stages.apply(i).stageId() for i in range(stages.size())),
            default=-1)
    return j, s


def spark_counters(spark, marks: tuple) -> dict:
    """Jobs, stages, tasks, executor time and bytes since ``marks``,
    summed over stage attempts that ran (skipped stages excluded)."""
    store = _store(spark)
    jobs, stages = store.jobsList(None), _stages(spark, store)
    out = dict.fromkeys(SPARK_COUNTERS, 0)
    out["jobs"] = sum(1 for i in range(jobs.size())
                      if jobs.apply(i).jobId() > marks[0])
    for i in range(stages.size()):
        st = stages.apply(i)
        if st.stageId() <= marks[1] or st.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        out["executor_run_s"] += st.executorRunTime() / 1e3
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["input_bytes"] += st.inputBytes()
        out["output_bytes"] += st.outputBytes()
    return out


def peak_rss_mb(spark) -> tuple:
    """Peak resident memory (MB) of this Python driver and of the Spark
    JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        try:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except OSError:
            pass
    return py_kb / 1024.0, jvm_kb / 1024.0


# ---------------------------------------------------------------------------
# statistics and result hashing
# ---------------------------------------------------------------------------

def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def tail_percentile(n: int):
    """The highest of p99/p95/p90/p80 with at least ten samples beyond
    it."""
    for q in (99, 95, 90, 80):
        if n * (100 - q) / 100.0 >= 10:
            return q
    return None


def _norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, decimal.Decimal):
        # exact: DECIMAL sums agree digit for digit, only scales differ
        return ("d", str(v.normalize()))
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return float(f"{v:.12g}")
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    return str(v)


def result_hash(rows) -> str:
    """Order-insensitive digest of a result's values."""
    keys = sorted(repr(tuple(_norm(v) for v in r)) for r in rows)
    return hashlib.sha256("\n".join(keys).encode()).hexdigest()
