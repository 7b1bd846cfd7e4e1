"""Session settings derived from the machine the benchmark runs on.

``local[cores]`` with as many shuffle partitions as cores, and a fixed
driver heap (initial = maximum) of a quarter of physical memory capped
at 2 GiB, so the benchmark fits a small shared box. A growing heap made
the peak RSS swing by 20-30% between runs of one workload; a fixed one
keeps it within a few percent. Every file Spark, the JVM or Python writes
goes under the run's work directory inside the checkout.
"""

from __future__ import annotations

import os
import time


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    return max(1024, min(2048, mem_total_mb() // 4))


def confine(work: str, root: str) -> None:
    """Points every temp and scratch location at ``work`` and lets the
    Python workers import the engine from ``root``. Call before the JVM
    starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp


def start_session(work: str):
    """Starts the session; returns it and the seconds it took,
    including one trivial job so the executor is up."""
    from pyspark.sql import SparkSession

    n, heap = cores(), driver_memory_mb()
    t0 = time.perf_counter()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("rulebench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", f"{heap}m")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Xms{heap}m")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stops the session and waits for its JVM to exit (the gateway JVM
    exits when its stdin closes)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)


def _hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus its JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_hwm_kb("self") + _hwm_kb(jvm_pid)) / 1024
