"""A SparkSession sized to the host the benchmark runs on.

``local[min(cores, 4)]`` and a driver heap sized to RAM (8% of it,
clamped to 1-4 GiB: 1.25 GiB on a 15 GB box, several times what the
workloads hold live), so the same harness fits a 4-core/15 GB box
without oversubscribing it.

The JVM compiles with C1 only and collects with the serial collector.
With C2, operations kept getting faster for a whole run, at a pace set by
host load; with C1 they are flat from the second one. With G1, heap growth
followed pause-time goals and so host load; the serial collector grows the
heap by occupancy, so peak memory repeats from run to run.

sparkh3 reaches the Python workers through
PYTHONPATH, set before the JVM starts: the JVM hands its environment to
every worker it forks, whatever the driver's working directory. Every
file Spark, the JVM or the workers write lands under ``work``.
"""

from __future__ import annotations

import os
import tempfile
from pathlib import Path

MAX_CORES = 4


def host_cores() -> int:
    return max(1, min(len(os.sched_getaffinity(0)), MAX_CORES))


def driver_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return int(min(4096, max(1024, total_kb / 1024 * 0.08)))


def start(root: Path, work: Path):
    """Start the session; returns it. ``root`` is the checkout holding
    the ``sparkh3`` package."""
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = str(root) + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)  # gettempdir() may have cached /tmp already
    os.environ["SPARK_LOCAL_DIRS"] = str(local)

    from pyspark.sql import SparkSession

    cores = host_cores()
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        " -XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
    )
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("sparkh3-perfbench")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", str(local))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(max(2 * cores, 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session and wait for the JVM to exit: it leaves when its
    stdin closes, taking the Python workers with it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
