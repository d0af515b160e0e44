"""SparkSession factory tuned for the local[N] test harness.

At cluster scale the same code runs unchanged; only master/memory conf
differ.  AQE is on so skewed shuffles re-plan at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_heap() -> str:
    """Driver heap for local[N], where driver and all N executor
    threads share ONE JVM: size it like the sum of a few executors, not
    like a cluster driver.  16g measurably GC-thrashed the 24-query
    bench (single queries 2x slower in-bench than isolated); 48g on the
    128 GiB harness restores isolated-run timings.  But the heap must
    fit the host: 48g on a 15 GiB box got the JVM OOM-killed mid-suite,
    so take ~60% of MemTotal, capped at 48g."""
    try:
        with open("/proc/meminfo") as fh:
            kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    except OSError:  # no /proc (not Linux)
        return "48g"
    return f"{max(1, min(48 * 1024, int(kib * 0.6) // 1024))}m"


def get_spark(
    app_name: str = "pangenome-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE coalesces from this width but never splits, so callers
        # size it to their input (the 30x graph runs pass 256).  The
        # default stays 32: plans that localCheckpoint between rounds
        # pin the initial width across every round (SCALE.md sweep).
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _default_heap())
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Dio.netty.tryReflectionSetAccessible=true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
