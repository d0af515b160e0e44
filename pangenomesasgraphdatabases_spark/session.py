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
    initial_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    # AQE initial width precedence (ADVICE r8: the env var silently
    # overrode an explicitly passed width and could leak across
    # same-process get_spark calls): explicit initial_partitions arg >
    # explicit shuffle_partitions arg > SPARK_GRAFT_INITIAL_PARTITIONS
    # env (harness-level knob for callers that can't thread an arg) >
    # the 32 small-scale default.
    if initial_partitions is not None:
        initial = initial_partitions
    elif shuffle_partitions is not None:
        initial = shuffle_partitions
    else:
        initial = int(
            os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS", "32")
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE can COALESCE small shuffle partitions but never splits
        # oversized ones (absent join skew), so the INITIAL partition
        # count is the scale ceiling: at 30x graph scale (138M
        # features) 32 initial partitions left ~4M rows/partition and
        # the graph-build slope went superlinear (346.7s; 181.6s at
        # 256 — SCALE.md r8).  But wider initial shuffles are NOT a
        # free default: iterative plans that localCheckpoint between
        # rounds pin the inflated partition count across every
        # iteration (doc_ngram_jaccard_dedup measured 3x slower at
        # sf0.1 with 128 vs 32 — the measured sweep is in SCALE.md).
        # So the knob is sized per input scale by the caller (the
        # scale harness sets 256 for the 30x graph runs), exactly as
        # a 100 TB deployment sizes spark.sql.shuffle.partitions to
        # its data, and the session default stays small-scale-tuned.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(initial),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _default_heap())
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Dio.netty.tryReflectionSetAccessible=true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
