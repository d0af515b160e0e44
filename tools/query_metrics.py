"""Deterministic per-query execution metrics (r15 optimization rounds).

Wall-clock on this sandbox is weather-bound (CPU steal / bandwidth
co-tenancy), so A/Bs also record the weather-insensitive facts: number
of jobs/stages/tasks, shuffle read+write bytes, and executor CPU time
(actual CPU consumed — steal stretches wall, not cpuTime).  Each named
query runs once (after a codegen warmup at the smallest sibling SF)
with the UI REST API on; the printed JSON line carries the deltas.

Usage: python tools/query_metrics.py <sf_dir> <query> [query ...]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import _read_steal, _warmup_dir  # noqa: E402
from pangenomesasgraphdatabases_spark.queries.registry import all_queries  # noqa: E402

PORT = 4048


def _get_spark():
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("query-metrics")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", str(PORT))
        .getOrCreate()
    )


def _rest(spark, path: str):
    # Read the ACTUAL UI address (ADVICE r15: if PORT is already bound
    # Spark silently retries onto PORT+1.., and a hardcoded URL would
    # 404 or hit another app's UI).
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app}/{path}"
    with urllib.request.urlopen(url, timeout=20) as r:
        return json.load(r)


def _totals(spark) -> dict:
    stages = _rest(spark, "stages?status=complete")
    jobs = _rest(spark, "jobs")
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
        "shuffle_read": sum(s.get("shuffleReadBytes", 0) for s in stages),
        "shuffle_write": sum(s.get("shuffleWriteBytes", 0) for s in stages),
        "cpu_ms": sum(s.get("executorCpuTime", 0) for s in stages) // 1_000_000,
        "run_ms": sum(s.get("executorRunTime", 0) for s in stages),
    }


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    spark = _get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    m = re.search(r"sf(\d+(?:\.\d+)?)/?$", sf_dir)
    sf = float(m.group(1)) if m else -1.0  # ADVICE r15: parse numerically
    warm = _warmup_dir(sf_dir, sf)
    for name in names:
        q = registry[name]
        if warm:
            q.fn(spark, warm).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
        t0w = _totals(spark)
        s0 = _read_steal()
        t0 = time.time()
        q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = round(time.time() - t0, 3)
        steal = _read_steal() - s0
        spark.catalog.clearCache()
        t1w = _totals(spark)
        delta = {k: t1w[k] - t0w[k] for k in t0w}
        delta.update({"query": name, "wall": wall, "steal": steal})
        print(json.dumps(delta), flush=True)


if __name__ == "__main__":
    main()
