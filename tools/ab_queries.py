"""Isolated per-query A/B timing harness (r15 optimization rounds).

Runs the named registered queries at the given sf dir in exact bench
shape (local[$SPARK_GRAFT_CPUS], codegen warmup at the smallest sibling
SF, noop sink, per-rep /proc/stat steal annotation) and prints one JSON
line per query: {"query", "reps", "steal", "min", "median_clean"}.

Usage: python tools/ab_queries.py <sf_dir> <reps> <query> [query ...]
"""

from __future__ import annotations

import json
import os
import statistics
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import STEAL_CLEAN_JIFFIES, _read_steal, _warmup_dir  # noqa: E402
from pangenomesasgraphdatabases_spark.queries.registry import all_queries  # noqa: E402
from pangenomesasgraphdatabases_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    reps = int(sys.argv[2])
    names = sys.argv[3:]
    spark = get_spark("ab-queries")
    registry = all_queries()
    m = re.search(r"sf(\d+(?:\.\d+)?)/?$", sf_dir)
    sf = float(m.group(1)) if m else -1.0  # ADVICE r15: parse numerically
    warm = _warmup_dir(sf_dir, sf)
    for name in names:
        q = registry[name]
        if warm:
            q.fn(spark, warm).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
        times: list[float] = []
        steals: list[int] = []
        for _ in range(reps):
            s0 = _read_steal()
            t0 = time.time()
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(round(time.time() - t0, 3))
            steals.append(_read_steal() - s0)
            spark.catalog.clearCache()
        clean = [t for t, s in zip(times, steals) if s <= STEAL_CLEAN_JIFFIES]
        print(
            json.dumps(
                {
                    "query": name,
                    "reps": times,
                    "steal": steals,
                    "min": min(clean if clean else times),
                    "median_clean": round(
                        statistics.median(clean if clean else times), 3
                    ),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
