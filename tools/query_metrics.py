"""Per-query timing and execution counters, measured as bench.py does.

Wall time on a shared host is weather (CPU steal, memory-bus
co-tenancy), so beside each rep's wall time this records the counters
that do not stretch with it: Spark jobs, tasks, executor CPU, input and
shuffle-write bytes, read in-process from the status store with the UI
off.  Each named query first runs once on the smallest sibling SF
(codegen warm-up), then ``reps`` timed reps through the noop sink; one
JSON line per query carries the per-rep records, median and min.

Usage: python tools/query_metrics.py <sf_dir> <reps> <query> [query ...]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import _noop, _warmup_dir, new_probe, parse_sf, summarize, timed_rep  # noqa: E402
from pangenomesasgraphdatabases_spark.queries.registry import all_queries  # noqa: E402
from pangenomesasgraphdatabases_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    reps = int(sys.argv[2])
    names = sys.argv[3:]
    spark = get_spark("query-metrics")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    probe = new_probe(spark)
    warm = _warmup_dir(sf_dir, parse_sf(sf_dir))
    for name in names:
        q = registry[name]
        if warm:
            _noop(q.fn(spark, warm))
            spark.catalog.clearCache()
        runs = [timed_rep(spark, probe, lambda: _noop(q.fn(spark, sf_dir))) for _ in range(reps)]
        print(json.dumps({"query": name, **summarize(runs)}), flush=True)


if __name__ == "__main__":
    main()
