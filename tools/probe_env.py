"""Probe: are the driver-checked queries bit-stable under a HOSTILE
SparkSession config?  The external driver runs our ``queries()`` with
its own session — we don't control its timezone, parallelism, or Arrow
setting.  This runs each named query under two sessions and compares
canonical value multisets: "std" is our own ``get_spark`` session (its
cores taken from the host), and "hostile" is deliberately NOT built by
``get_spark``, so it plays the external driver with a different
timezone, parallelism and Arrow setting.

Usage: python tools/probe_env.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = [
    "gi_scan_flagship",
    "events_tumbling_counts",
    "events_sliding_avg",
    "stream_tumbling_counts",
    "emb_label_stats",
    "zscore_vs_group",
]

WORKER = r"""
import sys, json, hashlib
repo, mode, sf = sys.argv[1:4]
names = sys.argv[4:]
sys.path.insert(0, repo)
if mode == "hostile":
    from pyspark.sql import SparkSession
    b = (SparkSession.builder.master("local[7]")
         .appName("probe-hostile")
         .config("spark.sql.shuffle.partitions", "7")
         .config("spark.sql.session.timeZone", "America/New_York")
         .config("spark.sql.execution.arrow.pyspark.enabled", "false")
         .config("spark.default.parallelism", "7")
         .config("spark.ui.enabled", "false"))
    spark = b.getOrCreate()
else:
    from pangenomesasgraphdatabases_spark.session import get_spark
    spark = get_spark("probe-std")
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as em
qs = em.queries()
out = {}
for n in names:
    df = qs[n](spark, sf)
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(repr(v) for v in rec)
        for rec in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256(repr(rows).encode()).hexdigest()
    out[n] = {"rows": len(pdf), "hash": h,
              "dtypes": {c: str(pdf[c].dtype) for c in cols}}
print(json.dumps(out))
"""


def main() -> None:
    import json

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    queries = sys.argv[2:] or QUERIES

    def run(mode: str) -> dict:
        r = subprocess.run(
            [sys.executable, "-c", WORKER, REPO, mode, sf, *queries],
            capture_output=True, text=True, timeout=600,
        )
        if r.returncode != 0:
            print(r.stderr[-3000:])
            raise SystemExit(f"{mode} worker failed")
        return json.loads(r.stdout.strip().splitlines()[-1])

    std = run("std")
    hostile = run("hostile")
    bad = 0
    for n in queries:
        s, h = std[n], hostile[n]
        ok = s == h
        bad += not ok
        print(f"{'OK  ' if ok else 'DIFF'} {n}: std={s['rows']}r {s['hash'][:12]} "
              f"hostile={h['rows']}r {h['hash'][:12]}")
        if not ok and s["dtypes"] != h["dtypes"]:
            print(f"     dtypes std={s['dtypes']} hostile={h['dtypes']}")
    print("env-sensitive queries:", bad)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
