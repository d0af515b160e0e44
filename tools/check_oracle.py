"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB at the given sf dir, then compares row count, column names,
pandas dtype compatibility, and an order-insensitive multiset of
bit-exact canonical values.

The comparison deliberately models what the external driver does
(pandas-level value hashing, evidence from CORRECTNESS_r01/r02):

* integer columns hash by VALUE — int32 vs int64 is tolerated
  (seven r2-green queries had that mismatch);
* float columns hash by BIT PATTERN — ``-0.0`` vs ``0.0`` fails the
  driver hash even though they compare equal (r2: zscore_vs_group,
  gi_scan_flagship), so floats canonicalize via ``repr`` which
  distinguishes the zero sign;
* an int64 column on one side vs float64 on the other fails —
  DuckDB HUGEINT (``sum(BIGINT)``, ``//`` on HUGEINT) converts to
  float64 in ``.df()`` while Spark hands back int64 (r2:
  events_* / stream_* / emb_label_stats);
* list values crash the driver canonicalizer outright (r1).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb
import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from pangenomesasgraphdatabases_spark.data import TABLES  # noqa: E402
from pangenomesasgraphdatabases_spark.session import get_spark  # noqa: E402


class ArrayOutput(Exception):
    """A list/array value reached the final projection — the driver's
    canonicalizer crashes on these (pandas 'unhashable type: list',
    VERDICT r1).  The local gate must be at least as strict."""


def canon_val(v):
    """Canonical comparison token for one cell.

    Distinct tokens iff the driver's pandas value hash would differ:
    ints collapse widths, floats keep their bit-level identity
    (repr distinguishes -0.0 / 0.0 / inf; all NaNs and nulls collapse
    to 'null' because pandas represents both as NaN).
    """
    if v is None:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{int(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return "null"
        return f"f:{v!r}"
    if isinstance(v, Decimal):
        return f"dec:{v}"
    if isinstance(v, (datetime, date, np.datetime64)):
        return f"t:{v}"
    if isinstance(v, (list, tuple, np.ndarray)):
        raise ArrayOutput(
            "array-typed output column (stringify it: "
            "array_join/array_to_string)"
        )
    if isinstance(v, (bytes, bytearray)):
        return f"x:{bytes(v).hex()}"
    return f"s:{v}"


# Canonical type families for the schema comparison (the driver
# records schema_match; name-only comparison would miss e.g. a VARCHAR
# oracle column against a BIGINT Spark column).
def _spark_type_family(dt: str) -> str:
    dt = dt.lower()
    if dt in ("tinyint", "smallint", "int", "bigint", "long", "integer"):
        return "int"
    if dt in ("float", "double") or dt.startswith("decimal"):
        return "float"
    if dt in ("string", "varchar"):
        return "str"
    if dt == "boolean":
        return "bool"
    if dt.startswith("timestamp"):
        return "ts"
    if dt == "date":
        return "date"
    return dt


def _duck_type_family(dt: str) -> str:
    dt = dt.upper()
    if dt in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UBIGINT"):
        return "int"
    if dt in ("FLOAT", "DOUBLE", "REAL") or dt.startswith("DECIMAL"):
        return "float"
    if dt == "VARCHAR":
        return "str"
    if dt == "BOOLEAN":
        return "bool"
    if dt.startswith("TIMESTAMP"):
        return "ts"
    if dt == "DATE":
        return "date"
    return dt.lower()


_KIND_NAMES = {"i": "int", "u": "int", "b": "bool", "f": "float",
               "O": "object", "M": "datetime", "m": "timedelta"}


def _dtype_kinds(df):
    """Column -> coarse pandas dtype kind, the granularity at which the
    driver's hash is sensitive (int widths collapse; int vs float does
    not)."""
    out = {}
    for c in df.columns:
        k = df[c].dtype.kind
        out[c] = _KIND_NAMES.get(k, k)
    return out


def canon_rows(pdf, colnames):
    order = sorted(colnames)
    rows = [
        tuple(canon_val(v) for v in rec)
        for rec in pdf[order].itertuples(index=False, name=None)
    ]
    rows.sort()
    return rows


def compare_frames(spdf, dpdf):
    """Driver-strict comparison of two pandas frames.  Returns a list
    of problem strings (empty == pass)."""
    problems = []
    scols, dcols = sorted(spdf.columns), sorted(dpdf.columns)
    if scols != dcols:
        return [f"columns spark={scols} duck={dcols}"]
    if len(spdf) != len(dpdf):
        problems.append(f"rowcount spark={len(spdf)} duck={len(dpdf)}")
    skinds, dkinds = _dtype_kinds(spdf), _dtype_kinds(dpdf)
    for c in scols:
        if skinds[c] != dkinds[c]:
            problems.append(
                f"pandas dtype kind mismatch on {c}: spark "
                f"{spdf[c].dtype} ({skinds[c]}) vs duck {dpdf[c].dtype} "
                f"({dkinds[c]}) — the driver hashes these differently "
                f"(e.g. DuckDB HUGEINT -> float64)"
            )
    if problems:
        return problems
    try:
        ns, nd = canon_rows(spdf, scols), canon_rows(dpdf, dcols)
    except ArrayOutput as e:
        return [str(e)]
    if ns != nd:
        diff = [(a, b) for a, b in zip(ns, nd) if a != b][:3]
        problems.append(f"values differ (bit-exact), e.g. {diff}")
    return problems


def main():
    # --out PATH: archive the per-query results as JSON (VERDICT r8
    # #7 — "251/251 at HEAD" claims become a committed artifact, e.g.
    # ORACLE_r09.json, instead of a COVERAGE.md sentence).
    args = sys.argv[1:]
    out_path = None
    if "--out" in args:
        i = args.index("--out")
        out_path = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:]) or None
    ledger: dict[str, dict] = {}

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    # Spill to /tmp, not the repo cwd: a runaway plan once left 42 GB
    # of .tmp/ blocks inside the repo and wedged git.
    con.execute("PRAGMA temp_directory='/tmp/duckdb_oracle_spill'")
    # DuckDB and the Spark JVM share the host.  DuckDB's defaults (80%
    # of RAM, every core) on top of the session heap (60% of RAM)
    # overcommit a small host: a full sf0.1 run on 4 cores and 15 GiB
    # had the JVM SIGKILLed partway.  Give DuckDB half of what the heap
    # leaves (the other half is JVM off-heap, Python workers and this
    # process) and the session's cores.
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    heap_mb = spark._jvm.java.lang.Runtime.getRuntime().maxMemory() >> 20
    con.execute(f"SET memory_limit='{max(512, (host_mb - heap_mb) // 2)}MB'")
    con.execute(f"SET threads={spark.sparkContext.defaultParallelism}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            stypes = dict(sdf.dtypes)
            spdf = sdf.toPandas()
            # Queries may cache intermediates their result lineage
            # reads (text_q module policy); drop them once the result
            # is materialized so caches don't accumulate across the
            # multi-query run.
            spark.catalog.clearCache()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}", flush=True)
            ledger[name] = {
                "status": "fail",
                "err": f"spark error: {e}"[:500],
                "sec": round(time.time() - t0, 1),
            }
            n_fail += 1
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            dtypes = dict(zip(dcols, (str(t) for t in rel.types)))
            dpdf = rel.df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}", flush=True)
            ledger[name] = {
                "status": "fail",
                "err": f"duckdb error: {e}"[:500],
                "sec": round(time.time() - t0, 1),
            }
            n_fail += 1
            continue
        problems = []
        if sorted(scols) == sorted(dcols):
            for c in scols:
                sf_fam = _spark_type_family(stypes[c])
                dk_fam = _duck_type_family(dtypes[c])
                if sf_fam != dk_fam and {sf_fam, dk_fam} != {"int", "float"}:
                    # int-vs-float at the SQL level is legal ONLY if
                    # the pandas frames agree (HUGEINT check below is
                    # the authoritative one).
                    problems.append(
                        f"type mismatch on {c}: spark {stypes[c]} ({sf_fam}) "
                        f"vs duck {dtypes[c]} ({dk_fam})"
                    )
        problems += compare_frames(spdf, dpdf)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems), flush=True)
            ledger[name] = {
                "status": "fail",
                "rows": len(spdf),
                "err": "; ".join(problems)[:500],
                "sec": round(time.time() - t0, 1),
            }
            n_fail += 1
        else:
            print(
                f"PASS {name} ({len(spdf)} rows) [{time.time()-t0:.1f}s]",
                flush=True,
            )
            ledger[name] = {
                "status": "pass",
                "rows": len(spdf),
                "sec": round(time.time() - t0, 1),
            }
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    if out_path:
        import json

        with open(out_path, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_pass": n_pass,
                    "n_fail": n_fail,
                    "queries": ledger,
                },
                fh,
                indent=1,
            )
        print(f"ledger -> {out_path}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
