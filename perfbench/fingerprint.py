"""Result fingerprints for the registered queries.

A fingerprint is the row count, the sorted column names, the pandas
dtype kinds and a SHA-256 over the order-insensitive canonical row
multiset, all as ``tools/check_oracle.py`` defines them.  It is made
once per input directory from each query's registered DuckDB oracle,
so a run compares its Spark result without running DuckDB again.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(REPO, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def fingerprint(pdf) -> dict:
    co = _check_oracle()
    cols = sorted(pdf.columns)
    digest = hashlib.sha256()
    for row in co.canon_rows(pdf, cols):
        digest.update(repr(row).encode())
        digest.update(b"\n")
    return {
        "rows": len(pdf),
        "columns": cols,
        "kinds": co._dtype_kinds(pdf),
        "sha256": digest.hexdigest(),
    }


def oracle_fingerprints(data_dir: str, names: list[str]) -> dict[str, dict]:
    """Fingerprint each query's DuckDB oracle over ``data_dir``."""
    import duckdb

    from pangenomesasgraphdatabases_spark.queries.registry import all_queries

    queries = all_queries()
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
        return {n: fingerprint(con.sql(queries[n].oracle).df()) for n in names}
    finally:
        con.close()


def mismatch(got: dict, want: dict) -> str | None:
    """Why ``got`` differs from ``want``, or None."""
    for key in ("columns", "rows", "kinds", "sha256"):
        if got[key] != want[key]:
            return f"{key}: got {got[key]!r}, oracle {want[key]!r}"[:300]
    return None
