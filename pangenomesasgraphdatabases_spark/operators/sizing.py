"""Input-stat-driven shuffle sizing.

AQE can COALESCE small shuffle partitions but never SPLITS oversized
ones (absent join skew), so the configured width is a hard ceiling on
parallelism-per-byte: at 30x graph scale, 32 initial partitions left
~4.3M rows/partition and the build went memory-bound (346.7 s vs
181.6 s at 256 — SCALE.md r8).  The same ceiling put
``doc_jaccard_containment``'s 10->30 slope at 3.7x per x3 data
(VERDICT r8 #4).

The remedy a 100 TB deployment applies — size the shuffle width from
the input volume — is expressed here as a pure helper so plans can
self-size from a cheap row-count statistic instead of relying on a
session-wide env knob.  The helper is deliberately conservative:

* never BELOW the session's configured width (small inputs keep the
  small-scale-tuned plan byte-identical — no behavior change at test
  scale);
* never above ``cap`` (a runaway estimate must not create millions of
  tiny shuffle files — the classic too-many-partitions failure mode);
* target rows/partition defaults to 1M, comfortably inside executor
  memory for the slim (key, id) posting frames this sizes.
"""

from __future__ import annotations

import math

# Explicit widths chosen by this helper are user-specified
# repartitions, which AQE respects (no coalesce back down) — so the
# cap guards against file-explosion at estimate blowups.
DEFAULT_TARGET_ROWS = 1_000_000
DEFAULT_CAP = 4096


def sized_shuffle_width(n_rows: int | None, floor: int) -> int:
    """Shuffle width for a frame of ``n_rows``: ceil(n /
    DEFAULT_TARGET_ROWS), clamped to [floor, DEFAULT_CAP].  ``None``/non-positive counts (empty
    input, missing stats) fall back to ``floor`` — never guess wide
    without evidence."""
    if not n_rows or n_rows <= 0:
        return floor
    return max(floor, min(DEFAULT_CAP, math.ceil(n_rows / DEFAULT_TARGET_ROWS)))


def session_shuffle_floor(spark) -> int:
    """The session's configured shuffle width — the floor below which
    sizing never shrinks a plan (keeps small-scale plans unchanged)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return 200  # Spark's own default


def parquet_rows(sf_dir: str, table: str) -> int | None:
    """Exact row count of ``{sf_dir}/{table}.parquet`` read from the
    parquet FOOTER (pyarrow metadata; file metadata pages only — no
    data read, no Spark job).  This is the plan-time input statistic
    the scale guards key on: Catalyst itself sizes scans from file
    statistics, and a footer read keeps "the engine reading the
    input" jobless, so building a query's DataFrame stays free of
    Spark jobs (tests/test_plans.py pins that contract).

    Returns None when the path is not a single parquet file (e.g. a
    partitioned directory) or the footer is unreadable — callers must
    treat None as "no evidence" and keep their conservative default.
    """
    import glob
    import os

    try:
        import pyarrow.parquet as pq

        path = os.path.join(sf_dir, f"{table}.parquet")
        if os.path.isfile(path):
            return pq.ParquetFile(path).metadata.num_rows
        if os.path.isdir(path):
            total = 0
            parts = glob.glob(os.path.join(path, "*.parquet")) or glob.glob(
                os.path.join(path, "part-*")
            )
            if not parts:
                return None
            for p in parts:
                total += pq.ParquetFile(p).metadata.num_rows
            return total
        return None
    except Exception:
        return None


_SIZE_SUFFIX = {
    "": 1,
    "b": 1,
    "k": 2**10,
    "kb": 2**10,
    "m": 2**20,
    "mb": 2**20,
    "g": 2**30,
    "gb": 2**30,
    "t": 2**40,
    "tb": 2**40,
}


def broadcast_threshold_bytes(spark) -> int:
    """The session's ``spark.sql.autoBroadcastJoinThreshold`` in
    bytes (0 when broadcasting is disabled with -1).  Spark reports
    the value in whatever unit it was set ("10485760b", "10MB",
    "-1"); unknown shapes fall back to Spark's 10 MiB default."""
    import re

    default = 10 * 2**20
    try:
        v = str(
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        ).strip().lower()
    except Exception:
        return default
    m = re.match(r"^(-?\d+)\s*([a-z]*)$", v)
    if not m or m.group(2) not in _SIZE_SUFFIX:
        return default
    n = int(m.group(1))
    if n < 0:
        return 0
    return n * _SIZE_SUFFIX[m.group(2)]


def parquet_column_bytes(
    sf_dir: str, table: str, column: str
) -> int | None:
    """Total UNCOMPRESSED bytes of one column across all row groups,
    from the parquet footer (no data read, no Spark job).  The
    jobless stand-in for "how much text is there": derived frames
    whose row count tracks the column's volume (tokens ~ bytes/6,
    shingles ~ tokens) can size their shuffles from it instead of
    running an eager counting job at plan-construction time
    (VERDICT r10 #6).  None when the file layout or footer is
    unreadable — callers keep their conservative default."""
    import glob
    import os

    try:
        import pyarrow.parquet as pq

        path = os.path.join(sf_dir, f"{table}.parquet")
        files = (
            [path]
            if os.path.isfile(path)
            else sorted(
                glob.glob(os.path.join(path, "*.parquet"))
                or glob.glob(os.path.join(path, "part-*"))
            )
        )
        if not files:
            return None
        total = 0
        for p in files:
            md = pq.ParquetFile(p).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    c = g.column(ci)
                    if c.path_in_schema == column:
                        total += c.total_uncompressed_size
        return total
    except Exception:
        return None
