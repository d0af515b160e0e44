"""Hilbert-curve data layout — the locality upgrade over Z-order.

Both curves give every output file a compact rectangle of (A, B)
space for min/max file pruning (queries/pipeline_q lays lineitem out
along each: `lineitem_zorder_layout`, `lineitem_hilbert_layout`).
The difference is the seam structure: consecutive Z-values jump across the grid at
power-of-two boundaries (the Morton "Z" shape), while consecutive
Hilbert indexes are ALWAYS grid neighbours — so a range of Hilbert
indexes covers a blob, not a comb.  Measured honestly
(tests/test_pipeline.py): when the file count aligns with the
power-of-4 recursion both curves tile identical rectangles; for every
UNALIGNED count — the real-world case, where file count follows
target file size — Hilbert's summed per-file bounding boxes are
strictly smaller, which is why it is the default in modern
table-format clustering.

The index is computed by the classic top-down quadrant recursion,
unrolled to `bits` arithmetic steps (div/mod/CASE only — no bit-op
builtins), with ONE expression generator shared by the Spark plan
(`div`) and the DuckDB oracle (`//`): both engines evaluate the same
integer algebra, so the driver hash is exact.

Per step (quadrant size s, state x, y, d — x and y always < 2s):
  rx, ry  = x div s, y div s            (which quadrant)
  d      += s*s * (ry if rx = 0 else 3 - ry)   ((3*rx) XOR ry)
  x, y    = x mod s, y mod s            (descend)
  rotate:  ry = 1 -> identity; ry = 0, rx = 0 -> transpose;
           ry = 0, rx = 1 -> anti-transpose (flip both, then swap)
Verified bijective and unit-stride-adjacent (the defining Hilbert
property) against the pure-Python reference in tests/test_skew.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def hilbert_d_py(x: int, y: int, bits: int) -> int:
    """Pure-Python reference: Hilbert index of (x, y) on the
    2^bits x 2^bits grid."""
    d = 0
    s = 1 << (bits - 1)
    while s > 0:
        rx, x = divmod(x, s)
        ry, y = divmod(y, s)
        d += s * s * ((3 - ry) if rx == 1 else ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def hilbert_step_exprs(bits: int, div: str) -> list:
    """Per-step (x', y', d') SQL expressions over state columns
    ``hx, hy, hd`` — `div` is the engine's integer-division token
    (Spark SQL: ``div``; DuckDB: ``//``)."""
    steps = []
    for k in range(bits):
        s = 1 << (bits - 1 - k)
        rx = f"(hx {div} {s})"
        ry = f"(hy {div} {s})"
        xm = f"(hx % {s})"
        ym = f"(hy % {s})"
        d_new = (
            f"hd + {s * s} * (CASE WHEN {rx} = 1"
            f" THEN 3 - {ry} ELSE {ry} END)"
        )
        x_new = (
            f"CASE WHEN {ry} = 1 THEN {xm}"
            f" WHEN {rx} = 0 THEN {ym}"
            f" ELSE {s - 1} - {ym} END"
        )
        y_new = (
            f"CASE WHEN {ry} = 1 THEN {ym}"
            f" WHEN {rx} = 0 THEN {xm}"
            f" ELSE {s - 1} - {xm} END"
        )
        steps.append((x_new, y_new, d_new))
    return steps


def hilbert_index_oracle_sql(
    base_select: str, carry_cols: str, bits: int
) -> str:
    """Wraps `base_select` (which must expose ``hx``, ``hy`` and the
    carry columns) in `bits` nested SELECTs computing the Hilbert
    index as ``hval`` — DuckDB text for the oracle."""
    q = f"SELECT {carry_cols}, hx, hy, CAST(0 AS BIGINT) AS hd FROM ({base_select})"
    for x_new, y_new, d_new in hilbert_step_exprs(bits, "//"):
        q = (
            f"SELECT {carry_cols}, {x_new} AS hx, {y_new} AS hy,"
            f" CAST({d_new} AS BIGINT) AS hd FROM ({q})"
        )
    return (
        f"SELECT {carry_cols}, hd AS hval FROM ({q})"
    )


def with_hilbert_index(
    df: DataFrame, col_x: str, col_y: str, bits: int, out: str = "hval"
) -> DataFrame:
    """Adds `out` = Hilbert index of (col_x mod 2^bits, col_y mod
    2^bits) via the same unrolled arithmetic the oracle runs —
    selectExpr steps stay inside whole-stage codegen, no UDF."""
    n = 1 << bits
    carry = [c for c in df.columns]
    cur = df.selectExpr(
        *carry,
        f"CAST({col_x} % {n} AS BIGINT) AS hx",
        f"CAST({col_y} % {n} AS BIGINT) AS hy",
        "CAST(0 AS BIGINT) AS hd",
    )
    for x_new, y_new, d_new in hilbert_step_exprs(bits, "div"):
        cur = cur.selectExpr(
            *carry,
            f"{x_new} AS hx",
            f"{y_new} AS hy",
            f"CAST({d_new} AS BIGINT) AS hd",
        )
    return cur.selectExpr(*carry, f"hd AS {out}")
