"""Plant an exact-duplicate cluster into an sf dir (VERDICT r9 #1).

Builds a variant of ``src`` under ``out`` where documents.parquet
gains N exact copies of one synthetic 60-word text (reserved id range
900M+) and embeddings.parquet gains N bit-identical copies of one
vector — the crawl-scale pattern (boilerplate pages, mirrored files)
that makes uncollapsed LSH/SimHash/bucket pair joins quadratic: N=1e4
puts 1e4 identical signatures in every band bucket, ~1.6e9 band-join
rows before any filter.  With operators/rep_collapse the cluster costs
one signature; the within-cluster output pairs (N^2/2, the contract)
are emitted map-side.

All other tables are symlinked from ``src`` (they are read-only
inputs; a 30x events table need not be copied to plant a documents
cluster).

Deterministic — no RNG, no clocks.

Usage: python tools/plant_dup_cluster.py <src_sf_dir> <out_dir> [N]
"""

from __future__ import annotations

import os
import sys

import duckdb

DUP_ID_BASE = 900_000_000
DUP_TEXT = " ".join(f"boilerplate{i} footer{i % 7}" for i in range(30))
# One fixed non-zero vector; bit-identical across copies.
DUP_VEC = "[" + ", ".join(
    f"{(0.1 + 0.01 * (i % 13)):.4f}" for i in range(64)
) + "]"


def main() -> None:
    SRC, OUT = sys.argv[1], sys.argv[2]
    N = int(sys.argv[3]) if len(sys.argv) > 3 else 10_000
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    con.execute(
        f"""COPY (
            SELECT doc_id, text, lang, source, n_chars
            FROM read_parquet('{SRC}/documents.parquet')
            UNION ALL
            SELECT {DUP_ID_BASE} + i AS doc_id, '{DUP_TEXT}' AS text,
                   'xx' AS lang, 'planted_dup' AS source,
                   CAST({len(DUP_TEXT)} AS BIGINT) AS n_chars
            FROM generate_series(0, {N - 1}) t(i)
        ) TO '{OUT}/documents.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (
            SELECT vec_id, embedding, label
            FROM read_parquet('{SRC}/embeddings.parquet')
            UNION ALL
            SELECT {DUP_ID_BASE} + i AS vec_id,
                   CAST({DUP_VEC} AS FLOAT[]) AS embedding,
                   CAST(0 AS INTEGER) AS label
            FROM generate_series(0, {N - 1}) t(i)
        ) TO '{OUT}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    for t in (
        "events", "lineitem", "orders", "part", "supplier", "customer",
        "nation", "region",
    ):
        src_f = os.path.abspath(f"{SRC}/{t}.parquet")
        dst_f = f"{OUT}/{t}.parquet"
        if os.path.exists(src_f) and not os.path.exists(dst_f):
            os.symlink(src_f, dst_f)
    for t in ("documents", "embeddings"):
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{OUT}/{t}.parquet')"
        ).fetchone()[0]
        print(f"{t}: {n} rows -> {OUT}/{t}.parquet")


if __name__ == "__main__":
    main()
