"""Materialize the deterministic pangenome fixture as parquet so both
Spark queries and DuckDB oracles can read identical inputs.

Output: fixtures_data/{feature_nodes,cluster_nodes,composition}.parquet
at the repo root (tiny; committed to the repo).
"""

from __future__ import annotations

import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pangenomesasgraphdatabases_spark.graph.fixtures import build_fixture

OUT = REPO / "fixtures_data"


def main() -> None:
    OUT.mkdir(exist_ok=True)
    fx = build_fixture()
    fx.feature_nodes.to_parquet(OUT / "feature_nodes.parquet", index=False)
    fx.cluster_nodes.to_parquet(OUT / "cluster_nodes.parquet", index=False)
    fx.composition.to_parquet(OUT / "composition.parquet", index=False)
    print("wrote", sorted(p.name for p in OUT.iterdir()))


if __name__ == "__main__":
    main()
