from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pangenomesasgraphdatabases_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def pangenome(spark):
    """Built pangenome graph over the deterministic fixture."""
    from pangenomesasgraphdatabases_spark.graph.build import build_graph
    from pangenomesasgraphdatabases_spark.graph.fixtures import build_fixture, to_spark

    fx = build_fixture()
    feat, clus, comp = to_spark(spark, fx)
    g = build_graph(spark, feat, clus, comp)
    # Cache: every test re-reads these small frames.
    for df in (g.features, g.clusters, g.ortholog, g.cluster_neighbour):
        df.cache()
    return g
