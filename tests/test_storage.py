"""Graph persistence round-trip + RGP equivalence on the reloaded graph."""

from __future__ import annotations

import pytest


def test_save_load_roundtrip(spark, pangenome, tmp_path_factory):
    import os

    from pangenomesasgraphdatabases_spark.graph.gi_scan import gi_scan
    from pangenomesasgraphdatabases_spark.graph.rgp import find_rgps
    from pangenomesasgraphdatabases_spark.graph.storage import _TABLES, load_graph, save_graph

    path = str(tmp_path_factory.mktemp("graph_store"))
    save_graph(pangenome, path)
    assert not [d for _, dirs, _ in os.walk(path) for d in dirs if d.startswith("strain_bucket=")]

    # The saved schema file lets load_graph open every table without
    # submitting a Spark job (no footer inference, no parallel listing).
    tracker = spark.sparkContext.statusTracker()
    jobs_before = set(tracker.getJobIdsForGroup(None))
    g2 = load_graph(spark, path)
    assert set(tracker.getJobIdsForGroup(None)) == jobs_before

    # Names and types in order; parquet reads every column back nullable.
    for name in _TABLES:
        built = [(f.name, f.dataType.simpleString()) for f in getattr(pangenome, name).schema]
        loaded = [(f.name, f.dataType.simpleString()) for f in getattr(g2, name).schema]
        assert loaded == built, name

    # Multiset comparison on feature_id, not bare counts: concurrent table
    # jobs over these in-memory inputs once wrote 342 rows for a 332-row
    # frame (see materialize_graph); if that race ever recurs, the
    # failure must name the duplicated/missing ids, not just the delta.
    before_ids = sorted(r.feature_id for r in pangenome.features.select("feature_id").collect())
    after_ids = sorted(r.feature_id for r in g2.features.select("feature_id").collect())
    if before_ids != after_ids:
        from collections import Counter

        b, a = Counter(before_ids), Counter(after_ids)
        raise AssertionError(
            f"roundtrip id multiset mismatch: extra={sorted((a - b).elements())} "
            f"missing={sorted((b - a).elements())}"
        )
    assert sorted(g2.features.columns) == sorted(pangenome.features.columns)
    counts = {n: (getattr(pangenome, n).count(), getattr(g2, n).count()) for n in _TABLES}
    assert {n: c for n, c in counts.items() if c[0] != c[1]} == {}, "row counts (built, saved)"

    # The GI scan reads ortholog and clusters straight from the saved
    # tables: every column of every row matches the built graph's scan.
    assert sorted(gi_scan(g2).collect()) == sorted(gi_scan(pangenome).collect())

    before = {
        (r.StrainName, r.Anchor1ID, r.Anchor2ID, r.InsertionStart)
        for r in find_rgps(pangenome).collect()
    }
    after = {
        (r.StrainName, r.Anchor1ID, r.Anchor2ID, r.InsertionStart)
        for r in find_rgps(g2).collect()
    }
    assert before == after and before


def test_materialize_graph_runs_in_memory_jobs_in_turn(spark, pangenome):
    """Concurrent table jobs recomputing the unpersisted hub over
    in-memory (LocalRelation) inputs wrote duplicated rows, so
    materialize_graph runs them one at a time for such a graph; over
    scanned inputs they still overlap."""
    import threading
    import time

    from pangenomesasgraphdatabases_spark.graph.build import build_graph
    from pangenomesasgraphdatabases_spark.graph.fixtures import synthetic_feature_tables
    from pangenomesasgraphdatabases_spark.graph.storage import materialize_graph

    def peak_concurrency(graph) -> int:
        lock = threading.Lock()
        active, peak = [0], [0]

        def write(df, name):
            with lock:
                active[0] += 1
                peak[0] = max(peak[0], active[0])
            time.sleep(0.2)
            with lock:
                active[0] -= 1

        materialize_graph(graph, write)
        return peak[0]

    assert peak_concurrency(pangenome) == 1
    assert peak_concurrency(build_graph(spark, *synthetic_feature_tables(spark, 3, 40))) > 1


def test_load_graph_requires_schema_file(spark, tmp_path):
    """A directory without _schema.json (an uncommitted or foreign
    save) fails loudly instead of falling back to schema inference."""
    from pangenomesasgraphdatabases_spark.graph.storage import load_graph

    spark.range(3).write.parquet(str(tmp_path / "features"))
    with pytest.raises(FileNotFoundError, match="_schema.json"):
        load_graph(spark, str(tmp_path))
