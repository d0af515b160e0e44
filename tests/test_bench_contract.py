"""Contract guards for bench.py — the driver parses its stdout and
BENCH_r{N}.json is the authoritative perf series, so drift here is a
silent loss of the perf gate (round 6 lost its parsed bench to an
oversized stdout line; a renamed query would silently drop from the
headline set because the run loop `registry.get(name)`-skips)."""

from __future__ import annotations

import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"


def _load(name: str, relpath: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, relpath))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _load_bench():
    return _load("bench", "bench.py")


def test_headline_names_all_registered():
    """Every HEADLINE and scale-bench entry must resolve in the
    registry — a rename or removal must fail here, not silently shrink
    the bench (bench.py skips unknown names; bench_scale.py raises
    only when it reaches one)."""
    from pangenomesasgraphdatabases_spark.queries.registry import all_queries

    bench = _load_bench()
    scale = _load("bench_scale", "tools/bench_scale.py")
    registry = all_queries()
    for names in (bench.HEADLINE, scale.QUERIES):
        missing = [n for n in names if n not in registry]
        assert not missing, f"bench queries not in registry: {missing}"
        assert len(set(names)) == len(names), "duplicate bench query"


def test_read_steal_is_nonnegative_int():
    """The per-rep steal annotation must degrade to 0, never raise —
    it wraps every timed rep."""
    bench = _load_bench()
    s = bench._read_steal()
    assert isinstance(s, int)
    assert s >= 0


def test_compact_line_stays_parseable():
    """The compact stdout line for the CURRENT headline set carries
    exactly the pinned keys and stays far under the driver's tail
    capture (~1.5 KB budget, VERDICT r6 #1).  Rendered with worst-case
    4-digit-seconds values."""
    bench = _load_bench()
    names = [*bench.HEADLINE, "graph_build_770x6000"]
    entries = {n: {"median_s": 9999.999, "min_s": 9999.999, "reps": []} for n in names}
    line = bench.compact_line(entries, 0.1)
    assert "\n" not in line
    assert len(line) <= 1500, f"compact bench line {len(line)} B > 1.5 KB budget"
    parsed = json.loads(line)
    assert set(parsed) == {"metric", "value", "unit", "queries", "sf"}
    assert list(parsed["queries"]) == names


def test_warmup_dir_skips_unparseable_sibling(tmp_path):
    """A sibling named like ``sf0.0.1`` names no scale factor: the
    warm-up picks the smallest real sibling instead of raising."""
    bench = _load_bench()
    for name in ("sf0.001", "sf0.1", "sf0.0.1"):
        (tmp_path / name).mkdir()
    measured = str(tmp_path / "sf0.1")
    assert bench.parse_sf(measured) == 0.1
    assert bench.parse_sf(measured + "/") == 0.1
    assert bench.parse_sf(str(tmp_path / "sf0.0.1")) == -1.0
    assert bench._warmup_dir(measured, 0.1) == str(tmp_path / "sf0.001")


def test_rep_counters_repeat(spark):
    """Two reps of a deterministic query submit the same jobs and
    tasks and move the same bytes; CPU time is left out because it
    moves with JIT warm-up.  One untimed build first: the first read of
    a table in a process infers its parquet schema, once."""
    from pangenomesasgraphdatabases_spark.queries.registry import all_queries

    bench = _load_bench()
    q = all_queries()["multiway_join_revenue"]
    q.fn(spark, SF)
    probe = bench.new_probe(spark)
    reps = [bench.timed_rep(spark, probe, lambda: bench._noop(q.fn(spark, SF))) for _ in range(2)]
    stable = ("jobs", "tasks", "input_mb", "shuffle_write_mb")
    first, second = ({k: r[k] for k in stable} for r in reps)
    assert first == second, (first, second)
    assert reps[0]["jobs"] > 0 and reps[0]["tasks"] > 0
    assert set(reps[0]) == {"wall_s", "steal_jiffies", *bench.COUNTERS}


def test_graph_build_reps_repeat(spark):
    """Two reps of the shared graph-build helper (bench.py's build
    entry and bench_scale.py's graph legs) submit the same jobs and
    tasks and shuffle the same bytes.  Broadcast joins are off for the
    test: with them on, AQE turns the clusters table's reference join
    into a broadcast join before or after the other side's shuffle
    stage starts, depending on which stage finishes first, and about
    one rep in ten runs that extra 1-task shuffle job."""
    from pangenomesasgraphdatabases_spark.graph.fixtures import synthetic_feature_tables

    bench = _load_bench()
    f, c, comp = synthetic_feature_tables(spark, 3, 40)
    probe = bench.new_probe(spark)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        reps = [
            bench.timed_rep(spark, probe, lambda: bench.build_materialized(spark, f, c, comp))
            for _ in range(2)
        ]
    finally:
        spark.conf.set(key, old)
    stable = ("jobs", "tasks", "shuffle_write_mb")
    first, second = ({k: r[k] for k in stable} for r in reps)
    assert first == second, (first, second)
    assert reps[0]["jobs"] > 0
