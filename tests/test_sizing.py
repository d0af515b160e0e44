"""operators/sizing: input-stat-driven shuffle width (VERDICT r8 #4).

Pure-helper unit tests plus a plan-shape check that the sized
repartition actually removes the join-input exchanges (the whole
point: one explicit shuffle instead of two implicit ones at the
ceiling width).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pangenomesasgraphdatabases_spark.operators import sizing
from pangenomesasgraphdatabases_spark.operators.sizing import (
    DEFAULT_CAP,
    session_shuffle_floor,
    sized_shuffle_width,
)


def test_small_inputs_keep_the_floor():
    # Below one target-partition of rows: never widen.
    assert sized_shuffle_width(1, floor=32) == 32
    assert sized_shuffle_width(999_999, floor=32) == 32
    # Even exactly at target the ceil rounds to 1 partition-worth.
    assert sized_shuffle_width(1_000_000, floor=32) == 32


def test_large_inputs_scale_linearly():
    assert sized_shuffle_width(32_000_001, floor=32) == 33
    assert sized_shuffle_width(256_000_000, floor=32) == 256
    # The r8 measurement point: 138.6M features at floor 32 should be
    # sized to ~139 partitions (~1M rows each), not stay at 32.
    assert sized_shuffle_width(138_600_000, floor=32) == 139


def test_cap_bounds_runaway_estimates(monkeypatch):
    assert sized_shuffle_width(10**12, floor=32) == DEFAULT_CAP
    monkeypatch.setattr(sizing, "DEFAULT_CAP", 512)
    assert sized_shuffle_width(10**12, floor=32) == 512


def test_missing_stats_fall_back_to_floor():
    assert sized_shuffle_width(None, floor=16) == 16
    assert sized_shuffle_width(0, floor=16) == 16
    assert sized_shuffle_width(-5, floor=16) == 16


def test_custom_target_rows(monkeypatch):
    monkeypatch.setattr(sizing, "DEFAULT_TARGET_ROWS", 1_000)
    assert sized_shuffle_width(10_000, floor=2) == 10


def test_session_floor_reads_conf(spark):
    assert session_shuffle_floor(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )


def test_session_has_one_shuffle_width(spark):
    """``spark.sql.shuffle.partitions`` is the session's only width
    knob: no AQE initial partition number is set, so AQE starts every
    shuffle at the shuffle-partitions width."""
    key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    assert spark.conf.get(key, None) is None
    width = spark._jsparkSession.sessionState().conf().numShufflePartitions()
    assert width == int(spark.conf.get("spark.sql.shuffle.partitions"))


def test_sized_self_join_has_no_extra_exchange(spark):
    """A sort-merge self-join over a frame explicitly
    hash-repartitioned on the join key at a width ABOVE the session
    default must not re-shuffle either side: the only exchanges the
    planner may ADD (ENSURE_REQUIREMENTS) are for the downstream
    aggregation, never on the join key.  (The tiny frame is
    merge-hinted because at this size Spark would broadcast — the
    scale path this models is always SMJ.)"""
    width = session_shuffle_floor(spark) * 4
    inv = (
        spark.range(0, 10_000)
        .select(
            (F.col("id") % 97).alias("key"),
            (F.col("id") % 512).alias("doc_id"),
        )
        .repartition(width, "key")
    )
    joined = (
        inv.select(F.col("doc_id").alias("d1"), "key")
        .hint("merge")
        .join(inv.select(F.col("doc_id").alias("d2"), "key"), "key")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert joined.count() > 0
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    # The user repartition is the only key-hash shuffle; a planner-
    # inserted one on the join key would mean the sizing didn't carry
    # through to the join inputs.
    for line in plan.splitlines():
        if "ENSURE_REQUIREMENTS" in line:
            assert "hashpartitioning(key" not in line, plan
    assert plan.count("REPARTITION_BY_NUM") >= 1, plan
