"""Incremental time-bucket rollups (continuous-aggregate pattern).

At 100 TB you never rescan history to refresh an hourly/daily rollup:
you aggregate the new batch alone and MERGE it into the stored rollup.
That works exactly when every measure is an algebraic aggregate kept
in partial form — (count, sum) here, from which avg derives at read
time.  merge(rollup(A), rollup(B)) == rollup(A ∪ B) is the defining
property and is pytest-asserted (tests/test_rollup_inc.py).

Totals are exact fixed-point micros (integer sums), so merges are
order-independent and bitwise-reproducible — the same discipline as
the oracle queries (see docs/SCALE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_KEYS = ("bucket_start", "event_type")


def rollup_batch(events: DataFrame) -> DataFrame:
    """Partial-form hourly rollup of one batch of events (ts,
    event_type, value): (bucket_start, event_type) -> n_events,
    sum_value_micro."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 1000000).cast("bigint")).alias(
                "sum_value_micro"
            ),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value_micro",
        )
    )


def rollup_merge(existing: DataFrame, batch_rollup: DataFrame) -> DataFrame:
    """Merge a batch's rollup into the stored rollup: union + re-sum.
    Both inputs and the result share the partial-form schema, so the
    merge is closed under composition (any number of batches, any
    order).  Shuffles only the rollup rows (bucket×type cardinality),
    never raw events."""
    return (
        existing.unionByName(batch_rollup)
        .groupBy(*_KEYS)
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value_micro").alias("sum_value_micro"),
        )
    )


def rollup_read(rollup: DataFrame) -> DataFrame:
    """Read-time view deriving avg from the partial form (micros div
    count — exact integer division, engine-reproducible)."""
    return rollup.select(
        *_KEYS,
        "n_events",
        "sum_value_micro",
        F.expr("sum_value_micro div n_events").alias("avg_value_micro"),
    )
