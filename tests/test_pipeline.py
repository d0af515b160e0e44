"""Tests for the r3 pipeline/layout queries (queries/pipeline_q.py)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def test_curation_verdicts_invariants(spark):
    from pangenomesasgraphdatabases_spark.queries.pipeline_q import (
        doc_curation_verdicts,
    )

    out = doc_curation_verdicts(spark, SF).cache()
    total = out.count()
    assert total == 500
    # Verdicts partition the corpus; canonical_id always <= doc_id for
    # dropped duplicates (min-id canonical choice), == doc_id for kept.
    assert out.filter("verdict = 'kept' AND canonical_id <> doc_id").isEmpty()
    assert out.filter(
        "verdict IN ('dropped_exact', 'dropped_neardup') AND canonical_id >= doc_id"
    ).isEmpty()
    # Every canonical an exact-dup points at is itself NOT an exact dup.
    canon = out.filter("verdict = 'dropped_exact'").select(
        F.col("canonical_id").alias("doc_id")
    )
    bad = canon.join(out.filter("verdict = 'dropped_exact'"), "doc_id")
    assert bad.isEmpty()
    spark.catalog.clearCache()


def test_retention_cohort_day0_equals_cohort_size(spark):
    from pangenomesasgraphdatabases_spark.queries.pipeline_q import (
        events_retention_cohorts,
    )

    out = events_retention_cohorts(spark, SF).cache()
    # offset 0 exists for every cohort and is the cohort's max count
    # (retention can only shrink or equal, per distinct-user counting).
    day0 = {r.cohort_day: r.n_users for r in out.filter("offset_days = 0").collect()}
    assert day0, "no cohorts found"
    for r in out.collect():
        assert r.offset_days >= 0
        assert r.n_users <= day0[r.cohort_day]
    spark.catalog.clearCache()


def test_importance_resample_deterministic_and_weighted(spark):
    from pangenomesasgraphdatabases_spark.queries.pipeline_q import (
        doc_importance_resample,
    )

    a = doc_importance_resample(spark, SF)
    b = doc_importance_resample(spark, SF)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    assert a.filter("weight * p <> 1.0").isEmpty()


def test_anomaly_mad_flags_planted_outlier(spark):
    """MAD flags a planted far outlier but not the bulk."""
    from pangenomesasgraphdatabases_spark.queries.events_q import events_anomaly_mad

    out = {r.event_type: r for r in events_anomaly_mad(spark, SF).collect()}
    assert out, "no event types"
    for r in out.values():
        assert r.n_outliers <= r.n_events
        assert r.mad_micro >= 0.0


def test_windowed_topk_rank_contract(spark):
    from pangenomesasgraphdatabases_spark.queries.events_q import events_windowed_topk

    out = events_windowed_topk(spark, SF).cache()
    # <= 3 rows per window, ranks dense from 1, counts non-increasing.
    bad = (
        out.groupBy("window_start")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("rk").alias("lo"),
            F.max("rk").alias("hi"),
        )
        .filter((F.col("n") > 3) | (F.col("lo") != 1) | (F.col("hi") != F.col("n")))
    )
    assert bad.isEmpty()
    w = out.groupBy("window_start").agg(
        F.min_by("n_events", "rk").alias("top"), F.max_by("n_events", "rk").alias("last")
    )
    assert w.filter(F.col("top") < F.col("last")).isEmpty()
    spark.catalog.clearCache()


def test_pricing_summary_partitions_corpus(spark):
    """Group counts add back to the filtered row count; integer means
    are consistent with their sums."""
    from pangenomesasgraphdatabases_spark.queries.sql_surface_q import (
        pricing_summary_report,
    )
    from pangenomesasgraphdatabases_spark.data import table

    out = pricing_summary_report(spark, SF).cache()
    li = table(spark, SF, "lineitem")
    cutoff = F.lit("2001-06-01 00:00:00").cast(li.schema["l_shipdate"].dataType)
    expected = li.filter(F.col("l_shipdate") <= cutoff).count()
    got = out.agg(F.sum("count_order")).collect()[0][0]
    assert got == expected
    assert out.filter(
        F.col("avg_qty_c") != F.expr("sum_qty_c div count_order")
    ).isEmpty()
    spark.catalog.clearCache()


def test_incremental_rollup_equals_full_rescan(spark):
    """merge(rollup(history), rollup(batch)) == rollup(all) on the
    real events table, any split."""
    from pangenomesasgraphdatabases_spark.operators.rollup_inc import (
        rollup_batch,
        rollup_merge,
        rollup_read,
    )
    from pangenomesasgraphdatabases_spark.data import table as load

    e = load(spark, SF, "events")
    full = rollup_read(rollup_batch(e))
    inc = rollup_read(
        rollup_merge(
            rollup_batch(e.filter(F.col("event_id") % 10 != 0)),
            rollup_batch(e.filter(F.col("event_id") % 10 == 0)),
        )
    )
    assert inc.exceptAll(full).isEmpty() and full.exceptAll(inc).isEmpty()


def test_rate_limited_sample_cap_holds(spark):
    from pangenomesasgraphdatabases_spark.queries.events_q import (
        events_rate_limited_sample,
    )

    out = events_rate_limited_sample(spark, SF).cache()
    per_key = out.groupBy("user_id", "day").agg(F.count(F.lit(1)).alias("n"))
    assert per_key.filter(F.col("n") > 5).isEmpty()
    # Determinism: two runs give identical rows.
    again = events_rate_limited_sample(spark, SF)
    assert out.exceptAll(again).isEmpty() and again.exceptAll(out).isEmpty()
    spark.catalog.clearCache()


def test_systematic_sample_weight_proportional(spark):
    """Stride sampling invariants: total picks = floor(total_weight /
    step) (within the boundary document), every document's pick count
    equals the number of stride boundaries inside its weight span,
    and a document twice the step weight is always picked at least
    twice."""
    from pyspark.sql import functions as F

    from pangenomesasgraphdatabases_spark.queries.pipeline_q import (
        _SYS_K,
        doc_weighted_systematic_sample,
    )

    sf = "/root/testdata/sf0.01"
    out = doc_weighted_systematic_sample(spark, sf).cache()
    rows = sorted(out.collect(), key=lambda r: r.cum_w)
    tw = rows[-1].cum_w
    step = max(tw // _SYS_K, 1)
    assert sum(r.n_picks for r in rows) == tw // step
    for r in rows:
        lo, hi = r.cum_w - r.wt, r.cum_w
        assert r.n_picks == hi // step - lo // step
        assert r.selected == (r.n_picks > 0)
        if r.wt >= 2 * step:
            assert r.n_picks >= 2
    # Selection count is near the target: at most K, at least K/2
    # (picks can only be "lost" to multi-pick heavy docs).
    n_sel = sum(1 for r in rows if r.selected)
    assert n_sel <= _SYS_K
    assert n_sel >= _SYS_K // 2
    spark.catalog.clearCache()


def test_hilbert_reference_properties():
    """The defining Hilbert properties at two resolutions:
    bijectivity and unit-stride adjacency (consecutive indexes are
    grid neighbours) — what Z-order does NOT have."""
    from pangenomesasgraphdatabases_spark.operators.hilbert import hilbert_d_py

    for bits in (3, 4):
        n = 1 << bits
        pos = {}
        for x in range(n):
            for y in range(n):
                pos[hilbert_d_py(x, y, bits)] = (x, y)
        assert len(pos) == n * n
        for d in range(n * n - 1):
            (x1, y1), (x2, y2) = pos[d], pos[d + 1]
            assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_hilbert_spark_matches_reference(spark):
    """The unrolled selectExpr chain equals the Python reference on
    the full 16x16 grid."""
    from pangenomesasgraphdatabases_spark.operators.hilbert import (
        hilbert_d_py,
        with_hilbert_index,
    )

    bits = 4
    n = 1 << bits
    df = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], "x long, y long"
    )
    got = {
        (r.x, r.y): r.hval
        for r in with_hilbert_index(df, "x", "y", bits).collect()
    }
    for (x, y), hv in got.items():
        assert hv == hilbert_d_py(x, y, bits)


def test_hilbert_tighter_file_bounds_than_zorder():
    """The layout claim, measured: with file counts ALIGNED to the
    power-of-4 recursion both curves tile identical rectangles (the
    honest caveat), but for every unaligned count — the real-world
    case, where file count is set by target file size, not the curve
    — Hilbert's unit-stride adjacency gives strictly smaller summed
    per-file bounding boxes than Morton's seam-jumping Z."""
    from pangenomesasgraphdatabases_spark.operators.hilbert import hilbert_d_py

    def morton(x, y, bits):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    bits = 5
    n = 1 << bits

    def bbox_area_sum(index_fn, files):
        boxes = {}
        for x in range(n):
            for y in range(n):
                f = index_fn(x, y, bits) * files // (n * n)
                lo = boxes.get(f)
                if lo is None:
                    boxes[f] = [x, x, y, y]
                else:
                    lo[0] = min(lo[0], x); lo[1] = max(lo[1], x)
                    lo[2] = min(lo[2], y); lo[3] = max(lo[3], y)
        return sum(
            (b[1] - b[0] + 1) * (b[3] - b[2] + 1) for b in boxes.values()
        )

    assert bbox_area_sum(hilbert_d_py, 16) == bbox_area_sum(morton, 16)
    for files in (3, 5, 6, 7, 12, 24):
        assert bbox_area_sum(hilbert_d_py, files) < bbox_area_sum(
            morton, files
        ), files


def test_merge_into_semantics(spark):
    """MERGE semantics row-by-row: deletes gone, updates repriced at
    110 cents-per-unit, inserts present at offset keys with src
    'inserted', untouched rows intact — and the next snapshot's size
    equals base - deletes + inserts."""
    from pyspark.sql import functions as F

    from pangenomesasgraphdatabases_spark.data import table
    from pangenomesasgraphdatabases_spark.queries.pipeline_q import (
        orders_merge_into,
    )

    sf = "/root/testdata/sf0.001"
    out = {r.o_orderkey: r for r in orders_merge_into(spark, sf).collect()}
    base = {
        r.o_orderkey: r
        for r in table(spark, sf, "orders")
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("pc"),
            F.round(F.col("o_totalprice") * 110).cast("bigint").alias("pc110"),
        )
        .collect()
    }
    n_del = n_upd = n_ins = 0
    for k, b in base.items():
        if k % 17 == 0:
            assert k not in out, "deleted row survived"
            n_del += 1
        elif k % 13 == 0:
            assert out[k].price_cents == b.pc110 and out[k].src == "updated"
            n_upd += 1
        else:
            assert out[k].price_cents == b.pc and out[k].src == "kept"
        if k % 19 == 0:
            ins = out[k + 100000000]
            assert ins.src == "inserted" and ins.price_cents == b.pc
            assert ins.o_custkey == -1
            n_ins += 1
    assert len(out) == len(base) - n_del + n_ins
    assert n_del > 0 and n_upd > 0 and n_ins > 0


def test_snapshot_diff_is_change_sized_and_consistent(spark):
    """The diff must contain exactly the merge's deletions (removed),
    repricings (changed, old != new), and insertions (added) — and
    nothing else."""
    from pangenomesasgraphdatabases_spark.queries.pipeline_q import (
        orders_snapshot_diff,
    )

    sf = "/root/testdata/sf0.001"
    rows = orders_snapshot_diff(spark, sf).collect()
    base_keys = {
        r.o_orderkey
        for r in spark.read.parquet(f"{sf}/orders.parquet")
        .select("o_orderkey")
        .collect()
    }
    for r in rows:
        if r.change == "removed":
            assert r.o_orderkey % 17 == 0 and r.new_price_cents is None
        elif r.change == "changed":
            assert r.o_orderkey % 13 == 0 and r.o_orderkey % 17 != 0
            assert r.old_price_cents != r.new_price_cents
        else:
            assert r.change == "added"
            assert (r.o_orderkey - 100000000) in base_keys
            assert r.old_price_cents is None
    want_removed = sum(1 for k in base_keys if k % 17 == 0)
    want_changed = sum(1 for k in base_keys if k % 13 == 0 and k % 17 != 0)
    want_added = sum(1 for k in base_keys if k % 19 == 0)
    got = {c: sum(1 for r in rows if r.change == c) for c in
           ("removed", "changed", "added")}
    assert got == {
        "removed": want_removed, "changed": want_changed, "added": want_added,
    }


def test_snake_shards_balance_beats_round_robin(spark):
    """The boustrophedon deal must spread total tokens across shards
    at least as evenly as round-robin on the same ranked order (the
    bias it exists to remove), and cover all 16 shards."""
    from pangenomesasgraphdatabases_spark.queries.pipeline_q import (
        _N_SHARDS,
        doc_token_snake_shards,
    )

    rows = doc_token_snake_shards(spark, SF).collect()
    assert len(rows) == _N_SHARDS
    snake_loads = sorted(r.shard_tokens for r in rows)
    snake_spread = snake_loads[-1] - snake_loads[0]

    # round-robin reference on the identical ranking
    from pyspark.sql import Window

    d = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(
            "doc_id",
            F.size(F.split(F.trim("text"), " ")).cast("bigint").alias("t"),
        )
    )
    w = Window.orderBy(F.desc("t"), "doc_id")
    rr = (
        d.select("t", ((F.row_number().over(w) - 1) % _N_SHARDS).alias("s"))
        .groupBy("s")
        .agg(F.sum("t").alias("load"))
        .collect()
    )
    rr_loads = sorted(r.load for r in rr)
    rr_spread = rr_loads[-1] - rr_loads[0]
    assert snake_spread <= rr_spread
    # conservation: both deals partition the same token total
    assert sum(snake_loads) == sum(rr_loads)


def test_freshness_lag_percentiles_match_sorted_index(spark):
    """The integer ceil-index formula must pick exactly the
    ceil(q*n)-th smallest lag per group (checked against a plain
    python sort of the same derived lags)."""
    import math

    from pangenomesasgraphdatabases_spark.queries.events_q import (
        events_freshness_lag,
    )

    got = {r.event_type: r for r in events_freshness_lag(spark, SF).collect()}
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("event_type", "event_id")
        .collect()
    )
    by_type: dict[str, list[int]] = {}
    for r in ev:
        by_type.setdefault(r.event_type, []).append(
            ((r.event_id % 100003) * 7919) % 5000
        )
    for etype, lags in by_type.items():
        lags.sort()
        n = len(lags)
        row = got[etype]
        assert row.n_events == n
        assert row.p50_ms == lags[math.ceil(n * 50 / 100) - 1]
        assert row.p95_ms == lags[math.ceil(n * 95 / 100) - 1]
        assert row.p99_ms == lags[math.ceil(n * 99 / 100) - 1]
        assert row.max_ms == lags[-1]
