"""Structured Streaming parity: AvailableNow streaming result equals
the batch aggregation (labeled engine extension, SURVEY.md 2.9)."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def stream_df(spark):
    from pangenomesasgraphdatabases_spark.streaming.events import events_stream

    return events_stream(spark, SF)


def test_tumbling_stream_matches_batch(spark, stream_df):
    from pangenomesasgraphdatabases_spark.queries.events_q import (
        events_tumbling_counts,
    )
    from pangenomesasgraphdatabases_spark.streaming.events import (
        run_available_now,
        tumbling_counts_stream,
    )

    got = run_available_now(tumbling_counts_stream(stream_df), spark)
    want = events_tumbling_counts(spark, SF)
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w


def test_session_window_stream_runs(spark, stream_df):
    from pangenomesasgraphdatabases_spark.streaming.events import (
        run_available_now,
        session_window_stream,
    )

    out = run_available_now(session_window_stream(stream_df), spark)
    rows = out.collect()
    assert len(rows) > 0
    assert all(r.session_end >= r.session_start for r in rows)
    assert all(r.n_events >= 1 for r in rows)


def test_dedup_stream_drops_planted_redeliveries(spark, tmp_path):
    """Planted duplicate rows must collapse to one survivor per
    fingerprint; distinct fingerprints all survive."""
    import datetime

    from pyspark.sql import functions as F

    from pangenomesasgraphdatabases_spark.streaming.events import (
        dedup_stream,
        run_available_now,
    )

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    rows = []
    for i in range(20):
        ts = t0 + datetime.timedelta(minutes=i % 5)
        # i % 10 => each payload delivered exactly twice
        rows.append((i, ts, f"u{i % 10}", "click", float(i % 10)))
    src = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    path = str(tmp_path / "events_dup")
    src.coalesce(1).write.parquet(path)

    stream = (
        spark.readStream.schema(src.schema).format("parquet").load(path)
    )
    got = run_available_now(
        dedup_stream(stream), spark, output_mode="append"
    )
    fps = [r.fingerprint for r in got.collect()]
    assert len(fps) == 10 and len(set(fps)) == 10


def test_sliding_stream_matches_batch(spark, stream_df):
    from pangenomesasgraphdatabases_spark.queries.events_q import events_sliding_avg
    from pangenomesasgraphdatabases_spark.streaming.events import (
        run_available_now,
        sliding_counts_stream,
    )

    got = run_available_now(sliding_counts_stream(stream_df), spark)
    want = events_sliding_avg(spark, SF)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_interval_join_stream_matches_batch_join(spark, stream_df):
    """Stream-stream inner join (both sides watermarked, time-bounded
    condition) emits exactly the batch join's pairs under AvailableNow."""
    from pyspark.sql import functions as F

    from pangenomesasgraphdatabases_spark.data import table
    from pangenomesasgraphdatabases_spark.streaming.events import (
        interval_join_stream,
        run_available_now,
    )

    got = run_available_now(
        interval_join_stream(stream_df), spark, output_mode="append"
    )
    e = table(spark, SF, "events")
    clicks = e.filter("event_type = 'click'").select(
        F.col("user_id").alias("u"), F.col("event_id").alias("c"), F.col("ts").alias("cts")
    )
    purch = e.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("p"), F.col("ts").alias("pts")
    )
    want = clicks.join(
        purch,
        (F.col("u") == F.col("pu"))
        & (F.col("pts") >= F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        "u", "c", "p", (F.unix_micros("pts") - F.unix_micros("cts")).alias("g")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_asof_join_picks_first_purchase_on_ties(spark):
    """events_asof_join keeps exactly one purchase per click — the
    earliest, with event_id breaking timestamp ties."""
    import datetime as dt

    from pangenomesasgraphdatabases_spark.queries.events_q import events_asof_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0, tzinfo=dt.timezone.utc)

    def row(eid, ts, user, typ):
        # data.table expects events.ts stored as NANOS-as-long
        return (eid, int(ts.timestamp() * 1_000_000) * 1000, user, typ, 1.0, "{}")

    rows = [
        row(1, t0, 7, "click"),
        row(2, t0 + dt.timedelta(minutes=5), 7, "purchase"),
        row(3, t0 + dt.timedelta(minutes=5), 7, "purchase"),  # ts tie
        row(4, t0 + dt.timedelta(minutes=40), 7, "purchase"),  # past horizon
        row(5, t0, 8, "click"),  # no purchase at all
    ]
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        df = spark.createDataFrame(
            rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        df.write.parquet(tmp + "/events.parquet")
        out = events_asof_join(spark, tmp).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.click_id, r.purchase_id) == (1, 2), "earliest purchase, id tiebreak"
    assert r.gap_us == 5 * 60 * 1_000_000


def test_funnel_depth_requires_temporal_order(spark):
    """A click BEFORE the signup must not advance the funnel."""
    import datetime as dt
    import tempfile

    from pangenomesasgraphdatabases_spark.queries.events_q import (
        events_funnel_depth,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0, tzinfo=dt.timezone.utc)

    def row(eid, minutes, user, typ):
        ts = t0 + dt.timedelta(minutes=minutes)
        return (eid, int(ts.timestamp() * 1_000_000) * 1000, user, typ, 1.0, "{}")

    rows = [
        # user 1: full ordered funnel
        row(1, 0, 1, "signup"), row(2, 5, 1, "click"), row(3, 9, 1, "purchase"),
        # user 2: click precedes signup -> depth stalls at 1
        row(4, 0, 2, "click"), row(5, 5, 2, "signup"),
        # user 3: purchase before click -> depth 2
        row(6, 0, 3, "signup"), row(7, 2, 3, "purchase"), row(8, 5, 3, "click"),
        # user 4: never signs up -> depth 0
        row(9, 0, 4, "view"),
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
        ).write.parquet(tmp + "/events.parquet")
        got = {r.user_id: r.funnel_depth
               for r in events_funnel_depth(spark, tmp).collect()}
    assert got == {1: 3, 2: 1, 3: 2, 4: 0}


def test_windowed_topk_stream_matches_batch(spark):
    """foreachBatch re-ranking twin produces exactly the batch top-k."""
    from pangenomesasgraphdatabases_spark.queries.events_q import events_windowed_topk
    from pangenomesasgraphdatabases_spark.streaming.events import (
        events_stream,
        windowed_topk_stream,
    )

    q, ranked = windowed_topk_stream(events_stream(spark, SF), spark)
    assert q.awaitTermination(120)
    got = ranked(3)
    want = events_windowed_topk(spark, SF)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_stream_static_enrich_matches_batch(spark):
    """Stream-static broadcast join: the streaming complete-mode
    result equals the batch join+agg, and the static side is
    broadcast in the micro-batch plan (checked on the batch twin of
    the same composition)."""
    from pyspark.sql import functions as F

    from pangenomesasgraphdatabases_spark.data import table
    from pangenomesasgraphdatabases_spark.queries.events_q import (
        stream_static_enrich,
    )
    from pangenomesasgraphdatabases_spark.streaming.events import (
        static_enriched_stream,
    )

    got = stream_static_enrich(spark, SF)
    want = static_enriched_stream(
        table(spark, SF, "events"), table(spark, SF, "customer")
    )
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    # every event matches a customer (user space is a key-space prefix)
    n_events = table(spark, SF, "events").count()
    assert got.agg(F.sum("n_events")).collect()[0][0] == n_events
    plan = want._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_cms_never_undercounts_and_collides(spark):
    """CMS point queries must never undercount (min over hashed cells
    bounds the true count from above) and the 128-cell width against
    150 users guarantees at least one collision (overcount > 0), so
    the invariant column is non-vacuous."""
    from pyspark.sql import functions as F

    from pangenomesasgraphdatabases_spark.queries.events_q import (
        events_cms_counts,
    )

    sf = "/root/testdata/sf0.01"  # enough users to force a collision
    out = events_cms_counts(spark, sf).cache()
    assert out.filter(~F.col("never_undercounts")).isEmpty()
    assert out.filter(F.col("overcount") > 0).count() >= 1
    # Total exact mass equals the event count.
    n = spark.read.parquet(f"{sf}/events.parquet").count()
    assert out.agg(F.sum("exact_n")).collect()[0][0] == n
    spark.catalog.clearCache()


def test_cms_parameterized_widths(spark):
    """cms_counts at two (depth, width) shapes (VERDICT r5 #6): the
    est >= exact invariant holds at any shape; a tiny width forces
    heavy collisions (large overcounts) while a wide sketch over few
    keys estimates exactly — the eps = e/width error bound moving."""
    from pyspark.sql import functions as F

    from pangenomesasgraphdatabases_spark.queries.events_q import cms_counts

    df = spark.createDataFrame(
        [(i % 40,) for i in range(4000)], "user_id long"
    )
    narrow = cms_counts(df, "user_id", depth=2, width=4).cache()
    wide = cms_counts(df, "user_id", depth=4, width=4096).cache()
    for out in (narrow, wide):
        assert out.count() == 40
        assert out.filter(~F.col("never_undercounts")).isEmpty()
        assert out.agg(F.sum("exact_n")).collect()[0][0] == 4000
    # 40 keys into 4 cells: pigeonhole guarantees collisions.
    assert narrow.filter(F.col("overcount") > 0).count() >= 1
    # 40 keys into 4096 cells x 4 rows: one collision-free row is
    # near-certain, and min() makes the estimate exact then.
    assert wide.filter(F.col("overcount") > 0).isEmpty()
    spark.catalog.clearCache()


def test_hll_accuracy_and_merge(spark):
    """HLL registers merge by MAX across arbitrary shards (the
    mergeable-sketch property the 100 TB path relies on): building one
    sketch over the whole frame and max-merging two half-frame
    sketches must give IDENTICAL registers, hence identical estimates;
    and the estimate lands within 3 standard errors (1.04/sqrt(m)) of
    the true cardinality in the raw regime."""
    from pyspark.sql import functions as F

    from pangenomesasgraphdatabases_spark.queries.events_q import (
        hll_distinct,
        hll_registers,
    )

    n = 5000
    df = spark.createDataFrame(
        [(i, "g",) for i in range(n)], "k long, grp string"
    )
    out = hll_distinct(df, "k", ["grp"], p=6).collect()[0]
    assert out["exact_distinct"] == n
    se = 1.04 / (64 ** 0.5)
    assert abs(out["est_distinct"] - n) <= 3 * se * n
    assert out["rel_err_bp"] == abs(out["est_distinct"] - n) * 10000 // n

    whole = hll_registers(df, "k", ["grp"], p=6)
    halves = (
        hll_registers(df.filter(F.col("k") % 2 == 0), "k", ["grp"], p=6)
        .unionByName(hll_registers(df.filter(F.col("k") % 2 == 1), "k", ["grp"], p=6))
        .groupBy("grp", "reg")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    assert sorted(map(tuple, whole.collect())) == sorted(
        map(tuple, halves.collect())
    )


def test_hll_zero_registers_small_range(spark):
    """Below ~2.5m distinct keys the raw estimator is biased low and
    n_zero_registers > 0 flags it — the column callers use to detect
    the linear-counting regime the estimator deliberately omits."""
    from pangenomesasgraphdatabases_spark.queries.events_q import hll_distinct

    df = spark.createDataFrame([(i, "g") for i in range(20)], "k long, grp string")
    out = hll_distinct(df, "k", ["grp"], p=6).collect()[0]
    assert out["exact_distinct"] == 20
    assert out["n_zero_registers"] > 0


def test_gap_fill_dense_spine_and_locf(spark):
    """Gap filling: the spine is dense (every type x every 15-min
    bucket in range), zero-event buckets are exactly the filled ones,
    and LOCF equals the latest preceding observed average."""
    from pyspark.sql import functions as F

    from pangenomesasgraphdatabases_spark.queries.events_q import (
        events_gap_fill,
    )

    out = events_gap_fill(spark, SF).cache()
    n_types = out.select("event_type").distinct().count()
    lo, hi = out.agg(F.min("bucket"), F.max("bucket")).collect()[0]
    n_buckets = (hi - lo) // 900 + 1
    assert out.count() == n_types * n_buckets
    assert out.filter(
        (F.col("n_events") == 0) != F.col("filled")
    ).isEmpty()
    # LOCF correctness on one type, replayed in python.
    rows = sorted(
        out.filter(F.col("event_type") == "click").collect(),
        key=lambda r: r.bucket,
    )
    assert len(rows) == n_buckets
    last = None
    for r in rows:
        if not r.filled:
            last = r.avg_micro_locf
        assert r.avg_micro_locf == last
    spark.catalog.clearCache()


def test_scd2_intervals_partition_time(spark):
    """SCD2 versions per user: non-overlapping, contiguous at change
    points, exactly one open (is_current) version per user, and
    consecutive versions always change value."""
    from collections import defaultdict

    from pangenomesasgraphdatabases_spark.queries.events_q import (
        events_scd2_intervals,
    )

    by_user = defaultdict(list)
    for r in events_scd2_intervals(spark, SF).collect():
        by_user[r.user_id].append(r)
    assert by_user
    maxlong = 9223372036854775807
    for uid, rows in by_user.items():
        rows.sort(key=lambda r: r.valid_from)
        assert sum(r.is_current for r in rows) == 1
        assert rows[-1].is_current and rows[-1].valid_to == maxlong
        for a, b in zip(rows, rows[1:]):
            assert a.valid_to == b.valid_from  # contiguous, no overlap
            assert a.value_micro != b.value_micro


def test_heavy_hitters_guarantee(spark):
    """CMS heavy hitters: est >= exact makes the reporter one-sided —
    every exact-heavy user is est-heavy (no_false_negative uniformly
    true), and the threshold is the integer phi * N."""
    from pyspark.sql import functions as F

    from pangenomesasgraphdatabases_spark.queries.events_q import (
        events_heavy_hitters,
    )

    sf = "/root/testdata/sf0.01"
    out = events_heavy_hitters(spark, sf).cache()
    assert out.filter(~F.col("no_false_negative")).isEmpty()
    n = spark.read.parquet(f"{sf}/events.parquet").count()
    assert out.select("threshold_n").distinct().collect()[0][0] == n // 200
    # Flags are consistent with the carried exact/est columns.
    bad = out.filter(
        (F.col("is_heavy_exact") != (F.col("exact_n") >= F.col("threshold_n")))
        | (F.col("is_heavy_est") != (F.col("est_n") >= F.col("threshold_n")))
    )
    assert bad.isEmpty()
    spark.catalog.clearCache()


def test_ewma_dyadic_weights(spark):
    """EWMA invariants: a user's first purchase has den=128 and
    ewma = its own value; a full 8-deep window has den=255; and every
    row's num/den match the explicit weighted fold of that user's
    ordered history."""
    from pyspark.sql import functions as F

    from pangenomesasgraphdatabases_spark.data import table
    from pangenomesasgraphdatabases_spark.queries.events_q import (
        _EWMA_W,
        events_ewma_value,
    )

    sf = "/root/testdata/sf0.001"
    out = {r.event_id: r for r in events_ewma_value(spark, sf).collect()}

    hist = (
        table(spark, sf, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.round(F.col("value") * 1_000_000).cast("bigint").alias("vm"),
            "ts_ns",
        )
        .collect()
    )
    by_user = {}
    for r in sorted(hist, key=lambda r: (r.user_id, r.ts_ns, r.event_id)):
        by_user.setdefault(r.user_id, []).append(r)
    assert len(out) == len(hist)
    for user, rows in by_user.items():
        for idx, r in enumerate(rows):
            got = out[r.event_id]
            num = den = 0
            for i in range(min(_EWMA_W, idx + 1)):
                wt = 1 << (_EWMA_W - 1 - i)
                num += rows[idx - i].vm * wt
                den += wt
            assert (got.ewma_num, got.ewma_den) == (num, den), r.event_id
            assert got.ewma_micro == num // den
            if idx == 0:
                assert got.ewma_den == 1 << (_EWMA_W - 1)
                assert got.ewma_micro == r.vm
            if idx >= _EWMA_W - 1:
                assert got.ewma_den == (1 << _EWMA_W) - 1


def test_stream_hll_matches_batch(spark):
    """The streaming register build (incremental groupBy max under
    AvailableNow) must produce byte-identical estimates to the batch
    HLL — register determinism is what makes the sketch portable
    across execution modes."""
    from pangenomesasgraphdatabases_spark.queries.events_q import (
        events_hll_distinct,
        stream_hll_distinct,
    )

    got = sorted(map(tuple, stream_hll_distinct(spark, SF).collect()))
    want = sorted(map(tuple, events_hll_distinct(spark, SF).collect()))
    assert got == want


def test_quantile_histogram_merge_and_guarantee(spark):
    """The fixed-grid histogram must merge by addition (partial
    histograms from two shards sum to the whole-frame histogram), the
    guarantee column is uniformly true, and the exact k-th statistic
    never exceeds the bucket's upper edge."""
    from pyspark.sql import functions as F

    from pangenomesasgraphdatabases_spark.data import table
    from pangenomesasgraphdatabases_spark.queries.events_q import (
        _QH_SHIFT,
        events_quantile_histogram,
    )

    out = events_quantile_histogram(spark, SF).collect()
    assert len(out) == 5 * 3  # event types x quantiles
    for r in out:
        assert r.in_est_bucket
        assert r.exact_micro <= r.est_hi_micro
        assert r.exact_micro > r.est_hi_micro - (1 << _QH_SHIFT)

    # Additive merge of partial histograms.
    v = table(spark, SF, "events").select(
        "event_type",
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("vm"),
        "event_id",
    )
    def hist(df):
        return df.groupBy(
            "event_type", F.expr(f"vm div {1 << _QH_SHIFT}").alias("bucket")
        ).agg(F.count(F.lit(1)).alias("n"))

    whole = {(r.event_type, r.bucket): r.n for r in hist(v).collect()}
    parts = {}
    for half in (v.filter("event_id % 2 = 0"), v.filter("event_id % 2 = 1")):
        for r in hist(half).collect():
            key = (r.event_type, r.bucket)
            parts[key] = parts.get(key, 0) + r.n
    assert whole == parts


def test_exact_median_2pass_matches_sort(spark):
    """The two-pass median must equal the brute-force sorted median
    for every group, and the ranked second pass must touch only one
    bucket's rows per group."""
    from pyspark.sql import functions as F

    from pangenomesasgraphdatabases_spark.data import table
    from pangenomesasgraphdatabases_spark.queries.events_q import (
        events_exact_median_2pass,
    )

    out = {r.event_type: r for r in events_exact_median_2pass(spark, SF).collect()}
    vm = (
        table(spark, SF, "events")
        .select(
            "event_type",
            F.round(F.col("value") * 1_000_000).cast("bigint").alias("vm"),
        )
        .collect()
    )
    by_type = {}
    for r in vm:
        by_type.setdefault(r.event_type, []).append(r.vm)
    assert set(out) == set(by_type)
    for t, vals in by_type.items():
        vals.sort()
        k = (len(vals) + 1) // 2
        assert out[t].n == len(vals)
        assert out[t].k == k
        assert out[t].median_micro == vals[k - 1], t


def test_stream_quantile_histogram_matches_batch(spark):
    """Additive-merge symmetry: the streaming histogram build must be
    hash-identical to the batch sketch."""
    from pangenomesasgraphdatabases_spark.queries.events_q import (
        events_quantile_histogram,
        stream_quantile_histogram,
    )

    got = sorted(map(tuple, stream_quantile_histogram(spark, SF).collect()))
    want = sorted(map(tuple, events_quantile_histogram(spark, SF).collect()))
    assert got == want


def test_forget_cascade_retraction_equals_filter(spark):
    """rollup(all) - rollup(tombstoned) == rollup(remaining), and the
    tombstone set is non-empty (else the proof is vacuous)."""
    from pyspark.sql import functions as F

    from pangenomesasgraphdatabases_spark.data import table
    from pangenomesasgraphdatabases_spark.queries.pipeline_q import (
        user_forget_cascade,
    )

    e = table(spark, SF, "events")
    assert e.filter(F.col("user_id") % 97 == 0).count() > 0
    got = sorted(map(tuple, user_forget_cascade(spark, SF).collect()))
    want = sorted(
        map(
            tuple,
            e.filter(F.col("user_id") % 97 != 0)
            .groupBy(
                F.unix_timestamp(F.date_trunc("hour", "ts")).alias("b"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(F.round(F.col("value") * 1_000_000).cast("bigint"))
                .cast("bigint")
                .alias("s"),
            )
            .collect(),
        )
    )
    assert got == want


def test_windowed_hll_rollup_answers_from_sketches(spark):
    """The window estimate must equal an HLL built DIRECTLY on the
    window's raw members (merge-from-buckets loses nothing), and the
    exact tier must match a brute-force window distinct count."""
    from pyspark.sql import functions as F

    from pangenomesasgraphdatabases_spark.data import table
    from pangenomesasgraphdatabases_spark.queries.events_q import (
        _WHLL_P,
        events_windowed_hll_rollup,
        hll_distinct,
    )

    out = {r.window_start: r for r in events_windowed_hll_rollup(spark, SF).collect()}
    assert out, "windows exist"
    e = table(spark, SF, "events").select(
        F.expr("((ts_ns div 1000000000) div 900) * 900").alias("bucket"),
        F.col("user_id").alias("k"),
    )
    exploded = e.select(
        F.explode(F.array(*[F.lit(o) for o in (0, 900, 1800, 2700)])).alias("o"),
        "bucket",
        "k",
    ).select((F.col("bucket") - F.col("o")).alias("window_start"), "k")
    direct = {
        r.window_start: r
        for r in hll_distinct(exploded, "k", ["window_start"], _WHLL_P).collect()
    }
    assert set(out) == set(direct)
    for w, r in out.items():
        assert r.est_distinct == direct[w].est_distinct, w
        assert r.exact_distinct == direct[w].exact_distinct, w


def test_attribution_first_last_and_count(spark):
    """Crafted history: purchase with 3 prior clicks inside 24h picks
    the earliest as first touch, the latest as last touch, counts 3;
    clicks outside the horizon or after the purchase don't count;
    purchases with no touch are absent."""
    import datetime as dt
    import tempfile

    from pangenomesasgraphdatabases_spark.queries.events_q import (
        events_attribution_touchpoints,
    )

    t0 = dt.datetime(2024, 1, 2, 12, 0, 0, tzinfo=dt.timezone.utc)

    def row(eid, hours, user, typ):
        ts = t0 + dt.timedelta(hours=hours)
        return (eid, int(ts.timestamp() * 1_000_000) * 1000, user, typ, 1.0, "{}")

    rows = [
        row(1, -30.0, 1, "click"),   # outside 24h horizon
        row(2, -5.0, 1, "click"),    # first touch
        row(3, -2.0, 1, "click"),
        row(4, -0.5, 1, "click"),    # last touch
        row(5, 0.0, 1, "purchase"),
        row(6, 1.0, 1, "click"),     # after purchase
        row(7, 0.0, 2, "purchase"),  # user 2: no clicks at all
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
        ).write.parquet(tmp + "/events.parquet")
        out = events_attribution_touchpoints(spark, tmp).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.purchase_id, r.first_touch_id, r.last_touch_id, r.n_touches) == (
        5, 2, 4, 3,
    )
    assert r.last_touch_age_us == int(0.5 * 3600 * 1_000_000)


def test_stream_cms_matches_batch(spark):
    """The streaming CMS cell build must be hash-identical to the
    batch sketch — additive merge symmetry, like the quantile
    histogram."""
    from pangenomesasgraphdatabases_spark.queries.events_q import (
        events_cms_counts,
        stream_cms_counts,
    )

    got = sorted(map(tuple, stream_cms_counts(spark, SF).collect()))
    want = sorted(map(tuple, events_cms_counts(spark, SF).collect()))
    assert got == want


def test_pit_features_no_leakage(spark):
    """Point-in-time correctness on a crafted history: the current
    event and same-second peers are NEVER in their own feature
    window; events beyond 7 days age out; the trailing stats match a
    Python replay."""
    import datetime as dt
    import tempfile

    from pangenomesasgraphdatabases_spark.queries.events_q import (
        events_pit_features,
    )

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0, tzinfo=dt.timezone.utc)

    def row(eid, days, user, val):
        ts = t0 + dt.timedelta(days=days)
        return (
            eid,
            int(ts.timestamp() * 1_000_000) * 1000,
            user,
            "purchase",
            float(val),
            "{}",
        )

    rows = [
        row(1, -10.0, 1, 100),  # beyond 7d of everything later
        row(2, -3.0, 1, 10),
        row(3, -1.0, 1, 20),
        row(4, 0.0, 1, 30),     # same second as 5
        row(5, 0.0, 1, 40),     # same second as 4
    ]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
        ).write.parquet(tmp + "/events.parquet")
        out = {r.event_id: r for r in events_pit_features(spark, tmp).collect()}

    assert out[1].n_prior_7d == 0 and out[1].avg_prior_7d_micro is None
    # event 1 sits EXACTLY 7 days before event 2: the RANGE bound is
    # inclusive, so it is still visible there...
    assert out[2].n_prior_7d == 1 and out[2].sum_prior_7d_micro == 100_000_000
    # ...and aged out two days later.
    assert out[3].n_prior_7d == 1 and out[3].sum_prior_7d_micro == 10_000_000
    # events 4 and 5 share a second: each sees ONLY events 2 and 3.
    for eid in (4, 5):
        assert out[eid].n_prior_7d == 2
        assert out[eid].sum_prior_7d_micro == 30_000_000
        assert out[eid].avg_prior_7d_micro == 15_000_000


def test_seasonal_profile_partitions_and_lift(spark):
    """Per type: hour counts sum to the type total, lift averages to
    ~1000 milli (uniform-split normalization), and means are the
    exact integer division of the per-cell sums."""
    from pyspark.sql import functions as F

    from pangenomesasgraphdatabases_spark.data import table
    from pangenomesasgraphdatabases_spark.queries.events_q import (
        events_seasonal_profile,
    )

    rows = events_seasonal_profile(spark, SF).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    e = table(spark, SF, "events")
    totals = {
        r.event_type: r.n
        for r in e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for t, rs in by_type.items():
        assert sum(r.n_events for r in rs) == totals[t]
        assert 0 <= len(rs) <= 24
        mean_lift = sum(r.volume_lift_milli for r in rs) / len(rs)
        assert abs(mean_lift - 1000) < 50


def test_autocorr_bounded_and_exact(spark):
    """autocorr_milli stays in [-1000, 1000] + truncation slack, and
    matches a Fraction recomputation from the bucket series."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from pangenomesasgraphdatabases_spark.data import table
    from pangenomesasgraphdatabases_spark.queries.events_q import (
        events_autocorr_lag1,
    )

    rows = {r.event_type: r for r in events_autocorr_lag1(spark, SF).collect()}
    e = table(spark, SF, "events")
    buckets = (
        e.groupBy(
            "event_type",
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("x"))
        .collect()
    )
    series = {}
    for r in buckets:
        series.setdefault(r.event_type, []).append((r.b, r.x))
    for t, pts in series.items():
        xs = [x for _, x in sorted(pts)]
        n = len(xs)
        sx = sum(xs)
        sxx = sum(x * x for x in xs)
        sxxp = sum(a * b for a, b in zip(xs[1:], xs[:-1]))
        got = rows[t]
        assert (got.n, got.sx, got.sxx, got.sxxp) == (n, sx, sxx, sxxp)
        want = int(Fraction(n * sxxp - sx * sx, n * sxx - sx * sx) * 1000)
        assert got.autocorr_milli == want
        assert -1100 <= got.autocorr_milli <= 1100


def test_windowed_heavy_hitters_guarantee_per_window(spark):
    """The one-sided CMS guarantee must hold inside EVERY window, and
    per-window exact masses reconcile with the window totals."""
    from pyspark.sql import functions as F

    from pangenomesasgraphdatabases_spark.queries.events_q import (
        events_windowed_heavy_hitters,
    )

    out = events_windowed_heavy_hitters(spark, SF).cache()
    assert out.filter(~F.col("no_false_negative")).isEmpty()
    assert out.filter(F.col("est_n") < F.col("exact_n")).isEmpty()
    recon = (
        out.groupBy("window_start", "n_window")
        .agg(F.sum("exact_n").alias("mass"))
        .filter(F.col("mass") != F.col("n_window"))
    )
    assert recon.isEmpty()
    spark.catalog.clearCache()
