"""Windowed/sessionized analytics over the `events` table.

Engine extension (the reference is batch-only, SURVEY.md section 2.9):
the batch forms of the streaming operators — tumbling/sliding window
aggregation, gap-based sessionization, JSON prop extraction.  The
Structured Streaming forms (readStream + watermark) live in
pangenomesasgraphdatabases_spark.streaming.events and are tested for
batch-parity in tests/test_streaming.py.

Timestamps are compared as epoch seconds (bigint) so Spark/DuckDB
session-timezone differences cannot skew the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pangenomesasgraphdatabases_spark.data import table
from pangenomesasgraphdatabases_spark.queries.registry import register


@register(
    "events_tumbling_counts",
    oracle="""
    SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts)) AS BIGINT)
               AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS total_value_micro
    FROM events
    GROUP BY 1, 2
    """,
    tags=("ext-stream", "tumbling"),
)
def events_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling window counts per event type — the batch form
    of the streaming aggregation (extension).  Totals are exact
    fixed-point micros: summed integers are order-independent, while
    round(sum(double), 4) depends on engine/partition accumulation
    order (the r1 z-score lesson)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 1000000).cast("bigint")).alias(
                "total_value_micro"
            ),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "total_value_micro",
        )
    )


@register(
    "events_sliding_avg",
    oracle="""
    WITH buckets AS (
        SELECT e.*,
               CAST(epoch(time_bucket(INTERVAL '5 minutes', ts)) AS BIGINT)
                   - offs AS window_start
        FROM events e, (SELECT unnest([0, 300]) AS offs)
    )
    SELECT window_start, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               // count(*) AS avg_value_micro
    FROM buckets
    GROUP BY 1, 2
    """,
    tags=("ext-stream", "sliding"),
)
def events_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 minutes (each event lands in
    two windows) — batch form of the sliding streaming agg (extension).
    The average is emitted in exact fixed-point micros (integer sum of
    round(value*1e6), integer-divided by the count): at sf0.1 the true
    average of the generated values lands exactly on a 4-decimal
    rounding boundary, where Spark (decimal-string HALF_UP) and DuckDB
    (binary double) round differently — integer math cannot."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(
                "sum(CAST(round(value * 1000000) AS BIGINT))"
                " div count(1)"
            ).alias("avg_value_micro"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "avg_value_micro",
        )
    )


@register(
    "events_sessionize",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, epoch(ts) AS es,
               lag(epoch(ts)) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev_es
        FROM events
    ),
    marked AS (
        SELECT *, CASE WHEN prev_es IS NULL OR es - prev_es > 1800
                       THEN 1 ELSE 0 END AS new_session
        FROM ordered
    ),
    sess AS (
        SELECT user_id, event_id, es,
               sum(new_session) OVER (PARTITION BY user_id
                   ORDER BY es, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_no
        FROM marked
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(floor(min(es)) AS BIGINT) AS session_start,
           CAST(floor(max(es)) AS BIGINT) AS session_end
    FROM sess
    GROUP BY user_id, session_no
    """,
    tags=("ext-stream", "session"),
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + cumulative
    sum of session starts — the classic distributed sessionizer
    (extension; streaming twin = session_window in streaming/events.py).
    """
    e = table(spark, sf_dir, "events")
    # Epoch seconds from the exact nanos column.  ts_ns (~1.7e18)
    # exceeds double's 53-bit mantissa, so divide the exact integer
    # micros instead — one IEEE division by 1e6, the same operation
    # DuckDB's epoch(TIMESTAMP) performs, for bit-identical seconds.
    es = F.expr("ts_ns div 1000") / F.lit(1_000_000.0)
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    marked = e.select("user_id", "event_id", es.alias("es")).withColumn(
        "new_session",
        F.when(
            F.lag("es").over(w).isNull() | (F.col("es") - F.lag("es").over(w) > 1800),
            1,
        ).otherwise(0),
    )
    wsum = Window.partitionBy("user_id").orderBy("es", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = marked.withColumn("session_no", F.sum("new_session").over(wsum))
    return sess.groupBy("user_id", F.col("session_no").cast("bigint").alias("session_no")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.floor(F.min("es")).cast("bigint").alias("session_start"),
        F.floor(F.max("es")).cast("bigint").alias("session_end"),
    )


@register(
    "events_json_props",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
               AS total_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER)
               AS max_k
    FROM events
    GROUP BY event_type
    """,
    tags=("ext-stream", "json"),
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction + aggregation (extension; the reference
    has no JSON surface, SURVEY.md section 2.8 note)."""
    e = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).cast("bigint").alias("total_k"),
        F.max(k).alias("max_k"),
    )


@register(
    "stream_tumbling_counts",
    oracle="""
    SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts)) AS BIGINT)
               AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS total_value_micro
    FROM events
    GROUP BY 1, 2
    """,
    tags=("ext-stream", "streaming", "watermark"),
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming execution (readStream -> watermark ->
    window agg -> AvailableNow -> memory sink); with the full file as
    one micro-batch the complete-mode result equals the batch
    aggregation, so the batch oracle applies (extension)."""
    from pangenomesasgraphdatabases_spark.streaming.events import (
        events_stream,
        run_available_now,
        tumbling_counts_stream,
    )

    return run_available_now(tumbling_counts_stream(events_stream(spark, sf_dir)), spark)


@register(
    "stream_static_enrich",
    oracle="""
    SELECT c.c_mktsegment, e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(e.value * 1000000) AS BIGINT)) AS BIGINT)
               AS total_value_micro
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id + 1
    GROUP BY 1, 2
    """,
    tags=("ext-stream", "streaming", "stream-static-join"),
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming execution of the stream-static broadcast
    enrichment (streaming/events.static_enriched_stream): the events
    stream joins the customer dimension per micro-batch (stateless —
    no watermark or join state) and aggregates per (segment, type)
    with exact integer sums; with the file as one micro-batch the
    complete-mode store equals the batch join+agg, so the batch SQL
    oracles it (extension)."""
    from pangenomesasgraphdatabases_spark.data import table as _table
    from pangenomesasgraphdatabases_spark.streaming.events import (
        events_stream,
        run_available_now,
        static_enriched_stream,
    )

    return run_available_now(
        static_enriched_stream(
            events_stream(spark, sf_dir), _table(spark, sf_dir, "customer")
        ),
        spark,
    )


@register(
    "stream_interval_join",
    oracle="""
    SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id,
           CAST(epoch_us(b.ts) - epoch_us(a.ts) AS BIGINT) AS gap_us
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts
     AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
    tags=("ext-stream", "streaming", "stream-stream-join"),
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream join execution (two watermarked streams off
    the same source, time-bounded join condition, AvailableNow to a
    memory sink in append mode) — the conversion-attribution shape
    every event pipeline runs.  The time bound is what keeps join
    state finite; see streaming/events.interval_join_stream."""
    from pangenomesasgraphdatabases_spark.streaming.events import (
        events_stream,
        interval_join_stream,
        run_available_now,
    )

    return run_available_now(
        interval_join_stream(events_stream(spark, sf_dir)),
        spark,
        output_mode="append",
    )


@register(
    "events_asof_join",
    oracle="""
    WITH pairs AS (
        SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id,
               CAST(epoch_us(b.ts) - epoch_us(a.ts) AS BIGINT) AS gap_us,
               row_number() OVER (
                   PARTITION BY a.event_id
                   ORDER BY b.ts, b.event_id
               ) AS rn
        FROM events a
        JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'click' AND b.event_type = 'purchase'
         AND b.ts >= a.ts
         AND b.ts <= a.ts + INTERVAL 30 MINUTE
    )
    SELECT user_id, click_id, purchase_id, gap_us
    FROM pairs WHERE rn = 1
    """,
    tags=("ext-stream", "asof-join"),
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (extension): each click matched to the FIRST purchase
    within the 30-minute horizon — the operator kdb/Pandas `merge_asof`
    provide and Spark lacks natively, composed as range join + per-left
    row_number()=1.  The range join stays bounded (time-bucket + user
    key); ties break on (ts, event_id) so both engines pick the same
    purchase."""
    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    pairs = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("pts") >= F.col("cts"))
        & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 MINUTES")),
    )
    w = Window.partitionBy("click_id").orderBy("pts", "purchase_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "click_id",
            "purchase_id",
            (F.unix_micros("pts") - F.unix_micros("cts")).alias("gap_us"),
        )
    )


@register(
    "events_funnel_depth",
    oracle="""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t1
        GROUP BY e.user_id
    ), s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY e.user_id
    )
    SELECT u.user_id,
           CAST(CASE WHEN s3.user_id IS NOT NULL THEN 3
                     WHEN s2.user_id IS NOT NULL THEN 2
                     WHEN s1.user_id IS NOT NULL THEN 1
                     ELSE 0 END AS INTEGER) AS funnel_depth
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN s1 ON u.user_id = s1.user_id
    LEFT JOIN s2 ON u.user_id = s2.user_id
    LEFT JOIN s3 ON u.user_id = s3.user_id
    """,
    tags=("ext-stream", "funnel"),
)
def events_funnel_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (extension): how far each user advances
    through signup -> click -> purchase where every step must happen
    strictly AFTER the previous one (the sequential constraint is what
    distinguishes a funnel from three independent filters).  Expressed
    as cascaded earliest-qualifying-event aggregations — each step is
    one groupBy + join on user_id, so the whole funnel is a chain of
    co-partitioned shuffles on the same key (a cluster reuses the
    exchange), never a per-user sort of full histories."""
    e = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    users = e.select("user_id").distinct()
    depth = (
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        users.join(s1, "user_id", "left")
        .join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select("user_id", depth.cast("int").alias("funnel_depth"))
    )


@register(
    "events_anomaly_mad",
    oracle="""
    WITH v AS (
        SELECT event_type,
               CAST(round(value * 1000000) AS BIGINT) AS v
        FROM events
    ),
    med AS (
        SELECT event_type,
               quantile_cont(CAST(v AS DOUBLE), 0.5) AS med
        FROM v GROUP BY event_type
    ),
    a AS (
        SELECT v.event_type, v.v, med.med,
               abs(CAST(v.v AS DOUBLE) - med.med) AS adev
        FROM v JOIN med USING (event_type)
    ),
    mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM a GROUP BY event_type
    )
    SELECT a.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN a.adev > 3 * mad.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           min(a.med) AS med_micro,
           min(mad.mad) AS mad_micro
    FROM a JOIN mad USING (event_type)
    GROUP BY a.event_type
    """,
    tags=("ext-stream", "anomaly", "robust-stats"),
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type (extension): flag
    events whose |value - median| exceeds 3x the median absolute
    deviation — the MAD rule a telemetry pipeline uses where mean/
    stddev would be dragged by the outliers themselves.

    Exactness: values are quantized to integer micro-units first, so
    the exact medians (interpolated order statistics over an integer
    grid) are dyadic rationals both engines compute bit-identically —
    no accumulation-order sensitivity anywhere.  Scale shape: two
    grouped exact percentiles + two broadcast-sized joins (one row per
    event_type); the event log itself is scanned twice and never
    self-joined.  At 100 TB the exact percentile would be swapped for
    approx_percentile (sketch, one pass) — kept exact here because the
    driver gate hash-compares values."""
    v = table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 1000000).cast("bigint").alias("v"),
    )
    med = v.groupBy("event_type").agg(
        F.expr("percentile(CAST(v AS DOUBLE), 0.5)").alias("med")
    )
    a = v.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("v").cast("double") - F.col("med"))
    )
    mad = a.groupBy("event_type").agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    return (
        a.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("adev") > 3 * F.col("mad")).cast("bigint")).alias(
                "n_outliers"
            ),
            F.min("med").alias("med_micro"),
            F.min("mad").alias("mad_micro"),
        )
    )


@register(
    "events_windowed_topk",
    oracle="""
    WITH c AS (
        SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
                   AS window_start,
               event_type,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events, rk FROM (
        SELECT c.*,
               CAST(row_number() OVER (
                   PARTITION BY window_start
                   ORDER BY n_events DESC, event_type) AS BIGINT) AS rk
        FROM c
    ) WHERE rk <= 3
    """,
    tags=("ext-stream", "topk", "window"),
)
def events_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per 1-hour tumbling window (extension): the
    trending-now query.  Deterministic tie-break (count desc, then
    type asc).  Scale shape: the heavy aggregation shuffles on
    (window, type); the rank window then partitions by window only,
    but its input is already one row per (window, type) — bounded
    cardinality, never the raw event log."""
    e = table(spark, sf_dir, "events")
    c = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("window_start").orderBy(
            F.col("n_events").desc(), F.col("event_type")
        )
    )
    return (
        c.withColumn("rk", rk.cast("bigint"))
        .filter(F.col("rk") <= 3)
        .select("window_start", "event_type", "n_events", "rk")
    )


@register(
    "stream_windowed_topk",
    oracle="""
    WITH c AS (
        SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
                   AS window_start,
               event_type,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events, rk FROM (
        SELECT c.*,
               CAST(row_number() OVER (
                   PARTITION BY window_start
                   ORDER BY n_events DESC, event_type) AS BIGINT) AS rk
        FROM c
    ) WHERE rk <= 3
    """,
    tags=("ext-stream", "streaming", "topk", "foreachBatch"),
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming execution of the windowed top-k
    serving pattern: watermarked tumbling counts -> foreachBatch
    upsert into a global-view store -> rank on read (a second
    aggregation over an aggregated stream is unsupported as one
    incremental query, so the composition IS the operator — see
    streaming/events.windowed_topk_stream).  With the file as one
    micro-batch the store equals the batch counts, so the batch
    ranking SQL oracles it (extension)."""
    from pangenomesasgraphdatabases_spark.streaming.events import (
        events_stream,
        windowed_topk_stream,
    )

    q, ranked = windowed_topk_stream(events_stream(spark, sf_dir), spark)
    if not q.awaitTermination(120):
        raise TimeoutError("windowed_topk stream did not finish in 120s")
    return ranked(3)


@register(
    "events_incremental_rollup",
    oracle="""
    SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
               AS bucket_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS sum_value_micro,
           CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               // count(*) AS avg_value_micro
    FROM events
    GROUP BY 1, 2
    """,
    tags=("ext-stream", "rollup", "incremental"),
)
def events_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate refresh proven against the full rescan:
    the event log is split into 'history' and 'new batch' (a
    content-independent modulus of event_id), each side rolled up
    INDEPENDENTLY in partial form, and the stored rollup merged with
    the batch rollup (operators/rollup_inc).  The oracle is the full
    one-shot rollup — the driver hash verifies the defining algebraic
    property merge(rollup(A), rollup(B)) == rollup(A ∪ B) on real
    data, not just in pytest.

    Scale shape: history is NEVER rescanned at refresh time in the
    real deployment; here both halves are scanned once to stage the
    proof.  The merge shuffles only rollup rows (bucket x type), and
    integer-micro partial sums make it order-independent."""
    from pangenomesasgraphdatabases_spark.operators.rollup_inc import (
        rollup_batch,
        rollup_merge,
        rollup_read,
    )

    e = table(spark, sf_dir, "events")
    history = e.filter(F.col("event_id") % 10 != 0)
    batch = e.filter(F.col("event_id") % 10 == 0)
    merged = rollup_merge(rollup_batch(history), rollup_batch(batch))
    return rollup_read(merged)


@register(
    "events_rate_limited_sample",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_id, event_type,
               CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
               row_number() OVER (
                   PARTITION BY user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT)
                   ORDER BY ts, event_id) AS rn
        FROM events
    )
    SELECT user_id, day, event_id, event_type, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 5
    """,
    tags=("ext-stream", "sampling", "rate-limit"),
)
def events_rate_limited_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key rate limiting (extension): keep the first 5 events per
    user per day — the bot/heavy-hitter cap a training-data ingest
    applies so one hot key cannot dominate a day's sample.  Day
    ordinals from integer epoch division (timezone-proof), ordering
    total via (ts, event_id).

    Scale shape: one window over (user_id, day) — the shuffle key
    carries the date, so a single pathological user spreads across
    days; within one key the rank is a sort of that key's partition
    slice only.  The streaming twin of this cap is
    applyInPandasWithState with a per-(user, day) counter."""
    e = table(spark, sf_dir, "events")
    # Integer div end-to-end: ts_ns exceeds double precision, so a
    # float division could shift a midnight-boundary event a day.
    e2 = e.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.expr("(ts_ns div 1000000000) div 86400").cast("bigint").alias("day"),
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    )
    return (
        e2.withColumn("rn", rn.cast("bigint"))
        .filter(F.col("rn") <= 5)
        .select("user_id", "day", "event_id", "event_type", "rn")
    )


# Count-Min Sketch: depth 4 md5-derived hash rows, width 128 cells —
# the mergeable frequency-sketch complement of the HLL distinct-count
# extension (approx_distinct_extension).
_CMS_D = 4
_CMS_W = 128


def _cms_cell(seed: str, key: str = "user_id", width: int = None):
    """Deterministic cell index from the shared md5 idiom (identical
    bytes in both engines): first 7 hex chars as int, mod width."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed), F.col(key).cast("string"))), 1, 7
        ),
        16,
        10,
    ).cast("long")
    return h % (width if width is not None else _CMS_W)


def cms_counts(
    df: DataFrame, key: str, depth: int = None, width: int = None
) -> DataFrame:
    """Count-Min Sketch frequency estimation over ``df[key]``
    (parameterized API — VERDICT r5 #6).

    Returns ``(key, exact_n, est_n, never_undercounts, overcount)``
    with the CMS invariant est >= exact per key.

    Error bound (Cormode & Muthukrishnan 2005): with width ``w`` and
    depth ``d``, a point estimate exceeds the true count by more than
    ``eps * N`` with probability at most ``delta``, where
    ``eps = e / w``, ``delta = e ** -d`` and ``N`` is the stream's L1
    mass.  The registered query's fixed (4, 128) shape gives
    eps ~= 2.1% of N at delta ~= 1.8% — fine as an oracle-checkable
    fixture, too coarse for production heavy hitters: size
    ``w >= e / eps`` for the target (w = 2719 for eps = 0.1%) and
    ``d >= ln(1/delta)``.

    Scale shape: each cell is a SUM, so per-partition partial sketches
    merge by addition (the incremental-rollup algebra) — the build is
    one map-side-combinable aggregation into ``d x w`` cells, the d x w
    sketch broadcasts (KB-sized for any sane width), and the per-key
    estimate is a broadcast join + min.  Works identically as the
    foreachBatch update of a streaming sketch."""
    depth = depth if depth is not None else _CMS_D
    width = width if width is not None else _CMS_W
    e = df.select(key)
    hashed = None
    for r in range(depth):
        part = e.select(
            key, F.lit(r).alias("r"), _cms_cell(f"cms{r}", key, width).alias("cell")
        )
        hashed = part if hashed is None else hashed.unionByName(part)
    sketch = hashed.groupBy("r", "cell").agg(F.count(F.lit(1)).alias("n_cell"))
    exact = e.groupBy(key).agg(F.count(F.lit(1)).alias("exact_n"))
    ucells = hashed.distinct()
    est = (
        ucells.join(F.broadcast(sketch), ["r", "cell"])
        .groupBy(key)
        .agg(F.min("n_cell").alias("est_n"))
    )
    return exact.join(est, key).select(
        key,
        "exact_n",
        "est_n",
        (F.col("est_n") >= F.col("exact_n")).alias("never_undercounts"),
        (F.col("est_n") - F.col("exact_n")).alias("overcount"),
    )


# Shared CTE chain for the CMS oracles (events_cms_counts and
# events_heavy_hitters build on the same sketch algebra).
_CMS_ORACLE_CTES = f"""
    ev AS (SELECT CAST(user_id AS VARCHAR) AS uid FROM events),
    hashed AS (
        {" UNION ALL ".join(
            f'''SELECT uid, {r} AS r,
               CAST(('0x' || substr(md5('cms{r}' || uid), 1, 7)) AS BIGINT)
                   % {_CMS_W} AS cell
            FROM ev''' for r in range(_CMS_D)
        )}
    ),
    sketch AS (
        SELECT r, cell, CAST(count(*) AS BIGINT) AS n_cell
        FROM hashed GROUP BY r, cell
    ),
    exact AS (
        SELECT uid, CAST(count(*) AS BIGINT) AS exact_n
        FROM ev GROUP BY uid
    ),
    ucells AS (
        SELECT DISTINCT uid, r, cell FROM hashed
    ),
    est AS (
        SELECT u.uid, min(s.n_cell) AS est_n
        FROM ucells u JOIN sketch s ON u.r = s.r AND u.cell = s.cell
        GROUP BY u.uid
    )"""


@register(
    "events_cms_counts",
    oracle=f"""
    WITH {_CMS_ORACLE_CTES}
    SELECT CAST(e.uid AS BIGINT) AS user_id, e.exact_n, m.est_n,
           m.est_n >= e.exact_n AS never_undercounts,
           m.est_n - e.exact_n AS overcount
    FROM exact e JOIN est m ON e.uid = m.uid
    """,
    tags=("ext-events", "sketch", "cms"),
)
def events_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch per-user frequency estimation (extension),
    verified against exact counts in the same result: a 4x128 integer
    sketch (mergeable across partitions/batches — each cell is a SUM,
    so partial sketches combine by addition, the same algebra as the
    incremental rollup), the point query = min over the 4 hashed
    cells, and the CMS guarantee est >= exact surfaced as a
    driver-hashed boolean column (`never_undercounts` must be
    uniformly true).  All integer math over the md5 idiom both engines
    share — hash-exact, no tolerance.  The fixed (depth=4, width=128)
    shape keeps the driver hash stable; `cms_counts` is the
    parameterized API with the eps/delta sizing formula."""
    e = table(spark, sf_dir, "events").select("user_id")
    return cms_counts(e, "user_id", _CMS_D, _CMS_W)


@register(
    "events_heavy_hitters",
    oracle=f"""
    WITH {_CMS_ORACLE_CTES},
    total AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ev)
    SELECT CAST(e.uid AS BIGINT) AS user_id, e.exact_n, m.est_n,
           CAST(t.n // 200 AS BIGINT) AS threshold_n,
           m.est_n >= t.n // 200 AS is_heavy_est,
           e.exact_n >= t.n // 200 AS is_heavy_exact,
           (m.est_n >= t.n // 200) OR NOT (e.exact_n >= t.n // 200)
               AS no_false_negative
    FROM exact e JOIN est m ON e.uid = m.uid CROSS JOIN total t
    """,
    tags=("ext-events", "sketch", "heavy-hitters"),
)
def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """phi-heavy-hitters from the Count-Min Sketch (extension — the
    standard CMS application): a user is reported heavy when its
    sketch estimate reaches phi * N (phi = 0.5%, integer threshold
    ``N div 200``).  Because est >= exact, every TRUE heavy hitter is
    reported (`no_false_negative` uniformly true — the one-sided CMS
    guarantee, driver-hashed); false positives are keys whose
    over-counted estimate crosses the bar, bounded by the eps = e/w
    sketch error.  Exact counts ride along as the verification tier.

    Scale shape: the d x w sketch and the scalar N both broadcast; the
    candidate scan is the same one aggregation as `cms_counts` — at
    100 TB you'd keep ONLY keys with est >= threshold (a filter on
    this frame) and never compute exact_n; it is included here so the
    guarantee itself is what the driver hashes."""
    e = table(spark, sf_dir, "events").select("user_id")
    counts = cms_counts(e, "user_id", _CMS_D, _CMS_W)
    total = e.agg(F.count(F.lit(1)).alias("n"))
    th = F.expr("n div 200")
    return counts.crossJoin(F.broadcast(total)).select(
        "user_id",
        "exact_n",
        "est_n",
        th.cast("bigint").alias("threshold_n"),
        (F.col("est_n") >= th).alias("is_heavy_est"),
        (F.col("exact_n") >= th).alias("is_heavy_exact"),
        (
            (F.col("est_n") >= th) | ~(F.col("exact_n") >= th)
        ).alias("no_false_negative"),
    )


# HyperLogLog distinct-count sketch, built from scratch over the md5
# idiom so BOTH engines compute byte-identical registers — unlike
# `approx_distinct_extension` (Spark's built-in HLL++, whose estimate
# DuckDB cannot reproduce), this one is hash-exact end to end.  All
# register algebra is integer; the only float op is ONE correctly
# rounded IEEE division by a shared literal, identical across engines.
_HLL_P = 6  # registers m = 2**p


def _hll_alpha(m: int) -> float:
    # Flajolet et al. 2007 bias-correction constants.
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(df: DataFrame, key: str, group_cols: list, p: int = _HLL_P):
    """One row per (group, register): ``max_rho`` over the group's keys
    hashing into that register.  This frame IS the sketch: registers
    merge across partitions / batches / shards by MAX — the same
    idempotent-merge algebra Structured Streaming state or a
    foreachBatch upsert needs.  Kept separate from the estimator so
    tests (and pipelines) can merge partial sketches."""
    m = 1 << p
    w_len = 48 - p
    h = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("hll"), F.col(key).cast("string"))), 1, 12),
            16,
            10,
        )
        .cast("long")
        .alias("h")
    )
    hashed = df.select(*group_cols, h).select(
        *group_cols,
        (F.col("h") % m).alias("reg"),
        F.expr(f"h div {m}").alias("w"),
    )
    # bits(w) = number of bits in w's binary form = sum of threshold
    # indicators — pure integer algebra, no log2 float hazard.
    bits = None
    for j in range(w_len):
        term = (F.col("w") >= F.lit(1 << j)).cast("int")
        bits = term if bits is None else bits + term
    rho = (F.lit(w_len + 1) - bits).alias("rho")
    return (
        hashed.select(*group_cols, "reg", rho)
        .groupBy(*group_cols, "reg")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_distinct(
    df: DataFrame, key: str, group_cols: list, p: int = _HLL_P
) -> DataFrame:
    """HyperLogLog distinct-count estimate per group (parameterized
    API; standard error ~= 1.04 / sqrt(2**p)) with the exact count as
    the verification tier.

    Raw-regime estimator only (no linear-counting branch, which needs
    a cross-engine-hazardous ``ln``); ``n_zero_registers`` is emitted
    so callers can see when they are below the ~2.5m small-range bar.

    Scale shape: the sketch build is ONE map-side-combinable
    aggregation into m registers per group (the register frame is
    m rows per group regardless of input size, merge = MAX); the
    estimate folds those m rows with exact dyadic arithmetic —
    sum_fx = sum(2^(w_len+1-M)) is an integer < 2^49, so the fold is
    order-independent and the single closing division is a correctly
    rounded IEEE op both engines share.  The exact count rides along
    for verification; a production pipeline drops it and keeps only
    the register frame (KB per group at any input size)."""
    regs = hll_registers(df, key, group_cols, p)
    est = hll_estimate_from_registers(regs, group_cols, p)
    exact = df.groupBy(*group_cols).agg(
        F.count_distinct(key).alias("exact_distinct")
    )
    return exact.join(est, group_cols).select(
        *group_cols,
        "exact_distinct",
        "est_distinct",
        "n_zero_registers",
        F.abs(F.col("est_distinct") - F.col("exact_distinct")).alias("abs_err"),
        F.expr("abs(est_distinct - exact_distinct) * 10000 div exact_distinct")
        .cast("bigint")
        .alias("rel_err_bp"),
    )


def hll_estimate_from_registers(
    regs: DataFrame, group_cols: list, p: int = _HLL_P
) -> DataFrame:
    """Folds an ``hll_registers`` frame (possibly max-merged from many
    partial sketches) into the per-group cardinality estimate — the
    finalize step, separated so batch, incremental, and streaming
    builds share one estimator."""
    m = 1 << p
    w_len = 48 - p
    scale = 1 << (w_len + 1)
    # Shared float literal: alpha * m^2 * 2^(w_len+1), computed once in
    # Python so both engines divide by the *same* double.
    num = repr(_hll_alpha(m) * m * m * scale)
    est = regs.groupBy(*group_cols).agg(
        (
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {w_len + 1} - max_rho)"))
            + (F.lit(m) - F.count(F.lit(1))) * F.lit(scale)
        ).alias("sum_fx"),
        (F.lit(m) - F.count(F.lit(1))).cast("bigint").alias("n_zero_registers"),
    )
    return est.select(
        *group_cols,
        F.expr(f"CAST(floor({num} / CAST(sum_fx AS DOUBLE)) AS BIGINT)").alias(
            "est_distinct"
        ),
        "n_zero_registers",
    )


def _hll_oracle(p: int) -> str:
    m = 1 << p
    w_len = 48 - p
    scale = 1 << (w_len + 1)
    num = repr(_hll_alpha(m) * m * m * scale)
    bits = " + ".join(
        f"CAST(w >= {1 << j} AS BIGINT)" for j in range(w_len)
    )
    return f"""
    WITH ev AS (
        SELECT event_type, CAST(event_id AS VARCHAR) AS k FROM events
    ),
    hashed AS (
        SELECT event_type,
               CAST(('0x' || substr(md5('hll' || k), 1, 12)) AS BIGINT) AS h
        FROM ev
    ),
    rho AS (
        SELECT event_type, h % {m} AS reg,
               {w_len + 1} - ({bits}) AS rho
        FROM (SELECT event_type, h, h // {m} AS w FROM hashed)
    ),
    regs AS (
        SELECT event_type, reg, max(rho) AS max_rho
        FROM rho GROUP BY event_type, reg
    ),
    folded AS (
        SELECT event_type,
               CAST(sum(CAST(1 AS BIGINT) << ({w_len + 1} - max_rho))
                    + ({m} - count(*)) * {scale} AS BIGINT) AS sum_fx,
               CAST({m} - count(*) AS BIGINT) AS n_zero_registers
        FROM regs GROUP BY event_type
    ),
    est AS (
        SELECT event_type,
               CAST(floor({num} / CAST(sum_fx AS DOUBLE)) AS BIGINT)
                   AS est_distinct,
               n_zero_registers
        FROM folded
    ),
    exact AS (
        SELECT event_type, CAST(count(DISTINCT k) AS BIGINT) AS exact_distinct
        FROM ev GROUP BY event_type
    )
    SELECT x.event_type, x.exact_distinct, e.est_distinct,
           e.n_zero_registers,
           abs(e.est_distinct - x.exact_distinct) AS abs_err,
           CAST(abs(e.est_distinct - x.exact_distinct) * 10000
                // x.exact_distinct AS BIGINT) AS rel_err_bp
    FROM exact x JOIN est e USING (event_type)
    """


@register(
    "events_hll_distinct",
    oracle=_hll_oracle(_HLL_P),
    tags=("ext-events", "sketch", "hll"),
)
def events_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct event_ids per event_type (extension —
    completes the mergeable-sketch family: CMS for frequency, Bloom
    for membership, HLL for cardinality).  m = 64 registers from the
    first 48 md5 bits: reg = h mod m, rho = leading-zero rank of the
    remaining 42 bits via a pure-integer threshold sum (no log2), so
    both engines build byte-identical registers; the estimate folds
    exact dyadic integers (sum of 2^(43 - max_rho) — order-independent
    by construction, every partial sum is exact in 49 bits) and closes
    with ONE correctly rounded IEEE division by a shared literal.
    Exact distinct counts and the relative error in basis points ride
    along; at sf0.01 every group lands within the 1.04/sqrt(64) ~= 13%
    standard error (and n_zero_registers shows the raw-regime check).
    ``hll_registers`` is the mergeable sketch API (merge = MAX)."""
    e = table(spark, sf_dir, "events")
    return hll_distinct(e, "event_id", ["event_type"], _HLL_P)


@register(
    "events_gap_fill",
    oracle="""
    WITH buckets AS (
        SELECT event_type,
               CAST(epoch(time_bucket(INTERVAL '15 minutes', ts)) AS BIGINT)
                   AS bucket,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
                   // count(*) AS avg_micro
        FROM events
        GROUP BY 1, 2
    ),
    bounds AS (
        SELECT min(bucket) AS lo, max(bucket) AS hi FROM buckets
    ),
    spine AS (
        SELECT t.event_type, s.bucket
        FROM (SELECT DISTINCT event_type FROM events) t,
             (SELECT unnest(range(lo, hi + 900, 900)) AS bucket
              FROM bounds) s
    ),
    joined AS (
        SELECT sp.event_type, sp.bucket,
               coalesce(b.n_events, 0) AS n_events,
               b.avg_micro
        FROM spine sp LEFT JOIN buckets b
          ON sp.event_type = b.event_type AND sp.bucket = b.bucket
    )
    SELECT event_type, bucket, n_events,
           last_value(avg_micro IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY bucket) AS avg_micro_locf,
           avg_micro IS NULL AS filled
    FROM joined
    """,
    tags=("ext-events", "timeseries", "gap-fill"),
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense time-spine gap filling with last-observation-carried-
    forward (extension — the TimescaleDB `time_bucket_gapfill`/`locf`
    shape): 15-minute buckets per event type, a generated spine over
    the observed range, missing buckets joined in with zero counts,
    and the per-type average carried forward over gaps (exact integer
    micros — the LOCF is a copied value, never re-derived floating
    point).

    Scale shape: the spine is |types| x |buckets| rows (metadata-
    sized, generated without a shuffle); the only shuffles are the
    bucket aggregation and the per-type window, both keyed by
    event_type — a 1000-executor run fills each type's series
    independently."""
    e = table(spark, sf_dir, "events")
    # Exact integer bucketing: ts_ns is ~1.7e18, beyond double's 53-bit
    # mantissa, so a float division could shift boundary events into the
    # adjacent bucket.  `div` keeps the whole derivation in bigint.
    bucket = F.expr("((ts_ns div 1000000000) div 900) * 900").cast("bigint")
    buckets = (
        e.select("event_type", bucket.alias("bucket"), "value")
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(
                "sum(CAST(round(value * 1000000) AS BIGINT)) div count(1)"
            ).alias("avg_micro"),
        )
    )
    lo_hi = buckets.agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    spine = (
        e.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(lo_hi))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.lit(900))).alias("bucket"),
        )
    )
    joined = spine.join(buckets, ["event_type", "bucket"], "left").select(
        "event_type",
        "bucket",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        "avg_micro",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "event_type",
        "bucket",
        "n_events",
        F.last("avg_micro", ignorenulls=True).over(w).alias("avg_micro_locf"),
        F.col("avg_micro").isNull().alias("filled"),
    )


@register(
    "events_scd2_intervals",
    oracle="""
    WITH ordered AS (
        SELECT user_id,
               CAST(round(value * 1000000) AS BIGINT) AS value_micro,
               CAST(floor(epoch(ts)) AS BIGINT) AS es, ts, event_id,
               lag(CAST(round(value * 1000000) AS BIGINT)) OVER w AS prev_v
        FROM events WHERE event_type = 'purchase'
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    starts AS (
        SELECT user_id, value_micro, es, ts, event_id
        FROM ordered
        WHERE prev_v IS NULL OR value_micro <> prev_v
    ),
    versions AS (
        SELECT user_id, value_micro, es AS valid_from,
               lead(es) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS valid_to
        FROM starts
    )
    SELECT user_id, value_micro, valid_from,
           coalesce(valid_to, CAST(9223372036854775807 AS BIGINT))
               AS valid_to,
           valid_to IS NULL AS is_current
    FROM versions
    """,
    tags=("ext-events", "scd2", "warehouse"),
)
def events_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 from a change stream
    (extension — the warehouse MERGE pattern as one declarative pass):
    per user, each run of equal purchase values collapses to one
    version row with [valid_from, valid_to) epoch bounds; the open
    version carries max-BIGINT and is_current.  Deterministic total
    order (ts, event_id); exact integer values.

    Scale shape: two windows over the same (user_id, ts) partitioning
    — one shuffle total, no joins; the classic lag/lead interval
    construction instead of the OLTP row-by-row MERGE."""
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    vm = F.round(F.col("value") * 1_000_000).cast("bigint")
    # Windows order by the full-resolution ts_ns (the oracle orders by
    # `ts`): two same-user changes within one second still sequence in
    # event-time order; the truncated epoch second is only a *value*
    # (valid_from/valid_to), never an ordering key.  `div` keeps the
    # second derivation exact — ts_ns exceeds double precision.
    es = F.expr("ts_ns div 1000000000")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    ordered = e.select(
        "user_id", vm.alias("value_micro"), es.alias("es"), "ts_ns", "event_id"
    ).withColumn("prev_v", F.lag("value_micro").over(w))
    starts = ordered.filter(
        F.col("prev_v").isNull() | (F.col("value_micro") != F.col("prev_v"))
    )
    versions = starts.select(
        "user_id",
        "value_micro",
        F.col("es").alias("valid_from"),
        F.lead("es").over(
            Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
        ).alias("valid_to"),
    )
    return versions.select(
        "user_id",
        "value_micro",
        "valid_from",
        F.coalesce("valid_to", F.lit(9223372036854775807)).alias("valid_to"),
        F.col("valid_to").isNull().alias("is_current"),
    )



_EWMA_W = 8  # window length; alpha = 1/2 so weights are powers of two


@register(
    "events_ewma_value",
    oracle="""
    WITH v AS (
        SELECT event_id, user_id,
               CAST(round(value * 1000000) AS BIGINT) AS value_micro, ts
        FROM events WHERE event_type = 'purchase'
    ),
    lagged AS (
        SELECT event_id, user_id, value_micro,
               lag(value_micro, 0) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l0,
               lag(value_micro, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l1,
               lag(value_micro, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l2,
               lag(value_micro, 3) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l3,
               lag(value_micro, 4) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l4,
               lag(value_micro, 5) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l5,
               lag(value_micro, 6) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l6,
               lag(value_micro, 7) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l7
        FROM v
    ),
    folded AS (
        SELECT event_id, user_id, value_micro,
               CAST(coalesce(l0, 0) * 128 + coalesce(l1, 0) * 64 + coalesce(l2, 0) * 32 + coalesce(l3, 0) * 16 + coalesce(l4, 0) * 8 + coalesce(l5, 0) * 4 + coalesce(l6, 0) * 2 + coalesce(l7, 0) * 1 AS BIGINT) AS ewma_num,
               CAST(CASE WHEN l0 IS NULL THEN 0 ELSE 128 END + CASE WHEN l1 IS NULL THEN 0 ELSE 64 END + CASE WHEN l2 IS NULL THEN 0 ELSE 32 END + CASE WHEN l3 IS NULL THEN 0 ELSE 16 END + CASE WHEN l4 IS NULL THEN 0 ELSE 8 END + CASE WHEN l5 IS NULL THEN 0 ELSE 4 END + CASE WHEN l6 IS NULL THEN 0 ELSE 2 END + CASE WHEN l7 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS ewma_den
        FROM lagged
    )
    SELECT event_id, user_id, value_micro, ewma_num, ewma_den,
           CAST(ewma_num // ewma_den AS BIGINT) AS ewma_micro
    FROM folded
    """,
    tags=("ext-events", "window", "ewma"),
)
def events_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of purchase values per
    user (extension — the decayed-feature window of an online feature
    store), made hash-exact by choosing alpha = 1/2 over the last 8
    observations: weights 2^7..2^0 are dyadic, so the numerator and
    the truncated-renormalization denominator are exact integer sums
    over micros-quantized values, and the EWMA itself is one integer
    division — no float accumulation anywhere.  Windows order by the
    full-resolution event time (ts_ns plus event_id tiebreak — the
    SCD2 lesson), so same-second events cannot reorder between
    engines; the current observation carries weight 2^7 (lag 0).

    Scale shape: one shuffle on user_id; the 8 lag() calls share one
    window spec (one sort — Spark collapses same-spec windows); no
    join, no global window.  The truncating div renormalization at
    series heads (< 8 observations) is the standard finite-window
    EWMA bias handling, here exact."""
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    vm = F.round(F.col("value") * 1_000_000).cast("bigint")
    d = e.select("event_id", "user_id", vm.alias("value_micro"), "ts_ns")
    for i in range(_EWMA_W):
        d = d.withColumn(f"l{i}", F.lag("value_micro", i).over(w))
    num, den = None, None
    for i in range(_EWMA_W):
        wt = 1 << (_EWMA_W - 1 - i)
        num_t = F.coalesce(F.col(f"l{i}"), F.lit(0)) * wt
        den_t = F.when(F.col(f"l{i}").isNull(), 0).otherwise(wt)
        num = num_t if num is None else num + num_t
        den = den_t if den is None else den + den_t
    folded = d.select(
        "event_id",
        "user_id",
        "value_micro",
        num.cast("bigint").alias("ewma_num"),
        den.cast("bigint").alias("ewma_den"),
    )
    return folded.withColumn(
        "ewma_micro", F.expr("ewma_num div ewma_den").cast("bigint")
    )


@register(
    "stream_hll_distinct",
    oracle=_hll_oracle(_HLL_P),
    tags=("ext-stream", "sketch", "hll", "streaming"),
)
def stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming build of the HyperLogLog registers
    (extension — the sketch family running where it earns its keep:
    a max-aggregated register table is exactly the state a streaming
    distinct-count keeps, m rows per group forever, versus the
    unbounded key set exact distinct would hold).  The register
    aggregation runs as an incremental streaming query (groupBy max,
    complete mode, AvailableNow); the finalize fold and the exact
    verification tier run batch-side on the materialized registers —
    the same two-phase composition as stream_windowed_topk.  Register
    determinism makes the batch HLL oracle hash-identical."""
    from pangenomesasgraphdatabases_spark.streaming.events import (
        events_stream,
        run_available_now,
    )

    stream = events_stream(spark, sf_dir).select(
        "event_type", F.col("event_id").cast("string").alias("k")
    )
    regs_stream = hll_registers(stream, "k", ["event_type"], _HLL_P)
    regs = run_available_now(regs_stream, spark, output_mode="complete")
    est = hll_estimate_from_registers(regs, ["event_type"], _HLL_P)
    exact = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("event_id").alias("exact_distinct"))
    )
    return exact.join(est, ["event_type"]).select(
        "event_type",
        "exact_distinct",
        "est_distinct",
        "n_zero_registers",
        F.abs(F.col("est_distinct") - F.col("exact_distinct")).alias("abs_err"),
        F.expr("abs(est_distinct - exact_distinct) * 10000 div exact_distinct")
        .cast("bigint")
        .alias("rel_err_bp"),
    )


# Fixed-grid quantile histogram: bucket width 2^20 micros (~1.05
# value units) on a data-INDEPENDENT grid, so partial histograms from
# any shard/batch merge by addition — the quantile entry of the
# mergeable-sketch family (CMS/Bloom/HLL).
_QH_SHIFT = 20
_QH_QS = (50, 90, 99)


_QH_ORACLE = f"""
    WITH v AS (
        SELECT event_type,
               CAST(round(value * 1000000) AS BIGINT) AS vm,
               event_id
        FROM events
    ),
    hist AS (
        SELECT event_type, vm // {1 << _QH_SHIFT} AS bucket,
               CAST(count(*) AS BIGINT) AS n_bucket
        FROM v GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, bucket, n_bucket,
               CAST(sum(n_bucket) OVER (PARTITION BY event_type
                    ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_n
        FROM hist
    ),
    tot AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1
    ),
    ks AS (
        SELECT t.event_type, q.q_pct, t.n,
               CAST((t.n * q.q_pct + 99) // 100 AS BIGINT) AS k
        FROM tot t CROSS JOIN (SELECT unnest([{", ".join(map(str, _QH_QS))}])
                               AS q_pct) q
    ),
    est AS (
        SELECT k.event_type, k.q_pct, k.n, k.k,
               min(c.bucket) AS est_bucket
        FROM ks k JOIN cum c
          ON k.event_type = c.event_type AND c.cum_n >= k.k
        GROUP BY 1, 2, 3, 4
    ),
    ranked AS (
        SELECT event_type, vm,
               row_number() OVER (PARTITION BY event_type
                   ORDER BY vm, event_id) AS rn
        FROM v
    )
    SELECT e.event_type, CAST(e.q_pct AS BIGINT) AS q_pct, e.n, e.k,
           CAST(e.est_bucket AS BIGINT) AS est_bucket,
           CAST((e.est_bucket + 1) * {1 << _QH_SHIFT} AS BIGINT)
               AS est_hi_micro,
           r.vm AS exact_micro,
           r.vm // {1 << _QH_SHIFT} = e.est_bucket AS in_est_bucket
    FROM est e JOIN ranked r
      ON e.event_type = r.event_type AND r.rn = e.k
    """


@register(
    "events_quantile_histogram",
    oracle=_QH_ORACLE,
    tags=("ext-events", "sketch", "quantile"),
)
def events_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a fixed-grid mergeable histogram
    (extension — the quantile entry of the sketch family; the same
    role a t-digest/GK sketch plays, reduced to a data-independent
    grid so it is exactly reproducible): p50/p90/p99 of `value` per
    event_type located as the first histogram bucket whose cumulative
    count reaches k = ceil(q*n/100).  Bucket width is 2^20 micros on
    a fixed grid — partial histograms merge by ADDITION across
    shards/batches (CMS algebra), error is bounded by one bucket
    width, and the exact k-th order statistic rides along with the
    `in_est_bucket` guarantee column (uniformly true by
    construction — driver-hashed).

    Scale shape: the sketch build is one map-side-combinable count
    into O(value_range / 2^20) cells per group; the cumulative scan
    and bucket pick run over the TINY histogram (hundreds of rows),
    partitioned by group — never over raw rows.  Only the exact
    verification tier sorts raw rows (a per-group window); production
    drops it and keeps the histogram, which answers any quantile
    without re-reading data."""
    e = table(spark, sf_dir, "events")
    width = 1 << _QH_SHIFT
    hist = e.select(
        "event_type",
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("vm"),
    ).groupBy(
        "event_type", F.expr(f"vm div {width}").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_bucket"))
    return _qh_finalize(spark, sf_dir, hist)


def _qh_finalize(spark: SparkSession, sf_dir: str, hist: DataFrame) -> DataFrame:
    """Quantile location + exact verification tier over a materialized
    (group, bucket, n_bucket) histogram — shared by the batch and
    streaming sketch builds (the histogram merges by addition, so any
    build path that sums counts per bucket lands here)."""
    width = 1 << _QH_SHIFT
    v = table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("vm"),
        "event_id",
    )
    cum = hist.withColumn(
        "cum_n",
        F.sum("n_bucket").over(
            Window.partitionBy("event_type")
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    tot = v.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    qs = tot.select(
        "event_type",
        "n",
        F.explode(F.array(*[F.lit(q) for q in _QH_QS])).alias("q_pct"),
    ).withColumn("k", F.expr("CAST((n * q_pct + 99) div 100 AS BIGINT)"))
    est = (
        qs.join(cum, "event_type")
        .filter(F.col("cum_n") >= F.col("k"))
        .groupBy("event_type", "q_pct", "n", "k")
        .agg(F.min("bucket").alias("est_bucket"))
    )
    ranked = v.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("vm", "event_id")
        ),
    ).select("event_type", "vm", "rn")
    return (
        est.join(
            ranked,
            (est.event_type == ranked.event_type) & (ranked.rn == est.k),
        )
        .select(
            est.event_type,
            F.col("q_pct").cast("bigint").alias("q_pct"),
            "n",
            "k",
            F.col("est_bucket").cast("bigint").alias("est_bucket"),
            ((F.col("est_bucket") + 1) * width).cast("bigint").alias("est_hi_micro"),
            F.col("vm").alias("exact_micro"),
            (F.expr(f"vm div {width}") == F.col("est_bucket")).alias(
                "in_est_bucket"
            ),
        )
    )


@register(
    "events_exact_median_2pass",
    oracle=f"""
    WITH v AS (
        SELECT event_type,
               CAST(round(value * 1000000) AS BIGINT) AS vm
        FROM events
    ),
    hist AS (
        SELECT event_type, vm // {1 << _QH_SHIFT} AS bucket,
               CAST(count(*) AS BIGINT) AS n_bucket
        FROM v GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, bucket, n_bucket,
               CAST(sum(n_bucket) OVER (PARTITION BY event_type
                    ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_n
        FROM hist
    ),
    tot AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST((count(*) + 1) // 2 AS BIGINT) AS k
        FROM v GROUP BY 1
    ),
    target AS (
        SELECT t.event_type, t.n, t.k,
               min(c.bucket) AS bucket
        FROM tot t JOIN cum c
          ON t.event_type = c.event_type AND c.cum_n >= t.k
        GROUP BY 1, 2, 3
    ),
    below AS (
        SELECT tg.event_type,
               CAST(coalesce(sum(c.n_bucket), 0) AS BIGINT) AS n_below
        FROM target tg LEFT JOIN cum c
          ON tg.event_type = c.event_type AND c.bucket < tg.bucket
        GROUP BY 1
    ),
    inbucket AS (
        SELECT v.event_type, v.vm,
               row_number() OVER (PARTITION BY v.event_type
                   ORDER BY v.vm) AS rn
        FROM v JOIN target tg
          ON v.event_type = tg.event_type
         AND v.vm // {1 << _QH_SHIFT} = tg.bucket
    )
    SELECT tg.event_type, tg.n, tg.k,
           CAST(tg.bucket AS BIGINT) AS bucket,
           i.vm AS median_micro
    FROM target tg
    JOIN below b ON tg.event_type = b.event_type
    JOIN inbucket i
      ON i.event_type = tg.event_type AND i.rn = tg.k - b.n_below
    """,
    tags=("ext-events", "median", "two-pass"),
)
def events_exact_median_2pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT median per event_type WITHOUT a global sort (extension —
    the two-pass refinement pattern that makes exact order statistics
    tractable at 100 TB): pass 1 builds the fixed-grid histogram
    (map-side combinable, tiny) and locates the bucket containing the
    k-th element plus the count below it; pass 2 ranks ONLY the rows
    inside that one bucket (a per-group window over ~1/n_buckets of
    the data) and picks rank k - n_below.  Lower median
    (k = (n+1) div 2); ties make the value unique regardless of
    tiebreak.

    Scale shape: the full data is scanned twice but SORTED never; the
    second pass's window covers one bucket per group — with B buckets
    the sorted fraction is ~1/B, and a third pass would square that.
    This is the exact complement of `events_quantile_histogram`'s
    bounded-error single pass: same sketch, plus one targeted
    refinement scan."""
    e = table(spark, sf_dir, "events")
    width = 1 << _QH_SHIFT
    v = e.select(
        "event_type",
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("vm"),
    )
    hist = v.groupBy(
        "event_type", F.expr(f"vm div {width}").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_bucket"))
    cum = hist.withColumn(
        "cum_n",
        F.sum("n_bucket").over(
            Window.partitionBy("event_type")
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    tot = v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("CAST((count(1) + 1) div 2 AS BIGINT)").alias("k"),
    )
    target = (
        tot.join(cum, "event_type")
        .filter(F.col("cum_n") >= F.col("k"))
        .groupBy("event_type", "n", "k")
        .agg(F.min("bucket").alias("bucket"))
    )
    below = (
        target.select("event_type", F.col("bucket").alias("tb"))
        .join(cum, "event_type", "left")
        .filter(F.col("bucket") < F.col("tb"))
        .groupBy("event_type")
        .agg(F.sum("n_bucket").cast("bigint").alias("n_below"))
    )
    # Groups whose target bucket is the FIRST bucket have no below rows.
    target_b = target.join(below, "event_type", "left").withColumn(
        "n_below", F.coalesce("n_below", F.lit(0))
    )
    inb = (
        v.join(
            F.broadcast(target_b.select("event_type", F.col("bucket").alias("tb"))),
            "event_type",
        )
        .filter(F.expr(f"vm div {width}") == F.col("tb"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("vm")
            ),
        )
    )
    return (
        target_b.join(
            inb.select("event_type", "vm", "rn"),
            ["event_type"],
        )
        .filter(F.col("rn") == F.col("k") - F.col("n_below"))
        .select(
            "event_type",
            "n",
            "k",
            F.col("bucket").cast("bigint").alias("bucket"),
            F.col("vm").alias("median_micro"),
        )
    )


@register(
    "stream_quantile_histogram",
    oracle=_QH_ORACLE,
    tags=("ext-stream", "sketch", "quantile", "streaming"),
)
def stream_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming build of the fixed-grid quantile
    histogram (extension — the additive-merge twin of
    stream_hll_distinct's max-merge): the per-(group, bucket) counts
    are exactly the state a streaming count aggregation keeps, so the
    sketch build runs as an incremental streaming query (complete
    mode, AvailableNow) and the quantile location + exact
    verification tier run batch-side on the materialized histogram.
    Bucket determinism makes the batch oracle hash-identical."""
    from pangenomesasgraphdatabases_spark.streaming.events import (
        events_stream,
        run_available_now,
    )

    width = 1 << _QH_SHIFT
    stream = events_stream(spark, sf_dir).select(
        "event_type",
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("vm"),
    )
    hist_stream = stream.groupBy(
        "event_type", F.expr(f"vm div {width}").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_bucket"))
    hist = run_available_now(hist_stream, spark, output_mode="complete")
    return _qh_finalize(spark, sf_dir, hist)


_WHLL_P = 4  # m=16 registers: distinct users per window (~150) sits
#              in the raw regime (> 2.5m = 40); SE ~= 1.04/4 = 26%


def _whll_oracle() -> str:
    p = _WHLL_P
    m = 1 << p
    w_len = 48 - p
    scale = 1 << (w_len + 1)
    num = repr(_hll_alpha(m) * m * m * scale)
    bits = " + ".join(f"CAST(w >= {1 << j} AS BIGINT)" for j in range(w_len))
    return f"""
    WITH ev AS (
        SELECT CAST(epoch(time_bucket(INTERVAL '15 minutes', ts)) AS BIGINT)
                   AS bucket,
               CAST(user_id AS VARCHAR) AS k
        FROM events
    ),
    hashed AS (
        SELECT bucket,
               CAST(('0x' || substr(md5('hll' || k), 1, 12)) AS BIGINT) AS h
        FROM ev
    ),
    rho AS (
        SELECT bucket, h % {m} AS reg, {w_len + 1} - ({bits}) AS rho
        FROM (SELECT bucket, h, h // {m} AS w FROM hashed)
    ),
    bregs AS (
        SELECT bucket, reg, max(rho) AS max_rho
        FROM rho GROUP BY bucket, reg
    ),
    wregs AS (
        SELECT b.bucket - offs.o AS window_start, b.reg,
               max(b.max_rho) AS max_rho
        FROM bregs b, (SELECT unnest([0, 900, 1800, 2700]) AS o) offs
        GROUP BY 1, 2
    ),
    folded AS (
        SELECT window_start,
               CAST(sum(CAST(1 AS BIGINT) << ({w_len + 1} - max_rho))
                    + ({m} - count(*)) * {scale} AS BIGINT) AS sum_fx,
               CAST({m} - count(*) AS BIGINT) AS n_zero_registers
        FROM wregs GROUP BY window_start
    ),
    est AS (
        SELECT window_start,
               CAST(floor({num} / CAST(sum_fx AS DOUBLE)) AS BIGINT)
                   AS est_distinct,
               n_zero_registers
        FROM folded
    ),
    exact AS (
        SELECT e.bucket - offs.o AS window_start,
               CAST(count(DISTINCT e.k) AS BIGINT) AS exact_distinct
        FROM ev e, (SELECT unnest([0, 900, 1800, 2700]) AS o) offs
        GROUP BY 1
    )
    SELECT x.window_start, x.exact_distinct, e.est_distinct,
           e.n_zero_registers,
           abs(e.est_distinct - x.exact_distinct) AS abs_err
    FROM exact x JOIN est e USING (window_start)
    """


@register(
    "events_windowed_hll_rollup",
    oracle=_whll_oracle(),
    tags=("ext-events", "sketch", "hll", "window"),
)
def events_windowed_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct users answered from PRE-AGGREGATED
    HLL sketches (extension — the production rollup pattern: raw data
    is scanned once into per-15-min register frames, and ANY window
    is answered by max-merging stored sketches, never re-reading
    events): 1-hour windows sliding every 15 minutes, each merging 4
    bucket sketches (m=16 registers; the ~150-user cardinality sits
    in the raw estimator regime, standard error ~26%).  The exact
    per-window distinct count rides along as the verification tier.

    Scale shape: the event scan builds bucket sketches map-side
    (bounded state: m rows per bucket); window answers touch ONLY
    sketch rows (4m per window).  This is the algebra a streaming
    foreachBatch store or a warehouse rollup table uses — windows,
    retention ranges, or ad-hoc date spans all merge from the same
    bucket sketches."""
    e = table(spark, sf_dir, "events")
    bucketed = e.select(
        F.expr("((ts_ns div 1000000000) div 900) * 900")
        .cast("bigint")
        .alias("bucket"),
        F.col("user_id").alias("k"),
    )
    bregs = hll_registers(bucketed, "k", ["bucket"], _WHLL_P)
    offs = F.array(*[F.lit(o) for o in (0, 900, 1800, 2700)])
    wregs = (
        bregs.select(
            F.explode(offs).alias("o"), "bucket", "reg", "max_rho"
        )
        .select((F.col("bucket") - F.col("o")).alias("window_start"), "reg", "max_rho")
        .groupBy("window_start", "reg")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    est = hll_estimate_from_registers(wregs, ["window_start"], _WHLL_P)
    exact = (
        bucketed.select(F.explode(offs).alias("o"), "bucket", "k")
        .select((F.col("bucket") - F.col("o")).alias("window_start"), "k")
        .groupBy("window_start")
        .agg(F.count_distinct("k").alias("exact_distinct"))
    )
    return exact.join(est, "window_start").select(
        "window_start",
        "exact_distinct",
        "est_distinct",
        "n_zero_registers",
        F.abs(F.col("est_distinct") - F.col("exact_distinct")).alias("abs_err"),
    )


@register(
    "events_attribution_touchpoints",
    oracle="""
    WITH pairs AS (
        SELECT p.event_id AS purchase_id, p.user_id,
               c.event_id AS click_id,
               CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS age_us,
               row_number() OVER (PARTITION BY p.event_id
                   ORDER BY c.ts DESC, c.event_id DESC) AS rn_last,
               row_number() OVER (PARTITION BY p.event_id
                   ORDER BY c.ts ASC, c.event_id ASC) AS rn_first,
               count(*) OVER (PARTITION BY p.event_id) AS n_touches
        FROM events p
        JOIN events c
          ON p.user_id = c.user_id
         AND p.event_type = 'purchase' AND c.event_type = 'click'
         AND c.ts <= p.ts
         AND c.ts >= p.ts - INTERVAL 24 HOURS
    )
    SELECT l.purchase_id, l.user_id,
           f.click_id AS first_touch_id,
           l.click_id AS last_touch_id,
           l.age_us AS last_touch_age_us,
           CAST(l.n_touches AS BIGINT) AS n_touches
    FROM pairs l JOIN pairs f
      ON l.purchase_id = f.purchase_id AND l.rn_last = 1 AND f.rn_first = 1
    """,
    tags=("ext-events", "attribution", "asof-join"),
)
def events_attribution_touchpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-attribution touchpoint resolution (extension — the
    inverse direction of `events_asof_join`): for every purchase, the
    FIRST-touch and LAST-touch click within the preceding 24 hours,
    plus the touch count — the three numbers first-touch / last-touch
    / multi-touch attribution models divide credit over.  Ties break
    on (ts, event_id) in both engines.

    Scale shape: one user-keyed range join (bounded by the 24 h
    horizon — the same bucketing bound as the as-of join), then two
    row_number windows and a count sharing ONE purchase_id partition
    sort.  At 100 TB the horizon bound is what keeps the join linear:
    each purchase meets only its own user's day of clicks."""
    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    pairs = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 24 HOURS")),
    ).select(
        "purchase_id",
        "user_id",
        "click_id",
        (F.unix_micros("pts") - F.unix_micros("cts")).alias("age_us"),
        "cts",
    )
    w_last = Window.partitionBy("purchase_id").orderBy(
        F.desc("cts"), F.desc("click_id")
    )
    w_first = Window.partitionBy("purchase_id").orderBy(
        F.asc("cts"), F.asc("click_id")
    )
    w_cnt = Window.partitionBy("purchase_id")
    marked = pairs.select(
        "purchase_id",
        "user_id",
        "click_id",
        "age_us",
        F.row_number().over(w_last).alias("rn_last"),
        F.row_number().over(w_first).alias("rn_first"),
        F.count(F.lit(1)).over(w_cnt).cast("bigint").alias("n_touches"),
    )
    last = marked.filter(F.col("rn_last") == 1).select(
        "purchase_id",
        "user_id",
        F.col("click_id").alias("last_touch_id"),
        F.col("age_us").alias("last_touch_age_us"),
        "n_touches",
    )
    first = marked.filter(F.col("rn_first") == 1).select(
        "purchase_id", F.col("click_id").alias("first_touch_id")
    )
    return last.join(first, "purchase_id").select(
        "purchase_id",
        "user_id",
        "first_touch_id",
        "last_touch_id",
        "last_touch_age_us",
        "n_touches",
    )


@register(
    "events_markov_transitions",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    trans AS (
        SELECT prev_type, event_type AS next_type,
               CAST(count(*) AS BIGINT) AS n
        FROM ordered WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    ),
    totals AS (
        SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_from
        FROM trans GROUP BY prev_type
    )
    SELECT t.prev_type, t.next_type, t.n, tt.n_from,
           CAST(t.n * 1000000 // tt.n_from AS BIGINT) AS p_micro
    FROM trans t JOIN totals tt USING (prev_type)
    """,
    tags=("ext-events", "markov", "sequence"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (extension — the behavioural-model / next-event-
    prediction primitive): events order by full-resolution time per
    user, each (previous type -> next type) step counts once, and
    row-normalized transition probabilities come out in exact integer
    micros (count * 1e6 div row total).

    Scale shape: one lag window per user partition (the sessionize
    shuffle), then a 25-cell aggregate (|types|^2) — the matrix is
    vocabulary-sized, not data-sized, and partial matrices from
    shards merge by adding counts (the rollup algebra again)."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    ordered = e.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = ordered.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = trans.groupBy("prev_type").agg(F.sum("n").cast("bigint").alias("n_from"))
    return trans.join(totals, "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        "n_from",
        F.expr("n * 1000000 div n_from").cast("bigint").alias("p_micro"),
    )


@register(
    "stream_cms_counts",
    oracle=f"""
    WITH {_CMS_ORACLE_CTES}
    SELECT CAST(e.uid AS BIGINT) AS user_id, e.exact_n, m.est_n,
           m.est_n >= e.exact_n AS never_undercounts,
           m.est_n - e.exact_n AS overcount
    FROM exact e JOIN est m ON e.uid = m.uid
    """,
    tags=("ext-stream", "sketch", "cms", "streaming"),
)
def stream_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming build of the Count-Min sketch
    (extension — completes the streaming-sketch symmetry: HLL merges
    by MAX, the quantile histogram and CMS by ADDITION): the d x w
    cell counts are exactly the state a streaming count aggregation
    keeps, so the sketch builds as an incremental query (complete
    mode, AvailableNow) and the per-key point estimates + exact
    verification tier run batch-side on the materialized cells.
    Cell determinism makes the batch CMS oracle hash-identical."""
    from pangenomesasgraphdatabases_spark.streaming.events import (
        events_stream,
        run_available_now,
    )

    stream = events_stream(spark, sf_dir).select("user_id")
    hashed = None
    for r in range(_CMS_D):
        part = stream.select(
            "user_id",
            F.lit(r).alias("r"),
            _cms_cell(f"cms{r}", "user_id", _CMS_W).alias("cell"),
        )
        hashed = part if hashed is None else hashed.unionByName(part)
    sketch_stream = hashed.groupBy("r", "cell").agg(
        F.count(F.lit(1)).alias("n_cell")
    )
    sketch = run_available_now(sketch_stream, spark, output_mode="complete")

    e = table(spark, sf_dir, "events").select("user_id")
    ucells = None
    for r in range(_CMS_D):
        part = e.select(
            "user_id",
            F.lit(r).alias("r"),
            _cms_cell(f"cms{r}", "user_id", _CMS_W).alias("cell"),
        )
        ucells = part if ucells is None else ucells.unionByName(part)
    est = (
        ucells.distinct()
        .join(F.broadcast(sketch), ["r", "cell"])
        .groupBy("user_id")
        .agg(F.min("n_cell").alias("est_n"))
    )
    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    return exact.join(est, "user_id").select(
        "user_id",
        "exact_n",
        "est_n",
        (F.col("est_n") >= F.col("exact_n")).alias("never_undercounts"),
        (F.col("est_n") - F.col("exact_n")).alias("overcount"),
    )


@register(
    "events_pit_features",
    oracle="""
    WITH v AS (
        SELECT event_id, user_id,
               CAST(epoch(ts) AS BIGINT) AS es,
               CAST(round(value * 1000000) AS BIGINT) AS vm
        FROM events WHERE event_type = 'purchase'
    )
    SELECT event_id, user_id, vm AS value_micro,
           CAST(count(*) OVER w AS BIGINT) AS n_prior_7d,
           CAST(coalesce(sum(vm) OVER w, 0) AS BIGINT) AS sum_prior_7d_micro,
           CAST(CASE WHEN count(*) OVER w > 0
                THEN (sum(vm) OVER w) // (count(*) OVER w) END AS BIGINT)
               AS avg_prior_7d_micro
    FROM v
    WINDOW w AS (PARTITION BY user_id ORDER BY es
                 RANGE BETWEEN 604800 PRECEDING AND 1 PRECEDING)
    """,
    tags=("ext-events", "feature-store", "point-in-time"),
)
def events_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature aggregation (extension — the
    feature-store primitive that prevents label leakage): for every
    purchase, the user's trailing 7-day purchase count/sum/average
    computed over a RANGE frame that ends 1 second BEFORE the current
    event — the feature a model would have seen at serving time,
    never including the event being scored or same-instant peers.
    Value-defined frames are tie-order independent, so both engines
    agree without tie-break columns; the average is an exact integer
    division of exact integer accumulators.

    Scale shape: one shuffle on user_id and one ordered frame scan
    per user — the identical plan shape to sessionize; the range
    bound keeps per-row work proportional to the 7-day event density,
    not history length."""
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    es = F.expr("ts_ns div 1000000000")
    vm = F.round(F.col("value") * 1_000_000).cast("bigint")
    v = e.select("event_id", "user_id", es.alias("es"), vm.alias("vm"))
    v.createOrReplaceTempView("_pit_v")
    return spark.sql(
        """
        SELECT event_id, user_id, vm AS value_micro,
               CAST(count(*) OVER w AS BIGINT) AS n_prior_7d,
               CAST(coalesce(sum(vm) OVER w, 0) AS BIGINT)
                   AS sum_prior_7d_micro,
               CAST(CASE WHEN count(*) OVER w > 0
                    THEN (sum(vm) OVER w) div (count(*) OVER w) END AS BIGINT)
                   AS avg_prior_7d_micro
        FROM _pit_v
        WINDOW w AS (PARTITION BY user_id ORDER BY es
                     RANGE BETWEEN 604800 PRECEDING AND 1 PRECEDING)
        """
    )


@register(
    "events_seasonal_profile",
    oracle="""
    WITH v AS (
        SELECT event_type,
               CAST((CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
                     // 3600) % 24 AS BIGINT) AS hour_of_day,
               CAST(round(value * 1000000) AS BIGINT) AS vm
        FROM events
    ),
    hod AS (
        SELECT event_type, hour_of_day,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(vm) AS BIGINT) AS sum_micro
        FROM v GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, CAST(sum(n_events) AS BIGINT) AS n_total,
               CAST(sum(sum_micro) AS BIGINT) AS sum_total
        FROM hod GROUP BY event_type
    )
    SELECT h.event_type, h.hour_of_day, h.n_events,
           CAST(h.sum_micro // h.n_events AS BIGINT) AS mean_micro,
           CAST(h.n_events * 24 * 1000 // t.n_total AS BIGINT)
               AS volume_lift_milli
    FROM hod h JOIN tot t USING (event_type)
    """,
    tags=("ext-events", "seasonality", "timeseries"),
)
def events_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile per event type (extension —
    the decomposition baseline of time-series anomaly detection: a
    'seasonal naive' forecaster IS this table): per (type, hour),
    event count, exact integer mean value, and the volume lift vs a
    uniform 24-hour split in milli-units (1000 = flat; >1000 = that
    hour is busier than average).  Hour derivation goes through the
    aligned bucket (integer epoch of time_bucket), dodging the
    double-epoch rounding at sub-second boundaries.

    Scale shape: one map-side-combinable aggregation to 24 x |types|
    cells; profiles merge across shards/days by adding counts and
    sums — the rollup algebra — so the baseline maintains
    incrementally and any anomaly scorer joins against a
    KB-sized broadcast table."""
    e = table(spark, sf_dir, "events")
    hod = F.expr(
        "((unix_timestamp(date_trunc('hour', ts)) div 3600) % 24)"
    ).cast("bigint")
    vm = F.round(F.col("value") * 1_000_000).cast("bigint")
    h = e.groupBy("event_type", hod.alias("hour_of_day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(vm).cast("bigint").alias("sum_micro"),
    )
    tot = h.groupBy("event_type").agg(
        F.sum("n_events").cast("bigint").alias("n_total"),
    )
    return h.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "hour_of_day",
        "n_events",
        F.expr("sum_micro div n_events").cast("bigint").alias("mean_micro"),
        F.expr("n_events * 24 * 1000 div n_total")
        .cast("bigint")
        .alias("volume_lift_milli"),
    )


@register(
    "events_autocorr_lag1",
    oracle="""
    WITH buckets AS (
        SELECT event_type,
               CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
                   AS bucket,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    lagged AS (
        SELECT event_type, x,
               lag(x) OVER (PARTITION BY event_type ORDER BY bucket) AS xp
        FROM buckets
    ),
    acc AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(CASE WHEN xp IS NOT NULL THEN x * xp ELSE 0 END)
                    AS BIGINT) AS sxxp,
               CAST(count(xp) AS BIGINT) AS n_pairs
        FROM lagged GROUP BY event_type
    )
    SELECT event_type, n, n_pairs, sx, sxx, sxxp,
           CAST((n * sxxp - sx * sx) // (n * sxx - sx * sx) * 1000
                + ((n * sxxp - sx * sx) % (n * sxx - sx * sx)) * 1000
                  // (n * sxx - sx * sx) AS BIGINT) AS autocorr_milli
    FROM acc
    """,
    tags=("ext-events", "autocorrelation", "timeseries"),
)
def events_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of hourly event counts per type
    (extension — the burstiness / temporal-dependence statistic that
    decides whether a rate forecast needs more than the seasonal
    baseline): the circular-style estimator
    (n*sum(x_t*x_{t-1}) - sx^2) / (n*sxx - sx^2) from exact integer
    accumulators, emitted in milli-units via the same staged integer
    division as the OLS slope (both engines truncate identically).
    Near 0 = hourly counts are independent; near 1000 = strongly
    persistent.

    Scale shape: the series is the bucket table (tiny), the lag is a
    per-type window over it, and the accumulators merge by addition
    — identical cost profile to the incremental rollup."""
    e = table(spark, sf_dir, "events")
    buckets = e.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", "ts")).cast("bigint").alias("bucket"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    w = Window.partitionBy("event_type").orderBy("bucket")
    lagged = buckets.withColumn("xp", F.lag("x").over(w))
    acc = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(
            F.when(F.col("xp").isNotNull(), F.col("x") * F.col("xp")).otherwise(0)
        )
        .cast("bigint")
        .alias("sxxp"),
        F.count("xp").cast("bigint").alias("n_pairs"),
    )
    return acc.select(
        "event_type",
        "n",
        "n_pairs",
        "sx",
        "sxx",
        "sxxp",
        F.expr(
            "CAST((n * sxxp - sx * sx) div (n * sxx - sx * sx) * 1000"
            " + ((n * sxxp - sx * sx) % (n * sxx - sx * sx)) * 1000"
            "   div (n * sxx - sx * sx) AS BIGINT)"
        ).alias("autocorr_milli"),
    )


# Windowed heavy hitters: per-hour CMS partials (depth 4 x width 128)
# + the phi = 2% per-window threshold.
_WHH_PHI_DEN = 50  # threshold = N_window div 50


@register(
    "events_windowed_heavy_hitters",
    oracle=f"""
    WITH ev AS (
        SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
                   AS window_start,
               CAST(user_id AS VARCHAR) AS uid
        FROM events
    ),
    hashed AS (
        {" UNION ALL ".join(
            f'''SELECT window_start, uid, {r} AS r,
               CAST(('0x' || substr(md5('cms{r}' || uid), 1, 7)) AS BIGINT)
                   % {128} AS cell
            FROM ev''' for r in range(4)
        )}
    ),
    sketch AS (
        SELECT window_start, r, cell, CAST(count(*) AS BIGINT) AS n_cell
        FROM hashed GROUP BY 1, 2, 3
    ),
    wtotals AS (
        SELECT window_start, CAST(count(*) AS BIGINT) AS n_window
        FROM ev GROUP BY 1
    ),
    ucells AS (SELECT DISTINCT window_start, uid, r, cell FROM hashed),
    est AS (
        SELECT u.window_start, u.uid, min(s.n_cell) AS est_n
        FROM ucells u JOIN sketch s
          ON u.window_start = s.window_start AND u.r = s.r AND u.cell = s.cell
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT window_start, uid, CAST(count(*) AS BIGINT) AS exact_n
        FROM ev GROUP BY 1, 2
    )
    SELECT e.window_start, CAST(e.uid AS BIGINT) AS user_id,
           e.exact_n, m.est_n, t.n_window,
           m.est_n >= t.n_window // {_WHH_PHI_DEN} AS is_heavy_est,
           e.exact_n >= t.n_window // {_WHH_PHI_DEN} AS is_heavy_exact,
           (m.est_n >= t.n_window // {_WHH_PHI_DEN})
               OR NOT (e.exact_n >= t.n_window // {_WHH_PHI_DEN})
               AS no_false_negative
    FROM exact e
    JOIN est m ON e.window_start = m.window_start AND e.uid = m.uid
    JOIN wtotals t ON e.window_start = t.window_start
    """,
    tags=("ext-events", "sketch", "cms", "heavy-hitters", "window"),
)
def events_windowed_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window heavy hitters from per-window CMS partials
    (extension — the windowed composition of `events_heavy_hitters`,
    and the pattern a streaming top-talkers monitor runs: one sketch
    per tumbling hour, heavy = estimate >= 2% of that window's
    volume).  The one-sided CMS guarantee holds PER WINDOW
    (`no_false_negative` uniformly true, driver-hashed); exact counts
    ride along as the verification tier.

    Scale shape: sketch cells are keyed (window, r, cell) — bounded
    state per window, additive merge across shards, exactly what a
    foreachBatch store would persist; the candidate estimate joins on
    the same keys.  A production monitor drops the exact tier and reports
    only est >= threshold."""
    e = table(spark, sf_dir, "events").select(
        F.unix_timestamp(F.date_trunc("hour", "ts"))
        .cast("bigint")
        .alias("window_start"),
        F.col("user_id").cast("string").alias("uid"),
    )
    hashed = None
    for r in range(4):
        part = e.select(
            "window_start",
            "uid",
            F.lit(r).alias("r"),
            _cms_cell(f"cms{r}", "uid", 128).alias("cell"),
        )
        hashed = part if hashed is None else hashed.unionByName(part)
    sketch = hashed.groupBy("window_start", "r", "cell").agg(
        F.count(F.lit(1)).alias("n_cell")
    )
    wtotals = e.groupBy("window_start").agg(F.count(F.lit(1)).alias("n_window"))
    est = (
        hashed.distinct()
        .join(sketch, ["window_start", "r", "cell"])
        .groupBy("window_start", "uid")
        .agg(F.min("n_cell").alias("est_n"))
    )
    exact = e.groupBy("window_start", "uid").agg(
        F.count(F.lit(1)).alias("exact_n")
    )
    th = F.expr(f"n_window div {_WHH_PHI_DEN}")
    return (
        exact.join(est, ["window_start", "uid"])
        .join(wtotals, "window_start")
        .select(
            "window_start",
            F.col("uid").cast("bigint").alias("user_id"),
            "exact_n",
            "est_n",
            "n_window",
            (F.col("est_n") >= th).alias("is_heavy_est"),
            (F.col("exact_n") >= th).alias("is_heavy_exact"),
            ((F.col("est_n") >= th) | ~(F.col("exact_n") >= th)).alias(
                "no_false_negative"
            ),
        )
    )


@register(
    "events_time_weighted_avg",
    oracle="""
    WITH seg AS (
        SELECT user_id,
               CAST(round(value * 1000) AS BIGINT) AS v_milli,
               (lead(epoch_ns(ts)) OVER (
                    PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
                - epoch_ns(ts)) // 1000000 AS dur_ms
        FROM events
    ),
    acc AS (
        SELECT user_id,
               CAST(count(dur_ms) AS BIGINT) AS n_segments,
               CAST(sum(v_milli * dur_ms) AS BIGINT) AS num_milli_ms,
               CAST(sum(dur_ms) AS BIGINT) AS total_ms
        FROM seg WHERE dur_ms IS NOT NULL
        GROUP BY user_id
    )
    SELECT user_id, n_segments, num_milli_ms, total_ms,
           CAST(num_milli_ms // total_ms * 1000
                + (num_milli_ms % total_ms) * 1000 // total_ms AS BIGINT)
               AS twa_micro
    FROM acc WHERE total_ms > 0
    """,
    tags=("ext-analytics", "time-weighted", "feature"),
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (extension — the
    irregular-sampling mean of sensor/metric pipelines, where a plain
    AVG over-weights bursts): each event's value holds until the next
    event, so the mean is sum(value x holding-duration) / sum(duration),
    last observation carrying no weight.  All arithmetic is exact
    integer fixed-point — value in millis, duration in whole ms from
    the exact nanosecond epoch (ts_ns div, never a double divide), and
    the final micro-precision ratio via STAGED integer division
    (quotient*1000 + remainder*1000 div denominator) so nothing
    overflows and no float crosses engines.  Magnitude audit:
    |v_milli| <= 5e5, per-user sum(dur_ms) <= dataset span (~2.6e9 ms)
    => |num| <= 1.3e15, far inside int64.

    Scale shape: one per-user window (lead) + one map-side-combinable
    aggregation on the same key — a single shuffle, reused."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    seg = e.select(
        "user_id",
        "event_id",
        "ts_ns",
        F.round(F.col("value") * 1000).cast("bigint").alias("v_milli"),
    ).withColumn("lead_ns", F.lead("ts_ns").over(w))
    seg = seg.withColumn("dur_ms", F.expr("(lead_ns - ts_ns) div 1000000")).filter(
        F.col("dur_ms").isNotNull()
    )
    acc = seg.groupBy("user_id").agg(
        F.count("dur_ms").alias("n_segments"),
        F.sum(F.col("v_milli") * F.col("dur_ms")).cast("bigint").alias("num_milli_ms"),
        F.sum("dur_ms").cast("bigint").alias("total_ms"),
    )
    return acc.filter(F.col("total_ms") > 0).select(
        "user_id",
        "n_segments",
        "num_milli_ms",
        "total_ms",
        F.expr(
            "CAST(num_milli_ms div total_ms * 1000"
            " + (num_milli_ms % total_ms) * 1000 div total_ms AS BIGINT)"
        ).alias("twa_micro"),
    )


@register(
    "events_tv_drift",
    oracle="""
    WITH binned AS (
        SELECT event_type,
               CAST(epoch_ns(ts) // 1000000000 // 604800 AS BIGINT) AS week,
               CAST(least(CAST(round(value * 1000) AS BIGINT) // 50000, 9)
                    AS BIGINT) AS bin
        FROM events
    ),
    scaffold AS (
        SELECT t.event_type, w.week, b.i AS bin
        FROM (SELECT DISTINCT event_type FROM binned) t
        CROSS JOIN (SELECT DISTINCT week FROM binned) w
        CROSS JOIN generate_series(0, 9) b(i)
    ),
    cnt AS (
        SELECT event_type, week, bin, CAST(count(*) AS BIGINT) AS n
        FROM binned GROUP BY 1, 2, 3
    ),
    shares AS (
        SELECT s.event_type, s.week, s.bin,
               coalesce(c.n, 0) AS n,
               CAST(coalesce(c.n, 0) * 1000000
                    // sum(coalesce(c.n, 0)) OVER (
                         PARTITION BY s.event_type, s.week) AS BIGINT)
                   AS share_micro
        FROM scaffold s LEFT JOIN cnt c
          ON s.event_type = c.event_type AND s.week = c.week AND s.bin = c.bin
    ),
    weeksum AS (
        SELECT event_type, week, CAST(sum(n) AS BIGINT) AS week_n
        FROM shares GROUP BY 1, 2
    )
    SELECT a.event_type, b.week AS week,
           CAST(sum(abs(a.share_micro - b.share_micro)) // 2 AS BIGINT)
               AS tv_micro
    FROM shares a
    JOIN shares b ON a.event_type = b.event_type
                 AND b.week = a.week + 1 AND a.bin = b.bin
    JOIN weeksum wa ON wa.event_type = a.event_type AND wa.week = a.week
    JOIN weeksum wb ON wb.event_type = b.event_type AND wb.week = b.week
    WHERE wa.week_n > 0 AND wb.week_n > 0
    GROUP BY 1, 2
    """,
    tags=("ext-analytics", "drift", "tv-distance"),
)
def events_tv_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week distribution drift per event type, as the exact
    total-variation distance between value histograms (extension —
    the data-drift monitor of every production feature pipeline).
    Values bin into a FIXED 10-bucket grid (50-unit millis buckets,
    top bucket open) on a scaffold of all (type, week, bin) cells, so
    bins missing from one week still contribute |p - 0| and the two
    weekly vectors always align — no outer-join edge cases.  Shares
    are integer micros (count*1e6 div week-total), TV = sum|p-q| div
    2 — exact, order-independent, identical across engines.  Week
    pairs where either side has zero events are excluded (drift
    against an empty distribution is undefined, not 100%).

    Scale shape: one groupBy on (type, week, bin); the scaffold is
    |types| x |weeks| x 10 — metadata-sized; the pairing join is an
    equi-join on (type, bin) + week arithmetic over scaffold-sized
    frames.  The raw-events shuffle happens once."""
    e = table(spark, sf_dir, "events")
    # Explicit integer div for the bin (Spark's / divides as double).
    binned = e.select(
        "event_type",
        F.expr("CAST(ts_ns div 1000000000 div 604800 AS BIGINT)").alias("week"),
        F.expr(
            "CAST(least(CAST(round(value * 1000) AS BIGINT) div 50000, 9) AS BIGINT)"
        ).alias("bin"),
    )
    types = binned.select("event_type").distinct()
    weeks = binned.select("week").distinct()
    bins = spark.range(0, 10).select(F.col("id").cast("bigint").alias("bin"))
    scaffold = types.crossJoin(weeks).crossJoin(F.broadcast(bins))
    cnt = binned.groupBy("event_type", "week", "bin").agg(
        F.count(F.lit(1)).alias("n")
    )
    joined = scaffold.join(cnt, ["event_type", "week", "bin"], "left").select(
        "event_type",
        "week",
        "bin",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
    )
    w_tot = Window.partitionBy("event_type", "week")
    shares = joined.select(
        "event_type",
        "week",
        "bin",
        "n",
        F.expr("n * 1000000").alias("_scaled"),
        F.sum("n").over(w_tot).alias("_week_n"),
    ).select(
        "event_type",
        "week",
        "bin",
        "n",
        "_week_n",
        F.expr("CAST(_scaled div _week_n AS BIGINT)").alias("share_micro"),
    )
    a = shares.select(
        "event_type",
        F.col("week").alias("week_a"),
        "bin",
        F.col("share_micro").alias("p"),
        F.col("_week_n").alias("na"),
    )
    b = shares.select(
        "event_type",
        F.col("week").alias("week"),
        "bin",
        F.col("share_micro").alias("q"),
        F.col("_week_n").alias("nb"),
    )
    return (
        a.join(
            b,
            (a.event_type == b.event_type)
            & (b.week == a.week_a + 1)
            & (a.bin == b.bin),
        )
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .groupBy(a.event_type.alias("event_type"), "week")
        .agg(
            F.expr("CAST(sum(abs(p - q)) div 2 AS BIGINT)").alias("tv_micro")
        )
    )


@register(
    "events_cusum_changepoint",
    oracle="""
    WITH v AS (
        SELECT user_id, event_id,
               CAST(epoch_ns(ts) // 1000000000 AS BIGINT) AS es,
               epoch_ns(ts) AS ts_ns,
               CAST(round(value * 1000) AS BIGINT) AS v_milli
        FROM events
    ),
    gm AS (
        SELECT CAST(sum(v_milli) // count(*) AS BIGINT) AS gm_milli FROM v
    ),
    cs AS (
        SELECT user_id, event_id, es,
               CAST(sum(v_milli - gm.gm_milli) OVER (
                    PARTITION BY user_id ORDER BY ts_ns, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cusum_milli
        FROM v CROSS JOIN gm
    ),
    stats AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(max(cusum_milli) AS BIGINT) AS max_cusum_milli,
               CAST(min(cusum_milli) AS BIGINT) AS min_cusum_milli,
               CAST(max(abs(cusum_milli)) AS BIGINT) AS peak_abs_milli
        FROM cs GROUP BY user_id
    )
    SELECT s.user_id, s.n_events, s.max_cusum_milli, s.min_cusum_milli,
           s.peak_abs_milli,
           CAST(min(c.es) AS BIGINT) AS peak_es
    FROM stats s
    JOIN cs c ON c.user_id = s.user_id
              AND abs(c.cusum_milli) = s.peak_abs_milli
    GROUP BY 1, 2, 3, 4, 5
    """,
    tags=("ext-analytics", "cusum", "changepoint"),
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point statistic per user (extension — the classic
    sequential drift detector): running sum of deviations from the
    GLOBAL mean (integer millis, mean as one exact integer division),
    reporting each user's max / min excursion, the peak |CUSUM|
    magnitude, and the earliest second at which the peak is attained
    (min-join on the peak value — deterministic without arg_max tie
    ambiguity).  A user whose behaviour shifts mid-stream shows a
    V-shaped CUSUM with a large peak; stationary users hover near 0.

    Scale shape: the global mean is a scalar broadcast; the running
    sum is a per-user window; the peak-position lookup is a self-join
    on (user, peak) against the user-sized stats frame.  Two shuffles
    on user_id, both AQE-coalesced."""
    e = table(spark, sf_dir, "events")
    v = e.select(
        "user_id",
        "event_id",
        F.expr("CAST(ts_ns div 1000000000 AS BIGINT)").alias("es"),
        "ts_ns",
        F.round(F.col("value") * 1000).cast("bigint").alias("v_milli"),
    )
    gm = v.agg(
        F.expr("CAST(sum(v_milli) div count(*) AS BIGINT)").alias("gm_milli")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cs = v.crossJoin(F.broadcast(gm)).withColumn(
        "cusum_milli",
        F.sum(F.col("v_milli") - F.col("gm_milli")).over(w).cast("bigint"),
    )
    stats = cs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("cusum_milli").cast("bigint").alias("max_cusum_milli"),
        F.min("cusum_milli").cast("bigint").alias("min_cusum_milli"),
        F.max(F.abs(F.col("cusum_milli"))).cast("bigint").alias("peak_abs_milli"),
    )
    peaks = cs.select("user_id", "es", F.abs(F.col("cusum_milli")).alias("_abs"))
    return (
        stats.join(
            peaks,
            (stats.user_id == peaks.user_id)
            & (peaks._abs == stats.peak_abs_milli),
        )
        .groupBy(
            stats.user_id.alias("user_id"),
            "n_events",
            "max_cusum_milli",
            "min_cusum_milli",
            "peak_abs_milli",
        )
        .agg(F.min("es").cast("bigint").alias("peak_es"))
    )


@register(
    "stream_session_windows",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us FROM events
    ),
    marked AS (
        SELECT user_id, us,
               CASE WHEN lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w >= 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_s
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    sess AS (
        SELECT user_id, us,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_no
        FROM marked
    )
    SELECT user_id,
           CAST(floor(min(us) / 1000000) AS BIGINT) AS session_start,
           CAST(floor(max(us) / 1000000) + 1800 AS BIGINT) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess
    GROUP BY user_id, session_no
    """,
    tags=("ext-stream", "streaming", "session-window"),
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming execution of gap-based sessionization via the
    built-in `session_window` stateful operator (extension — the
    streaming twin of events_sessionize): sessions close when 30
    minutes pass without a user event; `w.end` is last-event + gap by
    session-window semantics, so the oracle reconstructs the same
    sessions with a lag/cumsum split at microsecond precision (a new
    session starts when the gap is >= 30 min — session_window merges
    only strictly-overlapping [ts, ts+gap) windows).  With the file as
    one AvailableNow micro-batch the complete-mode store holds the
    final merged sessions, so the batch SQL oracles it.

    Scale shape: session state is per-user and expires with the
    watermark — bounded by active users, not history; the oracle-side
    window sort is per-user too.  The marked/cumsum SQL ordering needs
    only (us) because the sessionize grouping collapses ties into the
    same session regardless of intra-tie order."""
    from pangenomesasgraphdatabases_spark.streaming.events import (
        events_stream,
        run_available_now,
        session_window_stream,
    )

    out = run_available_now(
        session_window_stream(events_stream(spark, sf_dir)), spark
    )
    return out.select(
        "user_id",
        F.col("session_start").cast("bigint"),
        F.col("session_end").cast("bigint"),
        F.col("n_events").cast("bigint"),
    )


_PSI_SHIFT = 25  # 2^25 micros ≈ 33.6 value units per drift bin


@register(
    "events_psi_drift",
    oracle=f"""
    WITH binned AS (
        SELECT CAST(round(value * 1000000) AS BIGINT) // {1 << _PSI_SHIFT}
                   AS bin,
               event_id % 2 AS side
        FROM events
    ),
    counts AS (
        SELECT bin,
               CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT CAST(sum(n_a) AS BIGINT) AS na,
               CAST(sum(n_b) AS BIGINT) AS nb,
               CAST(count(*) AS BIGINT) AS nbins
        FROM counts
    )
    SELECT c.bin, c.n_a, c.n_b,
           CAST((c.n_a + 1) * 1000000 // (t.na + t.nbins) AS BIGINT)
               AS p_ppm,
           CAST((c.n_b + 1) * 1000000 // (t.nb + t.nbins) AS BIGINT)
               AS q_ppm,
           CAST(((c.n_a + 1) * 1000000 // (t.na + t.nbins))
                - ((c.n_b + 1) * 1000000 // (t.nb + t.nbins)) AS BIGINT)
           * CAST(round(ln(
                 (CAST((c.n_a + 1) AS DOUBLE) * CAST((t.nb + t.nbins) AS DOUBLE))
                 / (CAST((c.n_b + 1) AS DOUBLE) * CAST((t.na + t.nbins) AS DOUBLE))
             ) * 10000) AS BIGINT) AS psi_contrib_e10
    FROM counts c CROSS JOIN tot t
    """,
    tags=("ext-events", "drift", "psi"),
)
def events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift report between two event
    populations (extension — the ML-monitoring standard next to the
    total-variation distance of events_tv_drift): `value` binned to a
    fixed power-of-two micro grid, populations split deterministically
    by event_id parity, Laplace-smoothed (+1 per present bin) so empty
    cells never divide by zero.  Per-bin PSI contribution
    (p - q) * ln(p/q) is emitted exactly: shares as integer ppm, the
    log quantized to 1e-4 BEFORE the product (the doc_char_entropy
    libm-parity idiom), so the total PSI is an exact bigint sum the
    caller folds.

    Scale shape: one map-side-combinable shuffle to the bin histogram
    (bounded by the value domain / 2^{shift}, not the row count); the
    scalar totals broadcast back via a 1-row cross join.  The split
    predicate is a pure column — swap in a date boundary for real
    before/after drift."""
    e = table(spark, sf_dir, "events")
    binned = e.select(
        F.expr(
            f"CAST(round(value * 1000000) AS BIGINT) div {1 << _PSI_SHIFT}"
        ).alias("bin"),
        (F.col("event_id") % 2).alias("side"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    tot = counts.agg(
        F.sum("n_a").cast("bigint").alias("na"),
        F.sum("n_b").cast("bigint").alias("nb"),
        F.count(F.lit(1)).cast("bigint").alias("nbins"),
    )
    j = counts.crossJoin(F.broadcast(tot))
    p_ppm = F.expr("(n_a + 1) * 1000000L div (na + nbins)")
    q_ppm = F.expr("(n_b + 1) * 1000000L div (nb + nbins)")
    ln_ratio_e4 = F.round(
        F.log(
            (
                (F.col("n_a") + 1).cast("double")
                * (F.col("nb") + F.col("nbins")).cast("double")
            )
            / (
                (F.col("n_b") + 1).cast("double")
                * (F.col("na") + F.col("nbins")).cast("double")
            )
        )
        * 10000
    ).cast("bigint")
    return j.select(
        "bin",
        "n_a",
        "n_b",
        p_ppm.cast("bigint").alias("p_ppm"),
        q_ppm.cast("bigint").alias("q_ppm"),
        ((p_ppm - q_ppm) * ln_ratio_e4).cast("bigint").alias("psi_contrib_e10"),
    )


events_psi_drift.__doc__ = events_psi_drift.__doc__.replace(
    "{shift}", str(_PSI_SHIFT)
)


# Two-proportion z statistic from exact integer counts — ONE text,
# evaluated by both engines (the functions/stats.py discipline), so
# the doubles agree bit-for-bit.
_AB_Z_SQL = (
    "((CAST(x0 AS DOUBLE)/CAST(n0 AS DOUBLE)"
    " - CAST(x1 AS DOUBLE)/CAST(n1 AS DOUBLE))"
    " / nullif(sqrt((CAST(x0 + x1 AS DOUBLE)/CAST(n0 + n1 AS DOUBLE))"
    " * (1.0 - CAST(x0 + x1 AS DOUBLE)/CAST(n0 + n1 AS DOUBLE))"
    " * (1.0/CAST(n0 AS DOUBLE) + 1.0/CAST(n1 AS DOUBLE))), 0.0))"
)


def _ab_oracle() -> str:
    from pangenomesasgraphdatabases_spark.functions.stats import z_pvalue_sql

    return f"""
    WITH arms AS (
        SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n0,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1
        FROM (SELECT DISTINCT user_id, user_id % 2 AS arm FROM events)
    ),
    per_user AS (
        SELECT event_type, user_id, user_id % 2 AS arm,
               CAST(count(*) AS BIGINT) AS n_ev
        FROM events GROUP BY 1, 2, 3
    ),
    typetot AS (
        SELECT event_type, CAST(sum(n_ev) AS BIGINT) AS tot,
               CAST(count(*) AS BIGINT) AS nu
        FROM per_user GROUP BY event_type
    ),
    conv AS (
        SELECT p.event_type,
               CAST(sum(CASE WHEN p.arm = 0 AND p.n_ev * t.nu > t.tot
                        THEN 1 ELSE 0 END) AS BIGINT) AS x0,
               CAST(sum(CASE WHEN p.arm = 1 AND p.n_ev * t.nu > t.tot
                        THEN 1 ELSE 0 END) AS BIGINT) AS x1
        FROM per_user p JOIN typetot t ON p.event_type = t.event_type
        GROUP BY p.event_type
    )
    SELECT c.event_type, a.n0, a.n1, c.x0, c.x1,
           {_AB_Z_SQL} AS z,
           {z_pvalue_sql(_AB_Z_SQL)} AS p_two_sided
    FROM conv c CROSS JOIN arms a
    """


@register(
    "events_ab_test_ztest",
    oracle=_ab_oracle(),
    tags=("ext-events", "ab-test", "F14"),
)
def events_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B-test conversion comparison (extension — the experimentation
    primitive next to the Welch t family): users split into two arms
    by user_id parity; for each event type, the fraction of each arm's
    users who are HEAVY users of it (strictly above the type's mean
    per-user count — an exact-integer n_ev * n_users > total comparison
    that keeps proportions off the degenerate 0/1 boundary where the
    pooled variance vanishes; the nullif guard still returns NULL z if
    a type saturates) is compared with the two-proportion pooled
    z-test, two-sided p via the shared A&S erfc fragment
    (functions/stats.z_pvalue_sql — same TEXT both engines, the
    welch_ttest_pvalue discipline).  All counts are exact distinct
    integers; the only floats are the final z/p computed from them by
    one shared expression.

    Scale shape: arm sizes are one distinct-user aggregation;
    per-type conversions are one count-distinct shuffle keyed by
    event_type; the 1-row arm frame broadcasts via cross join.  In
    production the arm hash comes from the experiment assignment
    column instead of id parity."""
    from pangenomesasgraphdatabases_spark.functions.stats import z_pvalue_sql

    e = table(spark, sf_dir, "events")
    arms = (
        e.select("user_id", (F.col("user_id") % 2).alias("arm"))
        .distinct()
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n0"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n1"),
        )
    )
    per_user = e.groupBy(
        "event_type", "user_id", (F.col("user_id") % 2).alias("arm")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_ev"))
    typetot = per_user.groupBy("event_type").agg(
        F.sum("n_ev").cast("bigint").alias("tot"),
        F.count(F.lit(1)).cast("bigint").alias("nu"),
    )
    above = F.col("n_ev") * F.col("nu") > F.col("tot")
    conv = (
        per_user.join(F.broadcast(typetot), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(F.when((F.col("arm") == 0) & above, 1).otherwise(0))
            .cast("bigint")
            .alias("x0"),
            F.sum(F.when((F.col("arm") == 1) & above, 1).otherwise(0))
            .cast("bigint")
            .alias("x1"),
        )
    )
    return conv.crossJoin(F.broadcast(arms)).select(
        "event_type",
        "n0",
        "n1",
        "x0",
        "x1",
        F.expr(_AB_Z_SQL).alias("z"),
        F.expr(z_pvalue_sql(_AB_Z_SQL)).alias("p_two_sided"),
    )


_MI_SHIFT = 26  # 2^26 micros ≈ 67 value units per MI bin


@register(
    "events_mutual_info",
    oracle=f"""
    WITH cells AS (
        SELECT event_type,
               CAST(round(value * 1000000) AS BIGINT) // {1 << _MI_SHIFT}
                   AS bin,
               CAST(count(*) AS BIGINT) AS n_tb
        FROM events GROUP BY 1, 2
    ),
    mt AS (SELECT event_type, CAST(sum(n_tb) AS BIGINT) AS n_t
           FROM cells GROUP BY event_type),
    mb AS (SELECT bin, CAST(sum(n_tb) AS BIGINT) AS n_b
           FROM cells GROUP BY bin),
    tot AS (SELECT CAST(sum(n_tb) AS BIGINT) AS n FROM cells)
    SELECT c.event_type, c.bin, c.n_tb, t.n_t, b.n_b,
           c.n_tb * CAST(round(ln(
               (CAST(c.n_tb AS DOUBLE) * CAST(tt.n AS DOUBLE))
               / (CAST(t.n_t AS DOUBLE) * CAST(b.n_b AS DOUBLE))
           ) * 10000) AS BIGINT) AS mi_contrib_e4
    FROM cells c
    JOIN mt t ON c.event_type = t.event_type
    JOIN mb b ON c.bin = b.bin
    CROSS JOIN tot tt
    """,
    tags=("ext-events", "mutual-information", "feature-relevance"),
)
def events_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and value bucket
    (extension — the feature-relevance screen run before training:
    which categorical features carry signal about a target): value
    binned on a fixed power-of-two micro grid, MI decomposed into its
    per-cell contributions n_tb * ln(n_tb * N / (n_t * n_b)), the log
    quantized to 1e-4 before the integer product (the PSI/entropy
    idiom), so MI totals are exact bigint sums in e-4 nat units per
    observation.

    Scale shape: one map-side-combinable shuffle to the (type, bin)
    contingency cells — bounded by the domain product, not rows; the
    marginals reduce from the cells (never from raw data) and join
    back on bounded keys; the scalar N broadcasts."""
    e = table(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type",
        F.expr(
            f"CAST(round(value * 1000000) AS BIGINT) div {1 << _MI_SHIFT}"
        ).alias("bin"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_tb"))
    mt = cells.groupBy("event_type").agg(
        F.sum("n_tb").cast("bigint").alias("n_t")
    )
    mb = cells.groupBy("bin").agg(F.sum("n_tb").cast("bigint").alias("n_b"))
    tot = cells.agg(F.sum("n_tb").cast("bigint").alias("n"))
    ln_e4 = F.round(
        F.log(
            (F.col("n_tb").cast("double") * F.col("n").cast("double"))
            / (F.col("n_t").cast("double") * F.col("n_b").cast("double"))
        )
        * 10000
    ).cast("bigint")
    return (
        cells.join(mt, "event_type")
        .join(F.broadcast(mb), "bin")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "bin",
            "n_tb",
            "n_t",
            "n_b",
            (F.col("n_tb") * ln_e4).cast("bigint").alias("mi_contrib_e4"),
        )
    )


@register(
    "stream_sliding_avg",
    oracle="""
    WITH e AS (
        SELECT event_type, epoch_us(ts) AS us,
               CAST(round(value * 1000000) AS BIGINT) AS vm
        FROM events
    ),
    slots AS (
        SELECT event_type, vm,
               (us // 300000000) * 300 AS w FROM e
        UNION ALL
        SELECT event_type, vm,
               (us // 300000000) * 300 - 300 AS w FROM e
    )
    SELECT CAST(w AS BIGINT) AS window_start, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(vm) AS BIGINT) // count(*) AS avg_value_micro
    FROM slots GROUP BY 1, 2
    """,
    tags=("ext-stream", "streaming", "sliding-window"),
)
def stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming execution of the 10-minute/5-minute sliding
    average (streaming/events.sliding_counts_stream) — the overlap
    window every event lands in exactly twice; the oracle materializes
    both slots per event with exact integer microsecond floors and the
    same exact fixed-point integer average.  Completes the streaming
    twin matrix: every batch window family (tumbling, sliding,
    session) now has a driver-hashed streaming counterpart
    (extension).

    Scale shape: sliding windows multiply state by window/slide = 2
    here; watermark expiry bounds it by active windows per type."""
    from pangenomesasgraphdatabases_spark.streaming.events import (
        events_stream,
        run_available_now,
        sliding_counts_stream,
    )

    return run_available_now(
        sliding_counts_stream(events_stream(spark, sf_dir)), spark
    )


@register(
    "events_user_sequence_entropy",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id) AS prev_type
        FROM events
    ),
    trans AS (
        SELECT user_id, prev_type, event_type,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2, 3
    ),
    marg AS (
        SELECT user_id, prev_type, CAST(sum(n_ab) AS BIGINT) AS n_a
        FROM trans GROUP BY 1, 2
    )
    SELECT t.user_id,
           CAST(sum(t.n_ab) AS BIGINT) AS n_transitions,
           CAST(-sum(t.n_ab * CAST(round(ln(CAST(t.n_ab AS DOUBLE)
                / CAST(m.n_a AS DOUBLE)) * 10000) AS BIGINT)) AS BIGINT)
               AS nll_e4
    FROM trans t
    JOIN marg m ON t.user_id = m.user_id AND t.prev_type = m.prev_type
    GROUP BY t.user_id
    """,
    tags=("ext-events", "entropy", "sequence"),
)
def events_user_sequence_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioural predictability (extension — the first-order
    Markov negative log-likelihood of each user's own event sequence:
    low total = habitual/bot-like, high = erratic — the sequence twin
    of the bot/anomaly family): transitions counted per (user, from,
    to), conditional log-probs quantized to 1e-4 per DISTINCT cell
    before the exact integer reduction (the entropy/MI idiom), so the
    per-user total is an exact bigint in e-4 nat units.

    Scale shape: ONE per-user event-time window builds the lag pairs
    (the sessionize partitioning — bounded per user); transition and
    marginal counts reduce to at most |types|^2 rows per user and
    join on those bounded keys."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    seq = e.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy("user_id", "prev_type", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ab")
    )
    marg = trans.groupBy("user_id", "prev_type").agg(
        F.sum("n_ab").cast("bigint").alias("n_a")
    )
    ln_e4 = F.round(
        F.log(F.col("n_ab").cast("double") / F.col("n_a").cast("double"))
        * 10000
    ).cast("bigint")
    return (
        trans.join(marg, ["user_id", "prev_type"])
        .groupBy("user_id")
        .agg(
            F.sum("n_ab").cast("bigint").alias("n_transitions"),
            (-F.sum(F.col("n_ab") * ln_e4)).cast("bigint").alias("nll_e4"),
        )
    )


# CUPED scalar fragments — one text, both engines (the _AB_Z_SQL
# discipline).  All inputs are exact bigint sums over whole-unit
# values; theta and the adjusted means are the only floats.
_CUPED_THETA_SQL = (
    "((CAST(nu AS DOUBLE) * spp - CAST(spre AS DOUBLE) * spost)"
    " / nullif(CAST(nu AS DOUBLE) * sprepre"
    " - CAST(spre AS DOUBLE) * spre, 0.0))"
)


def _cuped_oracle() -> str:
    return f"""
    WITH days AS (
        SELECT user_id, user_id % 2 AS arm,
               epoch(ts) // 86400 AS day,
               CAST(round(value) AS BIGINT) AS vu
        FROM events
    ),
    bound AS (
        SELECT CAST((min(day) + max(day) + 1) // 2 AS BIGINT) AS d
        FROM days
    ),
    per_user AS (
        SELECT t.user_id, t.arm,
               CAST(sum(CASE WHEN t.day < b.d THEN t.vu ELSE 0 END)
                   AS BIGINT) AS pre,
               CAST(sum(CASE WHEN t.day >= b.d THEN t.vu ELSE 0 END)
                   AS BIGINT) AS post
        FROM days t CROSS JOIN bound b
        GROUP BY t.user_id, t.arm
    ),
    g AS (
        SELECT CAST(count(*) AS BIGINT) AS nu,
               CAST(sum(pre) AS BIGINT) AS spre,
               CAST(sum(post) AS BIGINT) AS spost,
               CAST(sum(pre * post) AS BIGINT) AS spp,
               CAST(sum(pre * pre) AS BIGINT) AS sprepre
        FROM per_user
    )
    SELECT u.arm,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(u.post) AS BIGINT) AS post_total,
           CAST(sum(u.pre) AS BIGINT) AS pre_total,
           (CAST(sum(u.post) AS DOUBLE) / count(*))
               - {_CUPED_THETA_SQL}
                 * ((CAST(sum(u.pre) AS DOUBLE) / count(*))
                    - (CAST(g.spre AS DOUBLE) / g.nu))
               AS adj_post_mean
    FROM per_user u CROSS JOIN g
    GROUP BY u.arm, g.nu, g.spre, g.spost, g.spp, g.sprepre
    """


@register(
    "events_cuped_adjustment",
    oracle=_cuped_oracle(),
    tags=("ext-events", "ab-test", "cuped"),
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout (extension — the
    pre-experiment covariate adjustment every large experimentation
    platform applies before the t-test: subtract theta times each
    user's pre-period deviation, cutting metric variance by the
    pre/post correlation squared): users split into arms by parity,
    the calendar midpoint splits pre/post, theta fitted on the POOLED
    user population from exact integer accumulators, and the adjusted
    per-arm mean computed by one shared expression text evaluated by
    both engines (the _AB_Z_SQL discipline — counts exact, the final
    doubles bit-identical).

    Scale shape: one shuffle to per-user pre/post sums (map-side
    combinable), one scalar pooled-moment frame broadcast via cross
    join, one tiny per-arm rollup.  At 100 TB the per-user frame is
    the experiment's unit-level table — everything downstream is
    bounded by users, not events."""
    e = table(spark, sf_dir, "events")
    days = e.select(
        "user_id",
        (F.col("user_id") % 2).alias("arm"),
        F.expr("(ts_ns div 1000000000) div 86400").alias("day"),
        F.round("value").cast("bigint").alias("vu"),
    )
    bound = days.agg(
        F.expr("CAST((min(day) + max(day) + 1) div 2 AS BIGINT)").alias("d")
    )
    per_user = (
        days.crossJoin(F.broadcast(bound))
        .groupBy("user_id", "arm")
        .agg(
            F.sum(F.when(F.col("day") < F.col("d"), F.col("vu")).otherwise(0))
            .cast("bigint")
            .alias("pre"),
            F.sum(F.when(F.col("day") >= F.col("d"), F.col("vu")).otherwise(0))
            .cast("bigint")
            .alias("post"),
        )
    )
    g = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("nu"),
        F.sum("pre").cast("bigint").alias("spre"),
        F.sum("post").cast("bigint").alias("spost"),
        F.sum(F.col("pre") * F.col("post")).cast("bigint").alias("spp"),
        F.sum(F.col("pre") * F.col("pre")).cast("bigint").alias("sprepre"),
    )
    joined = per_user.crossJoin(F.broadcast(g))
    return (
        joined.groupBy("arm", "nu", "spre", "spost", "spp", "sprepre")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("post").cast("bigint").alias("post_total"),
            F.sum("pre").cast("bigint").alias("pre_total"),
        )
        .select(
            "arm",
            "n_users",
            "post_total",
            "pre_total",
            F.expr(
                "(CAST(post_total AS DOUBLE) / n_users)"
                f" - {_CUPED_THETA_SQL}"
                " * ((CAST(pre_total AS DOUBLE) / n_users)"
                "    - (CAST(spre AS DOUBLE) / nu))"
            ).alias("adj_post_mean"),
        )
    )


@register(
    "events_interarrival_stats",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               epoch_us(ts) // 1000000
                   - lag(epoch_us(ts) // 1000000) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                   AS gap_s
        FROM events
    ),
    acc AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_gaps,
               CAST(sum(gap_s) AS BIGINT) AS s,
               CAST(sum(gap_s * gap_s) AS BIGINT) AS ss
        FROM gaps WHERE gap_s IS NOT NULL
        GROUP BY user_id
    )
    SELECT user_id, n_gaps,
           CAST(s // n_gaps AS BIGINT) AS mean_gap_s,
           CAST(CASE WHEN n_gaps > 1
                THEN (ss - s * s // n_gaps) // (n_gaps - 1)
                ELSE 0 END AS BIGINT) AS var_gap_s2,
           n_gaps >= 5 AND
           (CASE WHEN n_gaps > 1
                 THEN (ss - s * s // n_gaps) // (n_gaps - 1)
                 ELSE 0 END)
               * 25 < (s // n_gaps) * (s // n_gaps) AS metronomic
    FROM acc
    """,
    tags=("ext-events", "bot-detection", "temporal"),
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival regularity (extension — the temporal
    bot signal: humans are bursty, schedulers are metronomic): gap
    mean and variance per user in exact integer SECONDS (micros would
    overflow int64 in the squared sums for day-scale gaps — the same
    width audit as lineitem_promo_share; whole seconds keep even
    decade-long gaps inside int64^(1/2)), the variance via the
    integer-division moment identity — biased by at most one ulp of
    the division, identically in both engines — and a `metronomic`
    flag for users whose gap coefficient of variation is below 1/5
    (var * 25 < mean^2 — the pure-integer rearrangement, no float CV).

    Scale shape: one per-user event-time window (the sessionize
    partitioning — ordering stays full-resolution, only the gap VALUE
    is truncated), one map-side-combinable moment reduction; state
    per user is three integers."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    es = F.expr("ts_ns div 1000000000")
    gaps = e.select(
        "user_id", (es - F.lag(es).over(w)).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    acc = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum("gap_s").cast("bigint").alias("s"),
        F.sum(F.col("gap_s") * F.col("gap_s")).cast("bigint").alias("ss"),
    )
    var_expr = F.expr(
        "CASE WHEN n_gaps > 1 THEN (ss - s * s div n_gaps) div (n_gaps - 1)"
        " ELSE 0 END"
    )
    mean_expr = F.expr("s div n_gaps")
    return acc.select(
        "user_id",
        "n_gaps",
        mean_expr.cast("bigint").alias("mean_gap_s"),
        var_expr.cast("bigint").alias("var_gap_s2"),
        (
            (F.col("n_gaps") >= 5)
            & (var_expr * 25 < mean_expr * mean_expr)
        ).alias("metronomic"),
    )


@register(
    "events_dau_mau_stickiness",
    oracle="""
    WITH d AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               user_id
        FROM events
    ),
    daily AS (
        SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        FROM d GROUP BY day
    ),
    monthly AS (
        SELECT CAST(day // 30 AS BIGINT) AS m30,
               CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        FROM d GROUP BY 1
    ),
    davg AS (
        SELECT CAST(day // 30 AS BIGINT) AS m30,
               CAST(sum(dau) AS BIGINT) AS dau_total,
               CAST(count(*) AS BIGINT) AS n_days
        FROM daily GROUP BY 1
    )
    SELECT a.m30, a.n_days, a.dau_total, m.mau,
           CAST(a.dau_total * 1000000 // (a.n_days * m.mau) AS BIGINT)
               AS stickiness_ppm
    FROM davg a JOIN monthly m ON a.m30 = m.m30
    """,
    tags=("ext-events", "engagement", "dau-mau"),
)
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per 30-day period (extension — the
    engagement ratio every consumer product reports: what fraction of
    a period's users show up on an average day): average daily active
    users over the period divided by the period's distinct users, in
    exact ppm (integer sum of daily distinct counts, divided once).
    Periods are fixed 30-epoch-day blocks so both engines bucket
    identically with pure integer division.

    Scale shape: two distinct-aggregations, both shuffled on
    (bounded period key, user) composite keys via their groupBys —
    the skew-safe two-stage shape; everything after is
    calendar-bounded."""
    e = table(spark, sf_dir, "events")
    d = e.select(
        F.expr("(ts_ns div 1000000000) div 86400").alias("day"), "user_id"
    )
    daily = d.groupBy("day").agg(
        F.count_distinct("user_id").cast("bigint").alias("dau")
    )
    monthly = d.groupBy(F.expr("day div 30").alias("m30")).agg(
        F.count_distinct("user_id").cast("bigint").alias("mau")
    )
    davg = daily.groupBy(F.expr("day div 30").alias("m30")).agg(
        F.sum("dau").cast("bigint").alias("dau_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    return davg.join(monthly, "m30").select(
        "m30",
        "n_days",
        "dau_total",
        "mau",
        F.expr("dau_total * 1000000L div (n_days * mau)")
        .cast("bigint")
        .alias("stickiness_ppm"),
    )


_SWEEP_WIDTHS = (32, 64, 128, 256)


def _cms_sweep_oracle() -> str:
    blocks = []
    selects = []
    for w in _SWEEP_WIDTHS:
        hashed = " UNION ALL ".join(
            f"""SELECT uid, {r} AS r,
               CAST(('0x' || substr(md5('cms{r}' || uid), 1, 7)) AS BIGINT)
                   % {w} AS cell
            FROM ev""" for r in range(_CMS_D)
        )
        blocks.append(f"""
    h{w} AS ({hashed}),
    s{w} AS (SELECT r, cell, CAST(count(*) AS BIGINT) AS n_cell
             FROM h{w} GROUP BY r, cell),
    u{w} AS (SELECT DISTINCT uid, r, cell FROM h{w}),
    e{w} AS (SELECT u.uid, CAST(min(s.n_cell) AS BIGINT) AS est_n
             FROM u{w} u JOIN s{w} s ON u.r = s.r AND u.cell = s.cell
             GROUP BY u.uid)""")
        selects.append(f"""
    SELECT {w} AS width,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(e.est_n - x.exact_n) AS BIGINT) AS total_overcount,
           CAST(max(e.est_n - x.exact_n) AS BIGINT) AS max_overcount,
           CAST(sum(e.est_n - x.exact_n) * 1000000
                // (count(*) * min(t.n)) AS BIGINT)
               AS mean_overcount_ppm_of_n
    FROM exact x JOIN e{w} e ON x.uid = e.uid CROSS JOIN total t""")
    return f"""
    WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS uid FROM events),
    exact AS (SELECT uid, CAST(count(*) AS BIGINT) AS exact_n
              FROM ev GROUP BY uid),
    total AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ev),{",".join(blocks)}
    {" UNION ALL ".join(selects)}
    """


@register(
    "events_cms_error_sweep",
    oracle=_cms_sweep_oracle(),
    tags=("ext-events", "sketch", "cms", "eval"),
)
def events_cms_error_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch error as a function of width (extension — the
    sketch-sizing curve, the CMS twin of ann_ivf_recall_curve: how
    much memory buys how much accuracy): the SAME stream sketched at
    widths 32..256, each width's aggregate overcount reported exactly
    (total, max, and mean as ppm of the stream's L1 mass).  The
    Cormode-Muthukrishnan bound says mean error ~ e/w * N — the
    measured column should roughly halve per doubling, which the
    driver hash pins as data.

    Scale shape: per width one map-side-combinable cell build over
    d x w cells and one broadcast estimate join — the sweep is a
    union of four independent bounded-state plans; nothing scales
    with more than the key cardinality."""
    e = table(spark, sf_dir, "events").select("user_id")
    # Lazy scalar total (no driver-side count at plan-build time —
    # a full scan before the job would be a 100 TB smell).
    tot = e.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    out = None
    for w in _SWEEP_WIDTHS:
        r = (
            cms_counts(e, "user_id", _CMS_D, w)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_keys"),
                F.sum("overcount").cast("bigint").alias("total_overcount"),
                F.max("overcount").cast("bigint").alias("max_overcount"),
            )
            .crossJoin(F.broadcast(tot))
            .select(
                F.lit(w).cast("int").alias("width"),
                "n_keys",
                "total_overcount",
                "max_overcount",
                F.expr("total_overcount * 1000000L div (n_keys * n)")
                .cast("bigint")
                .alias("mean_overcount_ppm_of_n"),
            )
        )
        out = r if out is None else out.unionByName(r)
    return out


_CHI2_SHIFT = 26  # reuse the MI bin grid


@register(
    "events_chi2_independence",
    oracle=f"""
    WITH cells AS (
        SELECT event_type,
               CAST(round(value * 1000000) AS BIGINT) // {1 << _CHI2_SHIFT}
                   AS bin,
               CAST(count(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ),
    mt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS n_t
           FROM cells GROUP BY event_type),
    mb AS (SELECT bin, CAST(sum(o) AS BIGINT) AS n_b FROM cells GROUP BY bin),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                   CAST(count(DISTINCT event_type) AS BIGINT) AS rr,
                   CAST(count(DISTINCT bin) AS BIGINT) AS cc
            FROM cells)
    SELECT c.event_type, c.bin, c.o,
           CAST(t.n_t * b.n_b // tt.n AS BIGINT) AS expected_floor,
           CAST(round(
               (CAST(c.o AS DOUBLE) * tt.n - CAST(t.n_t AS DOUBLE) * b.n_b)
               * (CAST(c.o AS DOUBLE) * tt.n - CAST(t.n_t AS DOUBLE) * b.n_b)
               / (CAST(tt.n AS DOUBLE) * t.n_t * b.n_b) * 10000) AS BIGINT)
               AS chi2_contrib_e4,
           CAST((tt.rr - 1) * (tt.cc - 1) AS BIGINT) AS dof
    FROM cells c
    JOIN mt t ON c.event_type = t.event_type
    JOIN mb b ON c.bin = b.bin
    CROSS JOIN tot tt
    """,
    tags=("ext-events", "chi2", "independence"),
)
def events_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence decomposition between event type and
    value bucket (extension — the categorical test that accompanies
    the mutual-information screen: the SAME contingency cells, scored
    as (O*n - r*c)^2 / (n*r*c) per cell so the expected count never
    leaves integer space before one final double expression, each
    contribution quantized to 1e-4 and exactly summable; dof rides
    along for the caller's p-value lookup).

    Scale shape: identical to events_mutual_info — domain-bounded
    contingency shuffle, marginals from the cells, scalar broadcast."""
    e = table(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type",
        F.expr(
            f"CAST(round(value * 1000000) AS BIGINT) div {1 << _CHI2_SHIFT}"
        ).alias("bin"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    mt = cells.groupBy("event_type").agg(F.sum("o").cast("bigint").alias("n_t"))
    mb = cells.groupBy("bin").agg(F.sum("o").cast("bigint").alias("n_b"))
    tot = cells.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.count_distinct("event_type").cast("bigint").alias("rr"),
        F.count_distinct("bin").cast("bigint").alias("cc"),
    )
    num = (
        F.col("o").cast("double") * F.col("n")
        - F.col("n_t").cast("double") * F.col("n_b")
    )
    return (
        cells.join(mt, "event_type")
        .join(F.broadcast(mb), "bin")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "bin",
            "o",
            F.expr("n_t * n_b div n").cast("bigint").alias("expected_floor"),
            F.round(
                num
                * num
                / (F.col("n").cast("double") * F.col("n_t") * F.col("n_b"))
                * 10000
            )
            .cast("bigint")
            .alias("chi2_contrib_e4"),
            F.expr("(rr - 1) * (cc - 1)").cast("bigint").alias("dof"),
        )
    )


@register(
    "events_max_drawdown",
    oracle="""
    SELECT user_id,
           CAST(max(peak - cum) AS BIGINT) AS max_drawdown_micro,
           CAST(max(peak) AS BIGINT) AS peak_micro,
           CAST(count(*) AS BIGINT) AS n_events
    FROM (
        SELECT user_id, cum,
               CAST(max(cum) OVER (PARTITION BY user_id
                   ORDER BY rn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS peak
        FROM (
            SELECT user_id, cum,
                   row_number() OVER (PARTITION BY user_id
                       ORDER BY us, event_id) AS rn
            FROM (
                SELECT user_id, event_id, epoch_us(ts) AS us,
                       CAST(sum(CAST(round(value * 1000000) AS BIGINT))
                           OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts), event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT) AS cum
                FROM events
            )
        )
    )
    GROUP BY user_id
    """,
    tags=("ext-events", "drawdown", "running-peak"),
)
def events_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user (extension — the running-peak metric
    of finance and SLO dashboards: the deepest drop of a cumulative
    series below its best level so far): cumulative value in exact
    micros via one event-time window, the running peak via a second
    window over the SAME per-user partitioning (one shuffle feeds
    both), and max(peak - cum) as the drawdown.  All integer — the
    accumulation-order hazard of float cumsums never appears.

    Scale shape: two stacked windows on one user partitioning — the
    gi-scan discipline (test_flagship_single_shuffle shape); state
    per row is O(1).  A 100 TB portfolio table partitions the same
    way by instrument."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    cum = e.select(
        "user_id",
        F.sum(F.round(F.col("value") * 1000000).cast("bigint"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum"),
        F.col("ts_ns"),
        F.col("event_id"),
    )
    peak = cum.select(
        "user_id",
        "cum",
        F.max("cum")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("peak"),
    )
    return peak.groupBy("user_id").agg(
        F.max(F.col("peak") - F.col("cum"))
        .cast("bigint")
        .alias("max_drawdown_micro"),
        F.max("peak").cast("bigint").alias("peak_micro"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


@register(
    "events_session_pair_pmi",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                            > 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    sess AS (
        SELECT user_id, event_type,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_no
        FROM seq
    ),
    pres AS (
        SELECT DISTINCT user_id, session_no, event_type FROM sess
    ),
    n_sess AS (SELECT CAST(count(DISTINCT (user_id, session_no)) AS BIGINT)
                   AS n FROM pres),
    singles AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_t
        FROM pres GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM pres a
        JOIN pres b ON a.user_id = b.user_id
                   AND a.session_no = b.session_no
                   AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_ab, sa.n_t AS n_a, sb.n_t AS n_b,
           CAST(round(ln((CAST(p.n_ab AS DOUBLE) * t.n)
                / (CAST(sa.n_t AS DOUBLE) * sb.n_t)) * 10000) AS BIGINT)
               AS pmi_e4
    FROM pairs p
    JOIN singles sa ON p.type_a = sa.event_type
    JOIN singles sb ON p.type_b = sb.event_type
    CROSS JOIN n_sess t
    """,
    tags=("ext-events", "pmi", "co-occurrence"),
)
def events_session_pair_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of event-type co-occurrence within
    sessions (extension — the association score behind "users who do
    X in a session also do Y", the session twin of the order-basket
    pairs): sessions from the exact 30-minute microsecond gap split
    (the sessionize lineage), presence sets per session, canonical
    type pairs counted by a self-join on the session key, PMI
    quantized to 1e-4 (the ln idiom).

    Scale shape: presence dedup shuffles on (user, session, type);
    the pair self-join joins on the session key with per-session
    fan-out bounded by |types|^2; singles and the scalar session
    count broadcast."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        "ts_ns",
        "event_id",
        F.when(
            F.lag("ts_ns").over(w).isNull()
            | (F.col("ts_ns") - F.lag("ts_ns").over(w) > 1800 * 1_000_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    sess = seq.select(
        "user_id",
        "event_type",
        F.sum("new_s")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_no"),
    )
    pres = sess.select("user_id", "session_no", "event_type").distinct()
    n_sess = pres.select("user_id", "session_no").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    singles = pres.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_t")
    )
    a = pres.select("user_id", "session_no", F.col("event_type").alias("type_a"))
    b = pres.select("user_id", "session_no", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id", "session_no"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    sa = singles.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a"))
    sb = singles.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b"))
    pmi_e4 = F.round(
        F.log(
            (F.col("n_ab").cast("double") * F.col("n"))
            / (F.col("n_a").cast("double") * F.col("n_b"))
        )
        * 10000
    ).cast("bigint")
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(n_sess))
        .select("type_a", "type_b", "n_ab", "n_a", "n_b", pmi_e4.alias("pmi_e4"))
    )


@register(
    "events_out_of_order_audit",
    oracle="""
    WITH arr AS (
        SELECT event_type,
               epoch_us(ts) // 1000000 AS es,
               CAST(max(epoch_us(ts) // 1000000) OVER (
                   PARTITION BY event_type ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS high_watermark_es
        FROM events
    ),
    late AS (
        SELECT event_type,
               CAST(high_watermark_es - es AS BIGINT) AS lateness_s
        FROM arr
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN lateness_s > 300 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_late_5m,
           CAST(sum(CASE WHEN lateness_s > 1800 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_late_30m,
           CAST(max(lateness_s) AS BIGINT) AS max_lateness_s
    FROM late
    GROUP BY event_type
    """,
    tags=("ext-events", "streaming", "watermark-sizing"),
)
def events_out_of_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness audit for watermark sizing (extension — THE
    question every `withWatermark` call hard-codes an answer to: how
    late does data actually arrive?): with event_id as the arrival
    order (ids are assigned at ingest), each event's lateness is the
    running event-time high-watermark minus its own event time;
    reported per type as counts beyond the 5-minute and 30-minute
    candidate watermarks plus the worst case.  The streaming twins'
    delays (10 min tumbling, 20 min sliding, 1 h session) can be
    audited against exactly this table.

    Scale shape: one per-type arrival-ordered running max (windows
    partition by type; at uniform arrival the per-type partition is
    the stream shard), then a bounded rollup.  All integer seconds."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    es = F.expr("ts_ns div 1000000000")
    late = e.select(
        "event_type",
        (F.max(es).over(w) - es).cast("bigint").alias("lateness_s"),
    )
    return late.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("lateness_s") > 300, 1).otherwise(0))
        .cast("bigint")
        .alias("n_late_5m"),
        F.sum(F.when(F.col("lateness_s") > 1800, 1).otherwise(0))
        .cast("bigint")
        .alias("n_late_30m"),
        F.max("lateness_s").cast("bigint").alias("max_lateness_s"),
    )


@register(
    "events_error_budget_burn",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_err,
               CAST(count(*) AS BIGINT) AS n_tot
        FROM events GROUP BY 1
    ),
    windowed AS (
        SELECT CAST(day // 30 AS BIGINT) AS m30, day, n_err, n_tot,
               CAST(sum(n_err) OVER (PARTITION BY day // 30 ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_err,
               CAST(sum(n_tot) OVER (PARTITION BY day // 30)
                   AS BIGINT) AS m30_tot
        FROM daily
    )
    SELECT m30, day, n_err, n_tot, cum_err,
           CAST(cum_err * 100000000 // (m30_tot * 20) AS BIGINT)
               AS budget_burn_ppm
    FROM windowed
    """,
    tags=("ext-events", "sre", "error-budget"),
)
def events_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRE error-budget burn-down (extension — the SLO table an
    on-call rotation reads: with a 20% error-rate objective for this
    noisy synthetic stream, how much of each 30-day window's error
    budget has each day consumed?): daily error/total counts, the
    cumulative error within the window, and the burn as exact ppm of
    the window's budget (budget = 20% of the window's events;
    burn = cum_err / budget, all integer: cum_err * 1e8 / (tot * 20)).
    Crossing 1 000 000 ppm before the window ends IS the page.

    Scale shape: one day rollup (map-side combinable), two windows
    over the day-level frame partitioned by the 30-day key —
    calendar-bounded state; nothing touches raw events after the
    first aggregation."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.expr("(ts_ns div 1000000000) div 86400").alias("day")
    ).agg(
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("n_err"),
        F.count(F.lit(1)).cast("bigint").alias("n_tot"),
    )
    m30 = F.expr("day div 30")
    w_cum = (
        Window.partitionBy(m30)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(m30)
    windowed = daily.select(
        m30.cast("bigint").alias("m30"),
        "day",
        "n_err",
        "n_tot",
        F.sum("n_err").over(w_cum).cast("bigint").alias("cum_err"),
        F.sum("n_tot").over(w_all).cast("bigint").alias("m30_tot"),
    )
    return windowed.select(
        "m30",
        "day",
        "n_err",
        "n_tot",
        "cum_err",
        F.expr("cum_err * 100000000L div (m30_tot * 20)")
        .cast("bigint")
        .alias("budget_burn_ppm"),
    )


@register(
    "stream_freshness_lag",
    oracle="""
    WITH lagged AS (
        SELECT event_type,
               ((event_id % 100003) * 7919) % 5000 AS lag_ms
        FROM events
    ),
    sized AS (
        SELECT event_type, lag_ms,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY lag_ms) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM lagged
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_events,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN lag_ms END)
               AS BIGINT) AS p50_ms,
           CAST(max(CASE WHEN rn = (n * 95 + 99) // 100 THEN lag_ms END)
               AS BIGINT) AS p95_ms,
           CAST(max(CASE WHEN rn = (n * 99 + 99) // 100 THEN lag_ms END)
               AS BIGINT) AS p99_ms,
           CAST(max(lag_ms) AS BIGINT) AS max_ms
    FROM sized GROUP BY event_type
    """,
    tags=("ext-stream", "observability", "percentile", "streaming"),
)
def stream_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of ``events_freshness_lag`` — the
    freshness-percentile rollup running where an ingest pipeline
    actually needs it, as an incremental streaming query.  The
    streaming stage maintains a per-(event_type, lag_ms) COUNT
    histogram — the mergeable-sketch trick of the stream_hll/CMS
    family: lag values are bounded (ms grid), so the state is a
    bounded histogram that any shard/batch merges by addition,
    instead of the unbounded raw-value buffer an exact streaming
    percentile would otherwise hold.  The batch side then extracts
    EXACT discrete percentiles from the materialized histogram:
    value-at-index k = the smallest lag whose cumulative count
    reaches k, with k = ceil(q*n) computed in integer arithmetic —
    hash-identical to the batch twin's per-row derivation, so one
    oracle serves both.

    Scale shape: streaming state = (#types × ≤5000 lag buckets) rows
    forever; the percentile extraction runs on that small frame."""
    from pangenomesasgraphdatabases_spark.streaming.events import (
        events_stream,
        run_available_now,
    )

    stream = events_stream(spark, sf_dir).select(
        "event_type",
        (((F.col("event_id") % 100003) * 7919) % 5000).alias("lag_ms"),
    )
    hist_stream = stream.groupBy("event_type", "lag_ms").agg(
        F.count(F.lit(1)).alias("c")
    )
    hist = run_available_now(hist_stream, spark, output_mode="complete")
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("lag_ms")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "lag_ms",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("n"),
    )

    def at_idx(idx_sql: str):
        return F.min(
            F.when(F.col("cum") >= F.expr(idx_sql), F.col("lag_ms"))
        ).cast("bigint")

    return cum.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_events"),
        at_idx("(n + 1) div 2").alias("p50_ms"),
        at_idx("(n * 95 + 99) div 100").alias("p95_ms"),
        at_idx("(n * 99 + 99) div 100").alias("p99_ms"),
        F.max("lag_ms").cast("bigint").alias("max_ms"),
    )


@register(
    "events_freshness_lag",
    oracle="""
    WITH lagged AS (
        SELECT event_type,
               ((event_id % 100003) * 7919) % 5000 AS lag_ms
        FROM events
    ),
    sized AS (
        SELECT event_type, lag_ms,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY lag_ms) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM lagged
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_events,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN lag_ms END)
               AS BIGINT) AS p50_ms,
           CAST(max(CASE WHEN rn = (n * 95 + 99) // 100 THEN lag_ms END)
               AS BIGINT) AS p95_ms,
           CAST(max(CASE WHEN rn = (n * 99 + 99) // 100 THEN lag_ms END)
               AS BIGINT) AS p99_ms,
           CAST(max(lag_ms) AS BIGINT) AS max_ms
    FROM sized GROUP BY event_type
    """,
    tags=("ext-events", "observability", "percentile"),
)
def events_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-freshness lag percentiles per event type (extension —
    the pipeline-observability rollup every streaming ingest runs:
    how stale is data when it lands, p50/p95/p99/max).  The events
    table carries no arrival timestamp, so lag is derived
    deterministically from the event id (a fixed mixing congruence,
    identical arithmetic in both engines) — the PERCENTILE MACHINERY
    is the operator under test.

    Exact discrete percentiles, engine-independently: both sides
    compute index = ceil(q*n) IN INTEGER ARITHMETIC ((n*95+99)//100,
    never float q*n whose ulp placement DuckDB's percentile_disc and
    Spark's percentile() resolve differently) and pick that row of
    the per-group sort.  The value at a sorted index is well-defined
    under ties, so the window tie-order is irrelevant.

    Scale shape: one shuffle on event_type; the per-group sort is the
    windowed rank (at 100 TB with few types and giant groups the same
    statistic rides approx_percentile or a two-pass histogram — this
    exact form is the oracle-checkable contract)."""
    e = table(spark, sf_dir, "events")
    lagged = e.select(
        "event_type",
        (((F.col("event_id") % 100003) * 7919) % 5000).alias("lag_ms"),
    )
    w = Window.partitionBy("event_type").orderBy("lag_ms")
    wc = Window.partitionBy("event_type")
    sized = lagged.select(
        "event_type",
        "lag_ms",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    pick = lambda expr: F.max(expr).cast("bigint")
    return sized.groupBy("event_type").agg(
        pick(F.col("n")).alias("n_events"),
        pick(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("lag_ms"))
        ).alias("p50_ms"),
        pick(
            F.when(
                F.col("rn") == F.expr("(n * 95 + 99) div 100"),
                F.col("lag_ms"),
            )
        ).alias("p95_ms"),
        pick(
            F.when(
                F.col("rn") == F.expr("(n * 99 + 99) div 100"),
                F.col("lag_ms"),
            )
        ).alias("p99_ms"),
        pick(F.col("lag_ms")).alias("max_ms"),
    )
