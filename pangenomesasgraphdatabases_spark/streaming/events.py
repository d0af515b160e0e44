"""Structured Streaming surface over the events table.

Engine extension — the reference is strictly batch (SURVEY.md section
2.9).  The same logical aggregations as queries/events_q.py, expressed
as readStream -> withWatermark -> window agg -> writeStream, runnable
with Trigger.AvailableNow against the static parquet so batch parity
is testable offline.  On a live cluster the identical code points at a
directory/Kafka source.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the nanos->micros
    conversion applied (same surface as data.table)."""
    from pangenomesasgraphdatabases_spark.data import normalize_events, read_parquet

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    static = read_parquet(spark, f"{sf_dir}/events.parquet")
    # Streaming file source needs a directory: point at sf_dir and
    # glob-filter to the events file.
    stream = (
        spark.readStream.schema(static.schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return normalize_events(stream)


def tumbling_counts_stream(events: DataFrame) -> DataFrame:
    """Streaming 5-minute tumbling counts with late-data watermark."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # Exact fixed-point total: integer sums are immune to
            # micro-batch/partition accumulation order (matches the
            # batch query events_tumbling_counts).
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


def sliding_counts_stream(events: DataFrame) -> DataFrame:
    """Streaming 10-minute windows sliding every 5 — the stream twin of
    queries/events_q.events_sliding_avg, same exact fixed-point micros."""
    return (
        events.withWatermark("ts", "20 minutes")
        .groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(
                "sum(CAST(round(value * 1000000) AS BIGINT)) div count(1)"
            ).alias("avg_value_micro"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "avg_value_micro",
        )
    )


def session_window_stream(events: DataFrame) -> DataFrame:
    """Streaming gap-based sessionization via session_window — the
    built-in stateful operator twin of events_q.events_sessionize."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            F.unix_timestamp(F.col("w.end")).alias("session_end"),
            "n_events",
        )
    )


# How long dedup_stream keeps a fingerprint's state.
DEDUP_WATERMARK = "10 minutes"


def dedup_stream(events: DataFrame) -> DataFrame:
    """Ingest-time exact deduplication (training-pipeline extension):
    re-deliveries carrying the same content fingerprint within
    DEDUP_WATERMARK are dropped before they reach storage, so the batch
    dedup pass (queries/text_q.doc_exact_dedup) only handles
    cross-partition-file duplicates.  dropDuplicatesWithinWatermark
    keeps per-key state only until the watermark passes — bounded
    state at any corpus size, unlike dropDuplicates' unbounded map."""
    fp = F.md5(
        F.concat_ws(
            "|",
            F.col("user_id"),
            F.col("event_type"),
            F.col("value").cast("string"),
        )
    )
    return (
        events.withColumn("fingerprint", fp)
        .withWatermark("ts", DEDUP_WATERMARK)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def static_enriched_stream(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static broadcast enrichment: the canonical serving-layer
    pattern of joining a stream against a slowly-changing dimension.
    The static side is broadcast (no state, no watermark needed — a
    stream-static inner join is stateless per micro-batch), then the
    enriched stream aggregates per (segment, event_type) with exact
    integer value sums.  Run in complete mode (unwindowed aggregate).

    user ids map onto the customer dimension as c_custkey = user_id+1
    (the testdata's user space is a prefix of the customer key space).
    """
    dim = customers.select(
        (F.col("c_custkey") - 1).alias("user_id"), "c_mktsegment"
    )
    from pyspark.sql.functions import broadcast

    return (
        events.join(broadcast(dim), "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 1000000).cast("bigint")).alias(
                "total_value_micro"
            ),
        )
    )


def run_available_now(
    result: DataFrame, spark: SparkSession, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming DataFrame to completion with AvailableNow
    into a memory sink; returns the materialized batch result."""
    name = "snk_" + uuid.uuid4().hex[:8]
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(120):
        raise TimeoutError(f"stream {name} did not finish in 120s")
    return spark.table(name)


# Both sides of interval_join_stream keep state this long.
_JOIN_WATERMARK = "30 minutes"


def interval_join_stream(events: DataFrame) -> DataFrame:
    """STREAM-STREAM inner join: clicks joined to the purchases that
    follow them within 1,800 seconds for the same user.  Both
    sides carry watermarks and the join predicate bounds event time on
    both ends, so Spark can expire join state — without the time bound
    each side's state would grow without limit at 100 TB/day rates.

    With AvailableNow and the file as one batch, the inner join emits
    exactly the batch-join pairs, so a plain SQL join oracles it."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", _JOIN_WATERMARK)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("purchase_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", _JOIN_WATERMARK)
    )
    joined = clicks.join(
        purchases,
        F.expr(
            """click_user = purchase_user
                AND purchase_ts >= click_ts
                AND purchase_ts <= click_ts + INTERVAL 1800 SECONDS"""
        ),
    )
    return joined.select(
        F.col("click_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("gap_us"),
    )


def windowed_topk_stream(events: DataFrame, spark: SparkSession):
    """Streaming counterpart of queries/events_q.events_windowed_topk.

    Rank-after-windowed-aggregation is not expressible as a single
    incremental streaming query (a second, non-time-based aggregation
    over an aggregated stream is unsupported), so this uses the
    standard serving-layer composition: the WATERMARKED tumbling count
    is the incremental stateful stage; foreachBatch UPSERTS each
    micro-batch's updated (window, event_type) cumulative counts into
    a GLOBAL temp view (foreachBatch runs in a cloned session — a
    session-local view would be invisible to the caller), and the
    top-k ranking is a lazy window over that store, computed on read.
    Per-batch work is bounded by the keys the batch touched; the store
    is bounded by (windows x event types), never raw events.  Returns
    (query, ranked_reader) — call ranked_reader(k) for the current
    top-k per window."""
    import uuid as _uuid

    from pyspark.sql import Window as W

    name = "topk_" + _uuid.uuid4().hex[:8]
    counts = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    spark.createDataFrame(
        [], "window_start long, event_type string, n_events long"
    ).createOrReplaceGlobalTempView(name)

    def upsert(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        s = batch.sparkSession
        prev = s.table(f"global_temp.{name}").alias("p")
        keys = batch.select("window_start", "event_type").alias("k")
        kept = prev.join(
            keys,
            (F.col("p.window_start") == F.col("k.window_start"))
            & (F.col("p.event_type") == F.col("k.event_type")),
            "left_anti",
        )
        # Materialize before replacing the view the plan reads from.
        merged = kept.unionByName(batch).localCheckpoint(eager=True)
        merged.createOrReplaceGlobalTempView(name)

    def ranked_reader(k: int = 3) -> DataFrame:
        rk = F.row_number().over(
            W.partitionBy("window_start").orderBy(
                F.col("n_events").desc(), F.col("event_type")
            )
        )
        return (
            spark.table(f"global_temp.{name}")
            .withColumn("rk", rk.cast("bigint"))
            .filter(F.col("rk") <= k)
        )

    q = (
        counts.writeStream.foreachBatch(upsert)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    return q, ranked_reader
