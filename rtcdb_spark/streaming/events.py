"""Streaming source + windowed operators over the events table.

Design (Spark-first, scales to a real cluster):
- Source: the file streaming source over the fixture parquet (on a cluster
  this would be Kafka/Kinesis — the transformations are source-agnostic).
  ``maxFilesPerTrigger`` simulates micro-batch arrival in tests.
- Watermarks bound state: every stateful op here takes ``watermark`` so late
  data past the bound is dropped and window state is evicted — the thing that
  makes these operators runnable forever on an unbounded stream.
- Aggregations are partial (map-side combine) before the shuffle, exactly as
  in batch mode; state lives in the HDFS/RocksDB state store per shuffle
  partition, so state capacity scales with executors.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rtcdb_spark.deterministic import dsum
from rtcdb_spark.session import narrow_shuffle, tune

_MEMSINK_IDS = itertools.count()


def read_table_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    max_files_per_trigger: int | None = None,
    path: str | None = None,
) -> DataFrame:
    """readStream over any fixture table's parquet.

    The file source requires an explicit schema; we take it from the batch
    footer (one cheap metadata read). ``path`` overrides the default
    ``<sf_dir>/<table>.parquet`` — tests point it at a directory of
    pre-split files to exercise multi-batch arrival.
    """
    tune(spark)
    src = path or os.path.join(sf_dir, f"{table}.parquet")
    schema = spark.read.parquet(src).schema
    reader = spark.readStream.schema(schema)
    if os.path.isfile(src):
        # The file source needs a directory; select just this file via glob.
        reader = reader.option("pathGlobFilter", os.path.basename(src))
        src = os.path.dirname(src)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src)


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    path: str | None = None,
) -> DataFrame:
    """readStream over the events parquet, ts normalized to TIMESTAMP_NTZ
    (see `read_table_stream` for the file-source mechanics)."""
    df = read_table_stream(spark, sf_dir, "events", max_files_per_trigger, path)
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtype == "timestamp_ntz":
        # Watermarks require TIMESTAMP; with session tz pinned to UTC the
        # cast is value-identical to the batch reader's TIMESTAMP_NTZ.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def stream_tumbling(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1-hour windows per event type — streaming twin of the batch
    ``window_tumbling`` query (same plan + a watermark)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", alias="total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_sliding(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Sliding 1-hour/30-minute windows — streaming twin of ``window_sliding``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", alias="total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


def stream_session(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Session windows (30-minute gap) per user — streaming twin of
    ``window_session``. Session state merges across micro-batches and is
    evicted once the watermark passes session_end + gap."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", alias="total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful exactly-once dedup on event_id within the watermark horizon
    (`dropDuplicatesWithinWatermark`): dedup state is bounded — an event_id
    seen again after the watermark has passed would NOT be suppressed, which
    is the price of bounded state on an unbounded stream."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_stream_join(
    clicks: DataFrame,
    purchases: DataFrame,
    watermark: str = "1 hour",
    horizon: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: each purchase joined to the same user's
    click events in the preceding ``horizon``. Both inputs are watermarked and
    the join condition bounds event time on BOTH sides, so each side's join
    state is evictable — the requirement for an unbounded stream-stream join.

    At scale both streams shuffle once on user_id (co-partitioned state);
    the time-range predicate is evaluated within each state partition."""
    c = (
        clicks.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
    )
    return c.join(
        p,
        F.expr(
            f"""
            c_user = p_user AND
            click_ts <= purchase_ts AND
            click_ts >= purchase_ts - INTERVAL {horizon}
            """
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )


def stream_enrich_static(
    events: DataFrame, customers: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Stream-static join: enrich the event stream with a dimension table
    (customer segment), then aggregate per segment × event type.

    The static side is broadcast — each micro-batch joins against the
    executor-local copy, so the stream never shuffles for the join and no
    join state accumulates (stream-static joins are stateless, unlike
    stream-stream). This is the canonical streaming-enrichment shape at
    100 TB/day: dimensions are size-capped, facts stream through map-side.
    The reference has no streaming or joins at all (README.md:14-19)."""
    enriched = events.withWatermark("ts", watermark).join(
        F.broadcast(customers.select(F.col("c_custkey"), F.col("c_mktsegment"))),
        events["user_id"] == F.col("c_custkey"),
        "inner",
    )
    return (
        enriched.groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", alias="total_value"))
    )


def run_available_now(
    sdf: DataFrame, output_mode: str = "complete", name: str | None = None
) -> DataFrame:
    """Run a streaming DataFrame to completion over all currently-available
    input (`trigger(availableNow=True)`) into a memory sink; return the result
    as a batch DataFrame. This is how the driver/oracle can check streaming
    plans: same operators, finite input, deterministic output."""
    spark = sdf.sparkSession
    qname = name or f"rtcdb_stream_{os.getpid()}_{next(_MEMSINK_IDS)}"
    with narrow_shuffle(spark, 0):
        q = (
            sdf.writeStream.format("memory")
            .queryName(qname)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    # Copy the result out of the memory sink and DROP the sink's temp view:
    # the sink holds every output row in the driver/JVM for as long as the
    # view exists, and the old always-fresh view names leaked one result
    # set per invocation into the session (block-manager pressure that
    # late-suite queries paid as GC tax). localCheckpoint blocks are freed
    # by the ContextCleaner once the returned DataFrame is dropped.
    out = spark.table(qname).localCheckpoint()
    spark.catalog.dropTempView(qname)
    return out


def stream_stream_left_join(
    clicks: DataFrame,
    purchases: DataFrame,
    watermark: str = "1 hour",
    horizon: str = "2 hours",
) -> DataFrame:
    """Stream-stream LEFT OUTER join: every click emits — matched to the
    same user's purchases within ``horizon`` after it, or null-extended
    once the watermark passes the end of its match window (click_ts +
    horizon), i.e. once no matching purchase can still arrive. That
    eviction-driven null emission is the semantic difference from the
    inner join: outer results are only correct BECAUSE state is evictable,
    so the two-sided time bound plus both watermarks are mandatory
    (Spark rejects the query otherwise). Clicks landing within the final
    watermark lag of stream end stay unemitted — on an unbounded stream
    they'd emit later; on a finite replay that tail is the price of
    outer-join correctness, and the batch twin must model it."""
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    return c.join(
        p,
        F.expr(
            f"""
            c_user = p_user AND
            purchase_ts >= click_ts AND
            purchase_ts <= click_ts + INTERVAL {horizon}
            """
        ),
        "left_outer",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )


def stream_stream_full_join(
    clicks: DataFrame,
    purchases: DataFrame,
    watermark: str = "1 hour",
    horizon: str = "2 hours",
) -> DataFrame:
    """Stream-stream FULL OUTER join (round 5 — completes the join family):
    matched pairs emit as in the inner join; each side null-extends on its
    own state-eviction schedule, which the join condition derives
    per-side from the watermark. A CLICK emits unmatched once the
    watermark passes the end of its match window (click_ts + horizon — no
    matching purchase can still arrive); a PURCHASE emits unmatched once
    the watermark passes its own timestamp (future clicks all have
    click_ts > wm >= purchase_ts, outside the purchase's backward-looking
    window [purchase_ts - horizon, purchase_ts]). Both time bounds plus
    both watermarks are mandatory — without them the outer state could
    never be declared complete and Spark rejects the query."""
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    return c.join(
        p,
        F.expr(
            f"""
            c_user = p_user AND
            purchase_ts >= click_ts AND
            purchase_ts <= click_ts + INTERVAL {horizon}
            """
        ),
        "full_outer",
    ).select(
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )
