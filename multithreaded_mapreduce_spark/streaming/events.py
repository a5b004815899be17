"""Structured Streaming over the events table.

The batch event-time queries (``operators/event_windows.py``) define the
oracle-checked semantics; this module runs the same logical plans
through ``readStream`` → watermark → windowed aggregation →
``writeStream``, which is how the engine would consume a live feed
(Kafka/files) on a cluster. Tests drive a file-source stream over the
driver's parquet and assert the streaming results equal the batch ones
— the strongest check a stream can get without a second engine.

Watermarking: 10 minutes of allowed lateness bounds state; with the
file source replaying history the watermark only matters for state
cleanup, but on a live feed it is what lets a 1000-executor job drop
late data instead of holding unbounded state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import hashlib
import os
import shutil
import tempfile

from ..functions.numeric import DEC
from ..sources.tables import _ltz, table_path, table_stamp


def _as_stream_dir(path: str) -> str:
    """The file stream source requires a *directory*; the driver ships
    single-file parquet tables. Stage a per-path symlink directory under
    the system temp dir (idempotent, content untouched)."""
    if os.path.isdir(path):
        return path
    tag = hashlib.md5(path.encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"mmr_spark_stream_{tag}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, os.path.basename(path))
    if not os.path.exists(link):
        os.symlink(path, link)
    return d


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table (one-file replay).

    Schema comes from a batch read of the same file (a stream source
    cannot infer), including the ns→µs shim from sources/tables.py:
    ts arrives as TIMESTAMP(NANOS) parquet, which Spark reads as long.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = table_path(sf_dir, "events")
    schema = spark.read.parquet(path).schema
    raw = spark.readStream.schema(schema).parquet(_as_stream_dir(path))
    if dict((f.name, f.dataType.simpleString()) for f in schema.fields).get("ts") == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return _ltz(raw)


def stream_events_multibatch(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> DataFrame:
    """Events stream that replays as ``n_files`` micro-batches.

    The driver ships one parquet file per table, which the file source
    consumes in a single trigger — fine for end-state parity, but it
    never exercises state carried ACROSS batches. This helper splits
    the events table into ``n_files`` parquet files once per table
    version (idempotent, under the system temp dir, named by the
    file's realpath and keyed on the table's ``table_stamp`` so a
    table rewritten in place is split afresh, never replayed stale;
    writing a new version's split removes the older versions') and sets ``maxFilesPerTrigger=1``, so a
    query sees a genuine multi-trigger replay: windows accumulate
    incrementally, stateful operators merge state batch over batch.

    Files are RANGE-partitioned on ``ts`` so the replay advances
    through event time like a real log: the watermark after trigger k
    sits just behind slice k's end, and slice k+1 is never dropped as
    late. A random split would let the first trigger race the
    watermark to end-of-time and silently discard every later file —
    that is a misconfigured-source bug, not a semantics to test.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = table_path(sf_dir, "events")
    tmp = tempfile.gettempdir()
    src_tag = hashlib.md5(os.path.realpath(src).encode()).hexdigest()[:12]
    stamp = hashlib.md5(
        f"{table_stamp(sf_dir, 'events')}:tsorted".encode()
    ).hexdigest()[:12]
    prefix = f"mmr_spark_stream_split_{src_tag}_"
    d = os.path.join(tmp, f"{prefix}{stamp}_{n_files}")
    batch = spark.read.parquet(src)
    if not os.path.isdir(d) or len([f for f in os.listdir(d) if f.endswith(".parquet")]) < n_files:
        batch.repartitionByRange(n_files, "ts").write.mode("overwrite").parquet(d)
        # the file source replays in MODIFICATION-TIME order, but the
        # executors finish part files in arbitrary order — restamp
        # ascending mtimes in part-name order (range partition k holds
        # time slice k) so the replay is chronological
        parts = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
        base = int(os.path.getmtime(os.path.join(d, parts[0])))
        for k, f in enumerate(parts):
            os.utime(os.path.join(d, f), (base + 10 * k, base + 10 * k))
        # a split of any OTHER version of this file is stale by
        # construction (its table stamp no longer matches): drop it, so
        # in-place rewrites leave one split per n_files, not one each
        for f in os.listdir(tmp):
            if f.startswith(prefix) and not f.startswith(f"{prefix}{stamp}_"):
                shutil.rmtree(os.path.join(tmp, f), ignore_errors=True)
    schema = batch.schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    if dict((f.name, f.dataType.simpleString()) for f in schema.fields).get("ts") == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return _ltz(raw)


def tumbling_counts_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the ``events_tumbling_hourly`` batch query."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def enriched_segment_stream(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-STATIC join: the event stream enriched with the customer
    dimension, then hourly totals per market segment.

    Unlike a stream-stream join this keeps NO join state — each
    micro-batch hash-joins against the static (broadcast) dim exactly
    as a batch query would, which is why it is the standard enrichment
    shape for dimension lookups: at 100 TB/day of events the dim join
    costs one broadcast per executor, not a watermark-bounded state
    store. The windowed aggregate after it is the only stateful op.
    """
    enriched = events.join(
        F.broadcast(customer.select(F.col("c_custkey").alias("user_id"), "c_mktsegment")),
        "user_id",
    )
    return (
        enriched.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "c_mktsegment",
            "n_events",
            "total_value",
        )
    )


def sliding_counts_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the ``events_sliding_windows`` batch query:
    1-hour windows hopping every 30 minutes — each event feeds two
    window states."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionized_stream(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Native streaming sessionization: ``session_window`` merges
    events within ``gap`` of each other per user — the stateful
    streaming analogue of the batch lag+cumsum ``user_sessions`` query.
    """
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def deduped_stream(events: DataFrame) -> DataFrame:
    """Exactly-once projection of an at-least-once delivery: watermark
    + ``dropDuplicates`` keyed by (event_id, ts). Including the event-
    time column in the key lets the engine age dedup state out past the
    watermark — the unbounded-state trap a 1000-executor job must avoid
    (state is otherwise |all event ids ever seen|)."""
    return events.withWatermark("ts", "10 minutes").dropDuplicates(
        ["event_id", "ts"]
    )


def click_purchase_join_stream(
    clicks: DataFrame, purchases: DataFrame, horizon: str = "30 minutes", how: str = "inner"
) -> DataFrame:
    """Stream-stream join: each click pairs with the same user's
    purchases in (click_ts, click_ts + horizon]. Watermarks on BOTH
    sides plus the time-range join condition bound the buffered state to
    watermark + horizon per side — the canonical interval-join pattern
    (without the range condition the join state would grow forever).

    ``how='leftOuter'`` adds the null-emission semantics: an unmatched
    click row is emitted (purchase columns null) only once the
    watermark passes click_ts + horizon — i.e. once no future purchase
    can possibly match — so the outer result is eventual, gated by
    event-time progress, not by batch boundaries."""
    c = clicks.select(
        F.col("user_id"), F.col("ts").alias("c_ts")
    ).withWatermark("c_ts", "10 minutes")
    p = purchases.select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    ).withWatermark("p_ts", "10 minutes")
    return c.join(
        p,
        F.expr(
            f"user_id = p_user AND p_ts > c_ts AND p_ts <= c_ts + INTERVAL {horizon}"
        ),
        how,
    )


def run_stream_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Run a streaming query to completion against a memory sink and
    return the materialized result as a batch DataFrame (test/driver
    harness; a production job would writeStream to kafka/parquet)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")
