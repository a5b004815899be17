"""Structured Streaming queries registered for the driver harness.

These run the streaming plans from ``streaming/events.py`` to completion
against a memory sink and return the materialized batch result, so the
driver can treat a stream like any other query. The tumbling query
carries the SAME DuckDB oracle as its batch twin
(``events_tumbling_hourly``) — a file-replay stream in complete mode
must reproduce the batch answer exactly, which is the strongest
correctness statement a streaming engine can make without a second
streaming engine to compare against.

Reference parity note: the reference (1.cpp / project.cpp) is strictly
one-shot batch — streaming is extension surface (SURVEY.md §2.2/§2.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.numeric import DEC
from ..operators.corpus_ops import NEW_BATCH_SOURCE
from ..operators.event_windows import _SESSION_GAP_US
from ..operators.timeseries import (
    CUSUM_DAILY_ORACLE,
    EWMA_DAILY_ORACLE,
    HOLT_DAILY_ORACLE,
    cusum_chain,
    ewma_chain,
    holt_chain,
)
from ..plans.registry import register
from ..streaming.events import (
    enriched_segment_stream,
    run_stream_to_memory,
    sessionized_stream,
    sliding_counts_stream,
    stream_events,
    stream_events_multibatch,
    tumbling_counts_stream,
)
from ..streaming.stateful import running_daily_fold, running_user_totals


@register(
    "streaming_tumbling_hourly",
    oracle=f"""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS {DEC})) AS DOUBLE), 2) AS total_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
ORDER BY window_start, event_type
""",
    description="Structured Streaming twin of events_tumbling_hourly: "
    "readStream(parquet) → watermark 10m → window(1h) × event_type agg → "
    "memory sink, run to completion. Checked against the same batch oracle.",
    tags=("streaming", "events", "window"),
)
def streaming_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = tumbling_counts_stream(stream_events(spark, sf_dir))
    return run_stream_to_memory(stream, "q_streaming_tumbling_hourly")


@register(
    "streaming_sliding_windows",
    oracle=f"""
WITH assigned AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, event_type, value
  FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS window_start,
         event_type, value
  FROM events
)
SELECT window_start, event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS {DEC})) AS DOUBLE), 2) AS total_value
FROM assigned
GROUP BY window_start, event_type
ORDER BY window_start, event_type
""",
    description="Structured Streaming twin of events_sliding_windows: "
    "1-hour windows hopping every 30 minutes through readStream, each "
    "event updating two window states. Same batch oracle.",
    tags=("streaming", "events", "window", "sliding"),
)
def streaming_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = sliding_counts_stream(stream_events(spark, sf_dir))
    return run_stream_to_memory(stream, "q_streaming_sliding_windows")


@register(
    "streaming_enriched_segment_totals",
    oracle=f"""
SELECT date_trunc('hour', e.ts) AS window_start,
       c.c_mktsegment,
       count(*) AS n_events,
       round(CAST(sum(CAST(e.value AS {DEC})) AS DOUBLE), 2) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY date_trunc('hour', e.ts), c.c_mktsegment
ORDER BY window_start, c_mktsegment
""",
    description="Stream-STATIC dimension enrichment: the event stream "
    "broadcast-joins the static customer dim per micro-batch (no join "
    "state, unlike a stream-stream join), then hourly totals per market "
    "segment. Checked against the equivalent batch join+aggregate "
    "oracle in DuckDB.",
    tags=("streaming", "events", "join", "enrichment"),
)
def streaming_enriched_segment_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    customer = load_table(spark, sf_dir, "customer")
    stream = enriched_segment_stream(stream_events(spark, sf_dir), customer)
    return run_stream_to_memory(stream, "q_streaming_enriched_segment_totals")


@register(
    "streaming_user_sessions",
    # promoted out of rows-only (VERDICT r4 task 7): the final state of
    # the complete-mode session_window replay IS the batch gaps-and-
    # islands derivation — the SAME oracle the batch twin
    # events_session_window_native hash-passes (half-open boundary: a
    # gap of exactly 5 min starts a new session; decimal value sums are
    # order-exact, so replay order cannot perturb the hash).
    oracle=f"""
WITH gaps AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM events WHERE ts IS NOT NULL
), sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM gaps
)
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL 5 MINUTE AS session_end,
       user_id,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS {DEC})) AS DOUBLE), 2) AS total_value
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_start
""",
    description="Native streaming sessionization via session_window(ts, "
    "'5 minutes') per user — stateful merge windows; the complete-mode "
    "replay's final table equals the batch gaps-and-islands sessions "
    "exactly (value-checked against the same oracle as "
    "events_session_window_native).",
    tags=("streaming", "events", "session"),
)
def streaming_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = sessionized_stream(stream_events(spark, sf_dir))
    return run_stream_to_memory(stream, "q_streaming_user_sessions")


@register(
    "streaming_stateful_user_totals",
    # promoted out of rows-only (VERDICT r4 task 7): the GroupState
    # accumulator now sums exact integer 1e-12 units (each value
    # quantized exactly as the engines' double→DECIMAL(38,12) cast —
    # streaming/stateful.py:_dec_units), so the final per-user state is
    # order-independent and hash-matches the batch SQL decimal sum.
    oracle=f"""
SELECT user_id, count(*) AS n_events,
       round(CAST(sum(CAST(value AS {DEC})) AS DOUBLE), 2) AS total_value
FROM events
WHERE value IS NOT NULL
GROUP BY user_id
ORDER BY user_id
""",
    description="Custom stateful streaming operator: running per-user "
    "(count, exact-decimal sum) in explicit GroupState via "
    "applyInPandasWithState, update mode. State accumulates integer "
    "1e-12 units (the catalog's DECIMAL(38,12) quantum), so the final "
    "state per user equals the batch decimal aggregate bit-for-bit — "
    "value-checked, not just rows-only.",
    tags=("streaming", "stateful", "pandas-udf"),
)
def streaming_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    stream = running_user_totals(stream_events(spark, sf_dir))
    updates = run_stream_to_memory(
        stream, "q_streaming_stateful_user_totals", output_mode="update"
    )
    # update mode appends one row per user per micro-batch; the final
    # state is the row with the highest running count (monotone per user)
    latest = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        updates.withColumn("_rn", F.row_number().over(latest))
        .filter(F.col("_rn") == 1)
        # a user whose every value is NULL has n = 0 and no oracle row
        .filter(F.col("n_events") > 0)
        .select(
            "user_id",
            "n_events",
            # exact decimal string → decimal → the oracle's round-to-2
            F.round(F.col("total_dec").cast("decimal(38,12)").cast("double"), 2)
            .alias("total_value"),
        )
        .orderBy("user_id")
    )


@register(
    "streaming_dedup_exactly_once",
    oracle=f"""
SELECT event_type, count(*) AS n_events,
       round(CAST(sum(CAST(value AS {DEC})) AS DOUBLE), 2) AS total_value
FROM events GROUP BY event_type ORDER BY event_type
""",
    description="Streaming exactly-once dedup: the events stream is "
    "unioned with itself (simulating at-least-once redelivery), then "
    "watermark + dropDuplicates(event_id, ts) drops the echoes with "
    "state that ages out past the watermark. The deduped append-mode "
    "output aggregates back to exactly the batch per-type totals — "
    "duplicates provably eliminated.",
    tags=("streaming", "dedup", "exactly-once"),
)
def streaming_dedup_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..streaming.events import deduped_stream

    redelivered = stream_events(spark, sf_dir).unionByName(
        stream_events(spark, sf_dir)
    )
    ded = deduped_stream(redelivered).select("event_id", "ts", "event_type", "value")
    out = run_stream_to_memory(
        ded, "q_streaming_dedup_exactly_once", output_mode="append"
    )
    return (
        out.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 2).alias(
                "total_value"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "streaming_click_purchase_join",
    oracle="""
SELECT c.user_id, count(*) AS n_pairs
FROM events c JOIN events p
  ON p.user_id = c.user_id
 AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
GROUP BY c.user_id ORDER BY c.user_id
""",
    description="Stream-stream interval join: clicks joined to the same "
    "user's purchases within the following 30 minutes, watermarks on "
    "both sides + the time-range condition bounding buffered state. "
    "Append-mode pairs aggregate to per-user counts equal to the batch "
    "self-join — the file replay must reproduce it exactly.",
    tags=("streaming", "join", "interval"),
)
def streaming_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..streaming.events import click_purchase_join_stream

    clicks = stream_events(spark, sf_dir).filter(F.col("event_type") == "click")
    purchases = stream_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    pairs = click_purchase_join_stream(clicks, purchases)
    out = run_stream_to_memory(
        pairs, "q_streaming_click_purchase_join", output_mode="append"
    )
    return (
        out.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("user_id")
    )


@register(
    "streaming_click_purchase_left_join",
    oracle="""
WITH m AS (
  SELECT least(
    (SELECT max(ts) FROM events WHERE event_type = 'click'),
    (SELECT max(ts) FROM events WHERE event_type = 'purchase')
  ) AS mx
),
base AS (
  SELECT c.ts AS c_ts, c.user_id AS user_id, p.ts AS p_ts
  FROM events c
  LEFT JOIN events p
    ON p.user_id = c.user_id
   AND p.event_type = 'purchase'
   AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
  WHERE c.event_type = 'click'
)
SELECT user_id,
       count(*) AS n_rows,
       count(p_ts) AS n_matched,
       count(*) - count(p_ts) AS n_unmatched
FROM base, m
WHERE c_ts <= mx - INTERVAL 41 MINUTE
GROUP BY user_id
ORDER BY user_id
""",
    description="LEFT OUTER stream-stream interval join — the hardest "
    "streaming join semantic: matched pairs emit on arrival, unmatched "
    "clicks emit with null purchase columns only after the watermark "
    "passes click_ts + horizon (no future match possible). The flush "
    "cutoff is ENCODED IN THE ORACLE: the join's global watermark is "
    "the MIN of the two sides' (each max event time seen post-filter, "
    "less the 10min delay), so every click older than that minus the "
    "30min horizon is provably flushed; both sides compare only clicks "
    "at least 1 minute inside that line, making the outer semantics "
    "fully value-checked rather than rows-only.",
    tags=("streaming", "join", "interval", "outer"),
)
def streaming_click_purchase_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..sources.tables import load_table
    from ..streaming.events import click_purchase_join_stream

    clicks = stream_events(spark, sf_dir).filter(F.col("event_type") == "click")
    purchases = stream_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    rows = click_purchase_join_stream(clicks, purchases, how="leftOuter")
    out = run_stream_to_memory(
        rows, "q_streaming_click_purchase_left_join", output_mode="append"
    )
    ev = load_table(spark, sf_dir, "events")
    mx = (
        ev.filter(F.col("event_type") == "click")
        .agg(F.max("ts").alias("mxc"))
        .crossJoin(
            ev.filter(F.col("event_type") == "purchase").agg(F.max("ts").alias("mxp"))
        )
        .select(F.least("mxc", "mxp").alias("mx"))
    )
    return (
        out.crossJoin(F.broadcast(mx))
        .filter(F.col("c_ts") <= F.col("mx") - F.expr("INTERVAL 41 MINUTE"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("p_ts").alias("n_matched"),
            (F.count(F.lit(1)) - F.count("p_ts")).alias("n_unmatched"),
        )
        .orderBy("user_id")
    )


@register(
    "streaming_incremental_admission",
    oracle=f"""
WITH h AS (
  SELECT doc_id, source, md5(text) AS content_hash FROM documents
)
SELECT n.doc_id, n.content_hash
FROM h n
WHERE n.source = '{NEW_BATCH_SOURCE}'
  AND NOT EXISTS (
    SELECT 1 FROM h c
    WHERE c.source <> '{NEW_BATCH_SOURCE}'
      AND c.content_hash = n.content_hash
  )
ORDER BY n.doc_id
""",
    description="The corpus admission gate AS A STREAM: newly crawled "
    f"documents (source = {NEW_BATCH_SOURCE!r}) arrive on a file "
    "stream and are admitted only if their content digest is absent "
    "from the established static corpus — a stream-static LEFT ANTI "
    "join, the streaming twin of dedup_incremental_batch (same oracle, "
    "so this is one of the rare VALUE-checked streaming queries: the "
    "replayed stream must reproduce the batch anti-join exactly). "
    "Scale notes: the static side is a digest-only projection (32-byte "
    "hashes, no text) that Spark broadcasts or hash-joins per "
    "micro-batch; the stream side carries (doc_id, digest). In "
    "production the static side refreshes per batch via "
    "foreachBatch — the plan is unchanged.",
    tags=("streaming", "dedup", "incremental"),
)
def streaming_incremental_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..sources.tables import load_table, table_path
    from ..streaming.events import _as_stream_dir

    path = table_path(sf_dir, "documents")
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(_as_stream_dir(path))
    new = stream.filter(F.col("source") == NEW_BATCH_SOURCE).select(
        "doc_id", F.md5("text").alias("content_hash")
    )
    corpus = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source") != NEW_BATCH_SOURCE)
        .select(F.md5("text").alias("content_hash"))
    )
    admitted = new.join(corpus, "content_hash", "left_anti").select(
        "doc_id", "content_hash"
    )
    out = run_stream_to_memory(
        admitted, "q_streaming_incremental_admission", output_mode="append"
    )
    return out.orderBy("doc_id")


def _streaming_daily(
    spark: SparkSession, sf_dir: str, name: str, chain, fields: str
) -> DataFrame:
    """The streaming twin of a daily recurrence: replay ``events`` as 4
    micro-batches (a day may straddle batches), fold each type's day
    totals with ``chain`` in group state (``running_daily_fold``), and
    keep each (type, day)'s latest emission — update mode re-emits a
    type's whole chain per batch, so the highest version is the final
    value."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    typed = (
        stream_events_multibatch(spark, sf_dir, n_files=4)
        .filter(F.col("ts").isNotNull())
        .select("event_type", F.col("ts").cast("date").alias("day"), "value")
    )
    updates = run_stream_to_memory(
        running_daily_fold(typed, chain, fields), name, output_mode="update"
    )
    latest = Window.partitionBy("event_type", "day").orderBy(F.desc("version"))
    return (
        updates.withColumn("_rn", F.row_number().over(latest))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "version")
        .orderBy("event_type", "day")
    )


@register(
    "streaming_ewma_daily",
    # the batch twin's recursive-CTE oracle, verbatim: the stream's
    # final per-(type, day) state must reproduce the batch EWMA chain
    oracle=EWMA_DAILY_ORACLE,
    description="Custom stateful streaming twin of events_ewma_daily: "
    "per-type group state accumulates exact 1e-6-unit day totals "
    "across micro-batches (a day may straddle batches — the 4-file "
    "range-partitioned replay exercises that) and re-emits the whole "
    "per-type EWMA chain each batch with bit-exact replications of "
    "the engine's decimal snaps; the last emission per (type, day) "
    "hash-matches the batch recursive-CTE oracle. A NUMERIC-recurrence "
    "state shape (vs the counter state of "
    "streaming_stateful_user_totals): the pattern for streaming "
    "anomaly baselines. State is |days| entries per type — "
    "time-bounded, never traffic-bounded.",
    tags=("streaming", "stateful", "pandas-udf", "timeseries"),
)
def streaming_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _streaming_daily(
        spark, sf_dir, "q_streaming_ewma_daily", ewma_chain, "ewma double"
    )


@register(
    "streaming_holt_daily",
    # the batch twin's recursive-CTE oracle, verbatim
    oracle=HOLT_DAILY_ORACLE,
    description="Custom stateful streaming twin of events_holt_daily — "
    "completing the stateful-recurrence trilogy (EWMA: prefix "
    "recurrence; CUSUM: global-statistic recurrence; Holt: COUPLED "
    "level+trend recurrence where the trend update reads the NEW "
    "level): per-type group state accumulates exact 1e-6-unit day "
    "totals across micro-batches and each emission re-folds the "
    "two-accumulator chain with bit-exact replications of the "
    "engine's decimal snaps, emitting level, trend and the "
    "one-step-ahead forecast. The last emission per (type, day) "
    "hash-matches the batch recursive-CTE oracle. State is |days| "
    "entries per type — time-bounded, never traffic-bounded.",
    tags=("streaming", "stateful", "pandas-udf", "timeseries", "forecast"),
)
def streaming_holt_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _streaming_daily(
        spark,
        sf_dir,
        "q_streaming_holt_daily",
        holt_chain,
        "level double, trend double, forecast_next double",
    )


@register(
    "streaming_cusum_daily",
    # the batch twin's recursive-CTE oracle, verbatim
    oracle=CUSUM_DAILY_ORACLE,
    description="Custom stateful streaming twin of events_cusum_daily "
    "— the streaming DRIFT detector beside streaming_ewma_daily's "
    "smoother: per-type group state accumulates exact 1e-6-unit day "
    "totals across micro-batches, and each emission recomputes the "
    "series mean FROM STATE before re-folding the max-clamped chain "
    "S_t = max(0, S_(t-1) + (x_t − μ)) with bit-exact replications of "
    "the engine's decimal snaps. Unlike the EWMA (prefix-dependent), "
    "μ depends on every day seen so far, so the whole chain genuinely "
    "re-forms as data arrives — the state shape for global-statistic "
    "recurrences; the last emission per (type, day) hash-matches the "
    "batch recursive-CTE oracle. State is |days| entries per type — "
    "time-bounded, never traffic-bounded.",
    tags=("streaming", "stateful", "pandas-udf", "timeseries", "anomaly"),
)
def streaming_cusum_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _streaming_daily(
        spark, sf_dir, "q_streaming_cusum_daily", cusum_chain, "cusum double, drift_flag int"
    )
