"""Time-series anomaly detection and time-weighted averaging over
``events`` — both oracle-exact despite floating point.

The reference has no notion of time or deviation (SURVEY.md §1.1);
these are the monitoring-style operators an events store needs: a
trailing-window z-score flagger and the TimescaleDB-style
time-weighted average (value integrated over its holding duration).

Determinism: trailing-window sums accumulate in DECIMAL (exact, order-
independent); every double expression afterwards is the identical IEEE
tree in Spark and DuckDB. Event times compare in integer MICROSECONDS
(``unix_micros`` / ``epoch_us``) — casting timestamps to epoch seconds
truncates in Spark but rounds in DuckDB, a real cross-engine trap.

Scale notes: the z-score window partitions by (event_type, chunk)
with a replicated 1-hour context tail per chunk, where the chunk
width (day vs hour) is derived from a measured rows-per-(type, day)
probe — parallelism scales with time × types instead of capping at
|types|, no single chunk can outgrow a task, and the frame (≤1 h back)
sees identical history, so results are bit-identical to the monolithic
window (oracle-checked). No self-join, no shuffle beyond the
partitioning. The TWA is lead() + one partial-aggregated groupBy per
type.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.numeric import DEC
from ..plans.decisions import decide
from ..plans.registry import register
from ..sources.tables import load_table, table_stamp

HOUR_US = 3_600_000_000
DAY_US = 24 * HOUR_US
Z_CUT = 2.5
MIN_N = 5

#: density-adaptive chunk key (VERDICT r4 task 5): the z-score window
#: chunks by (event_type, DAY) by default; when the measured max rows
#: per (type, day) reaches this floor, one chunk is more than a single
#: task should window-sort/buffer in memory, and the chunk key drops to
#: (event_type, HOUR). Hour chunks replicate every row once (the whole
#: previous hour is the context tail) — a 2× row cost that only pays
#: for itself when day chunks are genuinely oversized, hence a floor at
#: task-memory scale rather than a balance heuristic. Either key gives
#: the bit-identical result (decimal sums are order-exact; equality is
#: pytest-asserted at both granularities).
ZSCORE_HOUR_CHUNK_FLOOR = 1_000_000

def _zscore_chunk_us(ev: DataFrame, key: tuple) -> int:
    """Measure max rows per (event_type, day) and return the chunk
    width: DAY_US normally, HOUR_US for day-chunks past the floor
    (decision site ``zscore``; one tiny aggregate per corpus, memoized —
    a chunk-key choice can never change results, only the plan)."""

    def measure() -> dict:
        row = (
            ev.groupBy("event_type", F.floor(F.unix_micros("ts") / DAY_US))
            .count()
            .agg(F.max("count").alias("mx"))
            .first()
        )
        mx = int(row["mx"]) if row is not None and row["mx"] is not None else 0
        return {
            "max_rows_per_type_day": mx,
            "chunk_us": HOUR_US if mx >= ZSCORE_HOUR_CHUNK_FLOOR else DAY_US,
            "floor": ZSCORE_HOUR_CHUNK_FLOOR,
        }

    return decide("zscore", key, measure)["chunk_us"]


@register(
    "events_zscore_anomalies",
    oracle=f"""
WITH w AS (
  SELECT event_id, ts, event_type, value,
         count(*) OVER tw AS n,
         CAST(sum(CAST(value AS {DEC})) OVER tw AS DOUBLE) AS s,
         CAST(sum(CAST(value * value AS {DEC})) OVER tw AS DOUBLE) AS s2
  FROM events
  WINDOW tw AS (PARTITION BY event_type ORDER BY epoch_us(ts)
                RANGE BETWEEN {HOUR_US} PRECEDING AND CURRENT ROW)
), scored AS (
  SELECT event_id, ts, event_type, value, n,
         (value - s / CAST(n AS DOUBLE))
           / sqrt((s2 - s * s / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) AS z
  FROM w
  WHERE n >= {MIN_N} AND (s2 - s * s / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) > 0
)
SELECT event_id, ts, event_type, value,
       CAST(round(CAST(z AS DECIMAL(30,12)), 6) AS DOUBLE) AS zscore
FROM scored WHERE abs(z) >= {Z_CUT}
ORDER BY event_type, ts, event_id
""",
    description="Trailing 1-hour z-score outliers per event_type: each "
    "event scored against the mean/stddev of its type's previous hour "
    "(inclusive), flagged at |z| ≥ 2.5 with ≥5 supporting points. One "
    "window pass partitioned by (event_type, chunk) with a replicated "
    "1-hour context tail; the chunk width is density-derived (day, or "
    "hour when a measured (type, day) cell exceeds the task-memory "
    "floor) — parallelism scales with the data, results "
    "bit-identical to the monolithic per-type window. Sums exact in "
    "decimal, timestamps compared in integer microseconds; no "
    "self-join.",
    tags=("timeseries", "anomaly", "zscore", "events"),
)
def events_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Chunked window evaluation: partitioning by event_type alone caps
    # parallelism at |types| (5 here — 5 tasks no matter how many cores;
    # unusable at 100 TB). The frame only reaches 1 hour back, so the
    # window can instead partition by (event_type, CHUNK): every event
    # in a chunk's last hour is replicated into the NEXT chunk as a
    # context row (scored but discarded), giving each chunk exactly the
    # history its own rows' frames need. Decimal sums are order-exact,
    # so the chunked result is bit-identical to the monolithic window.
    # The chunk width is DENSITY-DERIVED (day vs hour — see
    # _zscore_chunk_us), so oversized day chunks cannot pin a task.
    chunk_us = _zscore_chunk_us(
        ev, (table_stamp(sf_dir, "events"), ZSCORE_HOUR_CHUNK_FLOOR)
    )
    us = F.unix_micros("ts")
    base = ev.select(
        "event_id", "ts", "event_type", "value", us.alias("us"),
        F.floor(us / chunk_us).alias("chunk"),
    )
    ctx = (
        base.filter(F.col("us") % chunk_us >= chunk_us - HOUR_US)
        .withColumn("chunk", F.col("chunk") + 1)
        .withColumn("is_ctx", F.lit(1))
    )
    chunked = base.withColumn("is_ctx", F.lit(0)).unionByName(ctx)
    tw = (
        W.partitionBy("event_type", "chunk")
        .orderBy("us")
        .rangeBetween(-HOUR_US, 0)
    )
    v = F.col("value")
    w = chunked.select(
        "event_id",
        "ts",
        "event_type",
        "value",
        "is_ctx",
        F.count(F.lit(1)).over(tw).alias("n"),
        F.sum(v.cast(DEC)).over(tw).cast("double").alias("s"),
        F.sum((v * v).cast(DEC)).over(tw).cast("double").alias("s2"),
    ).filter(F.col("is_ctx") == 0)
    nd = F.col("n").cast("double")
    s, s2 = F.col("s"), F.col("s2")
    var = (s2 - s * s / nd) / nd
    z = (F.col("value") - s / nd) / F.sqrt(var)
    return (
        w.filter((F.col("n") >= MIN_N) & (var > 0))
        .filter(F.abs(z) >= Z_CUT)  # cut on RAW z, like the oracle
        .select(
            "event_id",
            "ts",
            "event_type",
            "value",
            F.round(z.cast("decimal(30,12)"), 6).cast("double").alias("zscore"),
        )
        .orderBy("event_type", "ts", "event_id")
    )


@register(
    "events_time_weighted_avg",
    oracle=f"""
WITH seg AS (
  SELECT event_type, value,
         lead(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY epoch_us(ts), event_id)
           - epoch_us(ts) AS dur_us
  FROM events
), spans AS (
  SELECT event_type,
         CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS DOUBLE) / 1000000.0 AS total_s,
         count(*) AS n_events
  FROM events GROUP BY event_type
), contrib AS (
  SELECT event_type,
         sum(CAST(value * (CAST(dur_us AS DOUBLE) / 1000000.0) AS {DEC})) AS c
  FROM seg WHERE dur_us IS NOT NULL GROUP BY event_type
)
SELECT s.event_type, s.n_events,
       CAST(round(CAST(CAST(c.c AS DOUBLE) / s.total_s AS DECIMAL(30,12)), 6) AS DOUBLE)
         AS time_weighted_avg
FROM spans s JOIN contrib c ON s.event_type = c.event_type
ORDER BY s.event_type
""",
    description="Time-weighted average value per event_type: each "
    "observation holds until the next one (last-point excluded), its "
    "value weighted by holding duration in seconds and integrated over "
    "the type's observed span — the TimescaleDB time_weight('LOCF') "
    "semantic. Durations from lead() in integer microseconds; weighted "
    "contributions summed exactly in decimal.",
    tags=("timeseries", "twa", "events"),
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    nxt = W.partitionBy("event_type").orderBy(F.unix_micros("ts"), "event_id")
    seg = ev.select(
        "event_type",
        "value",
        (F.lead(us).over(nxt) - us).alias("dur_us"),
    )
    spans = ev.groupBy("event_type").agg(
        ((F.max(us) - F.min(us)).cast("double") / 1_000_000.0).alias("total_s"),
        F.count(F.lit(1)).alias("n_events"),
    )
    contrib = (
        seg.filter(F.col("dur_us").isNotNull())
        .groupBy("event_type")
        .agg(
            F.sum(
                (
                    F.col("value") * (F.col("dur_us").cast("double") / 1_000_000.0)
                ).cast(DEC)
            ).alias("c")
        )
    )
    return (
        spans.join(contrib, "event_type")
        .select(
            "event_type",
            "n_events",
            # try_divide: a type whose events all share ONE timestamp has
            # total_s = 0 — DuckDB's double division yields NULL there,
            # ANSI Spark would throw
            F.round(
                F.try_divide(F.col("c").cast("double"), F.col("total_s")).cast(
                    "decimal(30,12)"
                ),
                6,
            )
            .cast("double")
            .alias("time_weighted_avg"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------------------------
# robust (median/MAD) anomaly detection — the outlier-resistant twin
# of the z-score detector above: a single wild day cannot inflate its
# own detection threshold the way it inflates a mean/stddev.
# ------------------------------------------------------------------

#: scaled-MAD consistency constant (MAD·1.4826 ≈ σ for normal data)
MAD_SIGMA = 1.4826
#: cut calibrated to the driver corpus's uniform synthetic dailies
#: (max robust-z ≈ 2.7 at sf0.01 — a 3.0 cut returns the empty set,
#: which checks nothing); real deployments run 3.0-3.5
MAD_CUT = 1.5


@register(
    "events_mad_anomalies",
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(round(CAST(sum(CAST(value AS {DEC})) AS DOUBLE), 2) AS DOUBLE)
           AS day_total
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
  GROUP BY event_type, CAST(date_trunc('day', ts) AS DATE)
), med AS (
  SELECT event_type, median(day_total) AS med FROM daily GROUP BY event_type
), dev AS (
  SELECT d.event_type, d.day, d.day_total, abs(d.day_total - m.med) AS dev, m.med
  FROM daily d JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, median(dev) AS mad FROM dev GROUP BY event_type
)
SELECT d.event_type, d.day, d.day_total,
       CAST(round(CAST(d.dev / ({MAD_SIGMA} * a.mad) AS DECIMAL(30,12)), 6)
            AS DOUBLE) AS robust_z
FROM dev d JOIN mad a USING (event_type)
WHERE a.mad > 0 AND d.dev / ({MAD_SIGMA} * a.mad) > {MAD_CUT}
ORDER BY event_type, day
""",
    description="Robust daily anomaly detection per event type: daily "
    "totals (exact decimal sums, 2-dp snapped so both engines' medians "
    "see identical doubles), per-type MEDIAN and MAD (median absolute "
    f"deviation), days flagged when |total − median| > {MAD_CUT} × "
    f"{MAD_SIGMA} × MAD. Unlike the mean/stddev z-score twin "
    "(events_zscore_anomalies), one wild day cannot inflate its own "
    "detection threshold — the estimator's breakdown point is 50%. "
    "Scale notes: dailies are a partial-aggregated groupBy (|types × "
    "days| rows); both median passes and the joins run on that bounded "
    "relation, broadcast back — the corpus-sized stream is touched "
    "once. Both engines interpolate the even-count median identically "
    "from identical snapped inputs.",
    tags=("timeseries", "anomaly", "robust", "events"),
)
def events_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 2).alias("day_total")
    )
    med = daily.groupBy("event_type").agg(F.median("day_total").alias("med"))
    dev = daily.join(F.broadcast(med), "event_type").select(
        "event_type",
        "day",
        "day_total",
        F.abs(F.col("day_total") - F.col("med")).alias("dev"),
    )
    mad = dev.groupBy("event_type").agg(F.median("dev").alias("mad"))
    rz = F.col("dev") / (F.lit(MAD_SIGMA) * F.col("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter((F.col("mad") > 0) & (rz > MAD_CUT))
        .select(
            "event_type",
            "day",
            "day_total",
            F.round(rz.cast("decimal(30,12)"), 6).cast("double").alias("robust_z"),
        )
        .orderBy("event_type", "day")
    )
