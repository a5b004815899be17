"""Time-series operators over ``events``: dense resampling with gap
fill + forward fill, and a multi-resolution rollup that derives each
coarser grain from the next finer one's partials.

The reference has no notion of time at all (SURVEY.md §2.1 — its one
input is a bag of words); these give the engine the hypertable-style
operations an events store needs.

Scale notes: the 15-minute spine is generated from ONE global
min/max row cross-joined with the distinct keys — at 100 TB the spine
is still tiny (slots × keys), so the dense left join broadcasts the
spine side, not the data. The rollup aggregates raw data ONCE at
minute grain and derives hour and day grains by re-aggregating the
minute partials — the classic materialized-rollup pattern: each level
costs |finer level| rows, not another scan of the fact table. Decimal
partial sums stay unrounded until output so every level is
oracle-exact under any partitioning.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.numeric import DEC, snap6, snap6_value
from ..plans.registry import register
from ..sources.tables import load_table

RESAMPLE_SECONDS = 15 * 60


@register(
    "events_gapfill_resample",
    oracle=f"""
WITH slotted AS (
  SELECT time_bucket(INTERVAL '15 minutes', ts) AS slot, event_type,
         count(*) AS n_events,
         CAST(round(CAST(CAST(sum(CAST(value AS {DEC})) AS DOUBLE) / count(*)
                         AS DECIMAL(30,12)), 4) AS DOUBLE) AS avg_value
  FROM events
  GROUP BY 1, 2
), bounds AS (
  SELECT time_bucket(INTERVAL '15 minutes', min(ts)) AS lo,
         time_bucket(INTERVAL '15 minutes', max(ts)) AS hi
  FROM events
), spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL '15 minutes')) AS slot, event_type
  FROM bounds CROSS JOIN (SELECT DISTINCT event_type FROM events) t
)
SELECT s.slot, s.event_type,
       coalesce(sl.n_events, 0) AS n_events,
       sl.avg_value,
       last_value(sl.avg_value IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.slot
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS filled_avg
FROM spine s LEFT JOIN slotted sl ON s.slot = sl.slot AND s.event_type = sl.event_type
ORDER BY s.event_type, s.slot
""",
    description="Dense 15-minute resample per event_type: a generated "
    "time spine left-joined with the slot aggregates, empty slots "
    "gap-filled with 0 counts and forward-filled averages "
    "(last-observation-carried-forward via last(ignorenulls) over an "
    "ordered window). The spine derives from one global min/max row and "
    "is broadcast — the fact table never reshuffles for the join.",
    tags=("timeseries", "gapfill", "resample", "events"),
)
def events_gapfill_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    slotted = (
        events.groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                (F.sum(F.col("value").cast(DEC)).cast("double") / F.count(F.lit(1))).cast(
                    "decimal(30,12)"
                ),
                4,
            )
            .cast("double")
            .alias("avg_value"),
        )
        .select(F.col("w.start").alias("slot"), "event_type", "n_events", "avg_value")
    )
    floor15 = lambda c: F.timestamp_seconds(  # noqa: E731
        F.floor(F.unix_timestamp(c) / RESAMPLE_SECONDS) * RESAMPLE_SECONDS
    )
    bounds = events.agg(
        floor15(F.min("ts")).alias("lo"), floor15(F.max("ts")).alias("hi")
    )
    spine = (
        bounds.crossJoin(events.select("event_type").distinct())
        .select(
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 15 MINUTES"))).alias("slot"),
            "event_type",
        )
    )
    ffill = F.last("avg_value", ignorenulls=True).over(
        W.partitionBy("event_type").orderBy("slot").rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        spine.join(F.broadcast(slotted), ["slot", "event_type"], "left")
        .select(
            "slot",
            "event_type",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            "avg_value",
            ffill.alias("filled_avg"),
        )
        .orderBy("event_type", "slot")
    )


@register(
    "events_multires_rollup",
    oracle=f"""
WITH minute AS (
  SELECT date_trunc('minute', ts) AS slot, event_type,
         count(*) AS n_events, sum(CAST(value AS {DEC})) AS sdec
  FROM events GROUP BY 1, 2
), hour AS (
  SELECT date_trunc('hour', slot) AS slot, event_type,
         CAST(sum(n_events) AS BIGINT) AS n_events, sum(sdec) AS sdec
  FROM minute GROUP BY 1, 2
), day AS (
  SELECT date_trunc('day', slot) AS slot, event_type,
         CAST(sum(n_events) AS BIGINT) AS n_events, sum(sdec) AS sdec
  FROM hour GROUP BY 1, 2
)
SELECT level, slot, event_type, n_events,
       round(CAST(sdec AS DOUBLE), 2) AS total_value
FROM (
  SELECT 'minute' AS level, * FROM minute
  UNION ALL SELECT 'hour', * FROM hour
  UNION ALL SELECT 'day', * FROM day
)
ORDER BY level, slot, event_type
""",
    description="Hierarchical minute→hour→day rollup where each coarser "
    "grain re-aggregates the finer grain's unrounded decimal partials "
    "instead of rescanning events — the materialized-rollup pattern: "
    "one fact-table scan total, each extra level costs only |finer "
    "level| rows. All three grains emitted with a level tag.",
    tags=("timeseries", "rollup", "events"),
)
def events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    minute = events.groupBy(
        F.date_trunc("minute", "ts").alias("slot"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"), F.sum(F.col("value").cast(DEC)).alias("sdec"))
    hour = minute.groupBy(F.date_trunc("hour", "slot").alias("slot"), "event_type").agg(
        F.sum("n_events").alias("n_events"), F.sum("sdec").alias("sdec")
    )
    day = hour.groupBy(F.date_trunc("day", "slot").alias("slot"), "event_type").agg(
        F.sum("n_events").alias("n_events"), F.sum("sdec").alias("sdec")
    )
    levels = (
        minute.select(F.lit("minute").alias("level"), "*")
        .unionByName(hour.select(F.lit("hour").alias("level"), "*"))
        .unionByName(day.select(F.lit("day").alias("level"), "*"))
    )
    return levels.select(
        "level",
        "slot",
        "event_type",
        "n_events",
        F.round(F.col("sdec").cast("double"), 2).alias("total_value"),
    ).orderBy("level", "slot", "event_type")


CUTOVER = "2024-01-25"


@register(
    "events_incremental_rollup",
    oracle=f"""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS {DEC})) AS DOUBLE), 2) AS total_value
FROM events WHERE ts IS NOT NULL
GROUP BY 1, 2 ORDER BY day, event_type
""",
    description="Incremental materialized-rollup maintenance: the daily "
    "rollup of the 'already materialized' base partition (< 2024-01-25) "
    "is MERGED with the rollup of the fresh delta partition via a full "
    "outer join that adds the decimal partials — proving rollup(base) ⊕ "
    "rollup(delta) = rollup(base ∪ delta), the algebra that lets a "
    "100 TB pipeline fold a day's delta into a stored rollup without "
    "rescanning history. Oracle recomputes from scratch; results must "
    "be bit-identical because the partials are exact decimals.",
    tags=("timeseries", "rollup", "incremental", "events"),
)
def events_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL event times excluded explicitly in both engines: the
    # base/delta cutover comparisons would silently route them to
    # NEITHER partition while the oracle's GROUP BY kept a NULL day
    # (edge-events sweep) — a row with no time belongs to no partition
    events = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())

    def daily(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).alias("sdec"),
        )

    base = daily(events.filter(F.col("ts") < CUTOVER))
    delta = daily(events.filter(F.col("ts") >= CUTOVER))
    b = base.select("day", "event_type", F.col("n").alias("bn"), F.col("sdec").alias("bs"))
    d = delta.select("day", "event_type", F.col("n").alias("dn"), F.col("sdec").alias("ds"))
    zero = F.lit(0).cast(DEC)
    return (
        b.join(d, ["day", "event_type"], "full_outer")
        .select(
            "day",
            "event_type",
            (F.coalesce("bn", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n_events"),
            F.round(
                (F.coalesce("bs", zero) + F.coalesce("ds", zero)).cast("double"), 2
            ).alias("total_value"),
        )
        .orderBy("day", "event_type")
    )




# --------------------------------------------------------------------------
# daily recurrences: EWMA, CUSUM and Holt over each event type's day totals.
# Each is defined once per engine: a Spark step for the batch fold
# (_daily_fold) and a Python chain for the streaming twin
# (streaming/stateful.py running_daily_fold), both snapping every step
# exactly like its recursive-CTE oracle.
# --------------------------------------------------------------------------

#: the oracles' shared day rollup and per-series day index
_DAILY_CTE = f"""daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         round(CAST(sum(CAST(value AS {DEC})) AS DOUBLE), 2) AS daily_total
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2
)"""
_IDX_CTE = """idx AS (
  SELECT event_type, day, daily_total,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS t
  FROM daily
)"""


def _daily_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, daily_total): the map-side-combinable day
    rollup every recurrence folds, rendered as ``_DAILY_CTE`` does."""
    events = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return events.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 2).alias("daily_total")
    )


def _daily_fold(daily: DataFrame, step, fields, *extra: Column) -> DataFrame:
    """The one batch fold: each event type's (day, daily_total)
    rows become one day-sorted array (|days| entries — time-bounded at
    any traffic volume; struct order leads with the unique day, so the
    fold order is deterministic), ``extra`` are further per-series
    aggregates the step may read by name (CUSUM's μ), and ``F.aggregate``
    folds the array into an accumulator of (day, daily_total, *fields)
    structs. ``step(acc, x)`` returns the new element's ``fields`` (all
    double) from the accumulator so far and the day ``x``; an empty
    ``acc`` is the first day. Returns ``daily``'s per-series columns
    plus ``r``, one exploded accumulator element per day.

    Sequential per series, parallel across series; the same shape runs
    per (series, month) chunks if a series' history outgrows one row."""
    arr = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "daily_total"))).alias("xs"), *extra
    )
    acc0 = F.array().cast(
        "array<struct<day:date,daily_total:double,"
        + ",".join(f"{f}:double" for f in fields)
        + ">>"
    )

    def _append(acc, x):
        new = [c.alias(f) for f, c in zip(fields, step(acc, x))]
        return F.concat(
            acc,
            F.array(
                F.struct(x["day"].alias("day"), x["daily_total"].alias("daily_total"), *new)
            ),
        )

    return arr.select("*", F.explode(F.aggregate("xs", acc0, _append)).alias("r"))


#: EWMA smoothing factor: ewma_t = EWMA_ALPHA·x_t + (1−EWMA_ALPHA)·ewma_{t−1}
EWMA_ALPHA = 0.3
_EWMA_BETA = 1 - EWMA_ALPHA


def _ewma_step(acc, x):
    prev = F.element_at(acc, -1)["ewma"]
    return (
        F.when(F.size(acc) == 0, x["daily_total"]).otherwise(
            snap6(F.lit(EWMA_ALPHA) * x["daily_total"] + F.lit(_EWMA_BETA) * prev)
        ),
    )


def ewma_chain(xs: list[float | None]) -> list[tuple]:
    """:func:`_ewma_step` over Python day totals: one (ewma,) per day; a
    NULL day poisons the rest of the chain, as NULL arithmetic does."""
    out, e = [], None
    for i, x in enumerate(xs):
        if i == 0:
            e = x
        elif x is None or e is None:
            e = None
        else:
            e = snap6_value(EWMA_ALPHA * x + _EWMA_BETA * e)
        out.append((e,))
    return out


#: shared with streaming_ewma_daily (operators/streaming_queries.py):
#: the streaming twin's final state must hash-match the same oracle
EWMA_DAILY_ORACLE = f"""
WITH RECURSIVE {_DAILY_CTE}, {_IDX_CTE}, ew AS (
  SELECT event_type, day, daily_total, t, daily_total AS ewma
  FROM idx WHERE t = 1
  UNION ALL
  SELECT i.event_type, i.day, i.daily_total, i.t,
         CAST(round(CAST({EWMA_ALPHA} * i.daily_total
                         + {_EWMA_BETA} * e.ewma AS DECIMAL(30,12)), 6)
              AS DOUBLE) AS ewma
  FROM idx i JOIN ew e ON i.event_type IS NOT DISTINCT FROM e.event_type
                      AND i.t = e.t + 1
)
SELECT event_type, day, daily_total, ewma
FROM ew
ORDER BY event_type, day
"""


@register(
    "events_ewma_daily",
    oracle=EWMA_DAILY_ORACLE,
    description=f"Exponentially weighted moving average of daily "
    f"per-type event volume (α={EWMA_ALPHA}), the standard smoothed "
    "baseline behind monitoring/alerting anomaly bands. The recurrence "
    "ewma_t = α·x_t + (1−α)·ewma_(t−1) is inherently sequential PER "
    "SERIES but embarrassingly parallel ACROSS series, so the engine "
    "folds each type's bounded day array (|days| elements — time-"
    "bounded, never traffic-bounded) with F.aggregate after one "
    "map-side-combinable daily rollup; every step snaps to 6 decimals "
    "so the chain is bit-identical to the oracle's recursive CTE. The "
    "same shape runs per (series, month) chunks if a series' history "
    "outgrows one row.",
    tags=("timeseries", "events", "report", "iterative"),
)
def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _daily_fold(_daily_totals(spark, sf_dir), _ewma_step, ("ewma",))
        .select("event_type", "r.day", "r.daily_total", "r.ewma")
        .orderBy("event_type", "day")
    )


def _cusum_step(acc, x):
    prev = F.element_at(acc, -1)["cusum"]
    raw = F.when(F.size(acc) == 0, snap6(x["daily_total"] - F.col("mu"))).otherwise(
        snap6(prev + (x["daily_total"] - F.col("mu")))
    )
    # explicit NULL guard: Spark's greatest SKIPS nulls while
    # DuckDB's returns NULL — the CASE makes both poison the chain
    return (
        F.when(
            x["daily_total"].isNull() | ((F.size(acc) > 0) & prev.isNull()),
            F.lit(None).cast("double"),
        ).otherwise(F.greatest(F.lit(0.0), raw)),
    )


def cusum_chain(xs: list[float | None]) -> list[tuple]:
    """:func:`_cusum_step` over Python day totals: one (cusum,
    drift_flag) per day. μ is the batch expression term by term: the
    DECIMAL(30,6) sum of the non-NULL totals cast to double, over the
    count of ALL days, snapped."""
    six = Decimal("0.000001")
    sum6 = sum(
        (Decimal(repr(x)).quantize(six, ROUND_HALF_UP) for x in xs if x is not None),
        Decimal(0),
    )
    mu = snap6_value(float(sum6) / len(xs))
    out, s = [], None
    for i, x in enumerate(xs):
        if x is None or (i > 0 and s is None):
            s = None
        else:
            s = max(0.0, snap6_value((x - mu) if i == 0 else s + (x - mu)))
        out.append((s, None if s is None else int(s > mu)))
    return out


#: shared with the streaming twin (streaming_cusum_daily), like
#: EWMA_DAILY_ORACLE above
CUSUM_DAILY_ORACLE = f"""
WITH RECURSIVE {_DAILY_CTE}, mu AS (
  SELECT event_type,
         CAST(round(CAST(CAST(sum(CAST(daily_total AS DECIMAL(30,6))) AS DOUBLE)
                         / count(*) AS DECIMAL(30,12)), 6) AS DOUBLE) AS mu
  FROM daily GROUP BY event_type
), idx AS (
  SELECT d.event_type, d.day, d.daily_total, m.mu,
         row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) AS t
  FROM daily d JOIN mu m ON d.event_type IS NOT DISTINCT FROM m.event_type
), cs AS (
  SELECT event_type, day, daily_total, mu, t,
         CASE WHEN daily_total IS NULL THEN NULL
              ELSE greatest(0.0,
                   CAST(round(CAST(daily_total - mu AS DECIMAL(30,12)), 6)
                        AS DOUBLE)) END AS cusum
  FROM idx WHERE t = 1
  UNION ALL
  SELECT i.event_type, i.day, i.daily_total, i.mu, i.t,
         CASE WHEN i.daily_total IS NULL OR c.cusum IS NULL THEN NULL
              ELSE greatest(0.0,
                   CAST(round(CAST(c.cusum + (i.daily_total - i.mu)
                              AS DECIMAL(30,12)), 6) AS DOUBLE)) END AS cusum
  FROM idx i JOIN cs c ON i.event_type IS NOT DISTINCT FROM c.event_type
                      AND i.t = c.t + 1
)
SELECT event_type, day, daily_total, cusum,
       CASE WHEN cusum IS NULL THEN NULL
            WHEN cusum > mu THEN 1 ELSE 0 END AS drift_flag
FROM cs
ORDER BY event_type, day
"""


@register(
    "events_cusum_daily",
    oracle=CUSUM_DAILY_ORACLE,
    description="One-sided CUSUM drift detection per event type: "
    "S_t = max(0, S_(t-1) + (x_t − μ)) over the daily totals with μ = "
    "the series' exact-decimal mean, flagging days whose cumulative "
    "excess tops one mean-day. Completes the monitoring triad beside "
    "events_zscore/mad_anomalies (point outliers) and "
    "events_ewma_daily (smoothing): CUSUM accumulates SMALL sustained "
    "shifts a z-score never trips on. Same shape as the EWMA fold — "
    "sequential per series, parallel across series, every step "
    "decimal-snapped and max-clamped EXPLICITLY NULL-guarded (Spark's "
    "greatest skips NULLs, DuckDB's does not — the CASE makes both "
    "engines poison the chain identically after an all-NULL day) — "
    "bit-identical to the recursive-CTE oracle.",
    tags=("timeseries", "events", "anomaly", "report", "iterative"),
)
def events_cusum_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    mu = snap6(
        F.sum(F.col("daily_total").cast("decimal(30,6)")).cast("double") / F.count(F.lit(1))
    ).alias("mu")
    return (
        _daily_fold(_daily_totals(spark, sf_dir), _cusum_step, ("cusum",), mu)
        .select(
            "event_type",
            "r.day",
            "r.daily_total",
            "r.cusum",
            F.when(F.col("r.cusum").isNull(), F.lit(None).cast("int"))
            .when(F.col("r.cusum") > F.col("mu"), 1)
            .otherwise(0)
            .alias("drift_flag"),
        )
        .orderBy("event_type", "day")
    )


#: Holt double-exponential smoothing coefficients: level_t = α·x_t +
#: (1−α)(level+trend), trend_t = β(level_t − level) + (1−β)·trend.
#: α = 0.5 keeps (1−α) exactly representable; the β complements are
#: interpolated from the SAME python doubles into both engines, so
#: whatever IEEE value 1−0.3 lands on, both sides use it bit-for-bit.
HOLT_ALPHA = 0.5
_HOLT_A1 = 1 - HOLT_ALPHA
HOLT_BETA = 0.3
_HOLT_B1 = 1 - HOLT_BETA


def _holt_step(acc, x):
    prev = F.element_at(acc, -1)
    lv = F.when(F.size(acc) == 0, x["daily_total"]).otherwise(
        snap6(
            F.lit(HOLT_ALPHA) * x["daily_total"]
            + F.lit(_HOLT_A1) * (prev["level"] + prev["trend"])
        )
    )
    tr = F.when(
        F.size(acc) == 0,
        F.when(x["daily_total"].isNull(), F.lit(None).cast("double")).otherwise(F.lit(0.0)),
    ).otherwise(snap6(F.lit(HOLT_BETA) * (lv - prev["level"]) + F.lit(_HOLT_B1) * prev["trend"]))
    return lv, tr


def holt_chain(xs: list[float | None]) -> list[tuple]:
    """:func:`_holt_step` over Python day totals: one (level, trend,
    forecast_next) per day; the trend reads the NEW level."""
    out, lv, tr = [], None, None
    for i, x in enumerate(xs):
        if i == 0:
            lv, tr = x, (None if x is None else 0.0)
        elif x is None or lv is None:
            lv = tr = None
        else:
            nl = snap6_value(HOLT_ALPHA * x + _HOLT_A1 * (lv + tr))
            tr = snap6_value(HOLT_BETA * (nl - lv) + _HOLT_B1 * tr)
            lv = nl
        out.append((lv, tr, None if lv is None or tr is None else snap6_value(lv + tr)))
    return out


_HOLT_SNAP = "CAST(round(CAST({x} AS DECIMAL(30,12)), 6) AS DOUBLE)"
_HOLT_LEVEL_SQL = _HOLT_SNAP.format(
    x=f"{HOLT_ALPHA!r} * i.daily_total + {_HOLT_A1!r} * (h.level + h.trend)"
)

HOLT_DAILY_ORACLE = f"""
WITH RECURSIVE {_DAILY_CTE}, {_IDX_CTE}, hw AS (
  SELECT event_type, day, daily_total, t,
         daily_total AS level,
         CASE WHEN daily_total IS NULL THEN NULL
              ELSE CAST(0.0 AS DOUBLE) END AS trend
  FROM idx WHERE t = 1
  UNION ALL
  SELECT i.event_type, i.day, i.daily_total, i.t,
         {_HOLT_LEVEL_SQL} AS level,
         {_HOLT_SNAP.format(x=f"{HOLT_BETA!r} * ({_HOLT_LEVEL_SQL} - h.level) + {_HOLT_B1!r} * h.trend")} AS trend
  FROM idx i JOIN hw h ON i.event_type IS NOT DISTINCT FROM h.event_type
                      AND i.t = h.t + 1
)
SELECT event_type, day, daily_total, level, trend,
       CASE WHEN level IS NULL OR trend IS NULL THEN NULL
            ELSE {_HOLT_SNAP.format(x="level + trend")} END AS forecast_next
FROM hw
ORDER BY event_type, day
"""


@register(
    "events_holt_daily",
    oracle=HOLT_DAILY_ORACLE,
    description=f"Holt double-exponential smoothing of daily per-type "
    f"volume (α={HOLT_ALPHA}, β={HOLT_BETA}): a LEVEL + TREND "
    "two-accumulator recurrence — level_t = α·x_t + "
    "(1−α)(level+trend), trend_t = β(level_t − level) + (1−β)·trend — "
    "plus the one-step-ahead forecast level+trend, the baseline a "
    "capacity planner reads where the EWMA's flat level lags every "
    "ramp. Completes the smoothing family (EWMA: one accumulator; "
    "CUSUM: clamped accumulator + global μ; Holt: COUPLED accumulator "
    "pair — the fold state is a struct, the shape any k-variable "
    "recurrence takes). Same scale story as the siblings: sequential "
    "per series, parallel across series, one map-side-combinable "
    "daily rollup then a bounded |days|-element fold, every step "
    "snapped through DECIMAL(30,12)→6dp so the chain is bit-identical "
    "to the recursive-CTE oracle; a NULL day poisons level, trend and "
    "forecast identically in both engines.",
    tags=("timeseries", "events", "report", "iterative", "forecast"),
)
def events_holt_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    fc = F.when(
        F.col("r.level").isNull() | F.col("r.trend").isNull(),
        F.lit(None).cast("double"),
    ).otherwise(snap6(F.col("r.level") + F.col("r.trend")))
    return (
        _daily_fold(_daily_totals(spark, sf_dir), _holt_step, ("level", "trend"))
        .select(
            "event_type", "r.day", "r.daily_total", "r.level", "r.trend",
            fc.alias("forecast_next"),
        )
        .orderBy("event_type", "day")
    )
