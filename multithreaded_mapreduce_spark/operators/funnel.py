"""User-behavior analytics over ``events``: ordered funnel conversion
and weekly cohort retention.

The reference has no users, time, or sequences (its input is a bag of
words — SURVEY.md §1.1); these are the event-analytics staples a
product events table exists for.

Scale notes: the funnel is computed in ONE pass — a single scan of
events, one hash(user_id) exchange, three stacked whole-partition
window expressions (each stage's first-qualifying-timestamp condition
references the previous stage's window output), then a per-user
collapse and a scalar count. The naive formulation (each stage a
groupBy joined to the previous stage, stage counts unioned) plans 24
parquet scans and 10 exchanges of the same table because column
pruning defeats ReuseExchange across the branches — measured here
before the rewrite, and the reason the one-pass shape is the 100 TB
design. Cohort retention shuffles events once by user_id (first
touch), once by (cohort, offset) — both partial-aggregated; the cohort
size table is |weeks| rows and broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import snap6
from ..plans.registry import register
from ..sources.tables import load_table

WEEK_SECONDS = 7 * 24 * 3600


@register(
    "funnel_view_click_purchase",
    oracle="""
WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
      JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id),
s AS (SELECT 1 AS stage_no, 'view' AS stage, count(*) AS users FROM v
      UNION ALL SELECT 2, 'click', count(*) FROM c
      UNION ALL SELECT 3, 'purchase', count(*) FROM p)
SELECT stage_no, stage, users,
       CAST(round(CAST(CAST(users AS DOUBLE) / nullif(max(users) OVER (), 0)
                       AS DECIMAL(30,12)), 6) AS DOUBLE) AS conv_from_first
FROM s ORDER BY stage_no
""",
    description="Ordered 3-stage funnel (view → click → purchase): a "
    "user converts a stage only with an event strictly after their "
    "previous stage's first event. One scan, one hash(user_id) "
    "exchange: stage timestamps are stacked whole-partition window "
    "mins (each condition referencing the previous stage's column), "
    "collapsed per user and counted — the join-chain formulation this "
    "replaces re-scanned events 24 times (see module docstring).",
    tags=("events", "funnel", "behavior"),
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass funnel. Semantics mirror the oracle's join chain
    exactly, including its NULL edges: a NULL-user_id group counts in
    stage 1 (GROUP BY keeps the NULL group) but can never convert
    (the oracle's equi-join drops NULL keys), hence the isNotNull
    guard on t2; a stage-1 user whose views all have NULL ts stays a
    stage-1 member (the oracle's v row exists, count(*) counts it)
    but never converts (NULL t1 fails every ts > t1), hence hv
    tracking membership separately from t1."""
    from pyspark.sql import Window as W

    # only the three funnel types participate in any stage condition —
    # the IN filter pushes to the parquet scan and shrinks the window
    # input before the one exchange
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
    )
    w = W.partitionBy("user_id")
    is_view = F.col("event_type") == "view"
    user_nn = F.col("user_id").isNotNull()
    d1 = ev.select(
        "user_id",
        "event_type",
        "ts",
        F.min(F.when(is_view, F.col("ts"))).over(w).alias("t1"),
        F.max(F.when(is_view, F.lit(1))).over(w).alias("hv"),
    )
    d2 = d1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & user_nn & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    d3 = d2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = d3.groupBy("user_id").agg(
        F.max("hv").alias("hv"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    counts = per_user.agg(
        F.count(F.when(F.col("hv") == 1, F.lit(1))).alias("u1"),
        F.count("t2").alias("u2"),
        F.count("t3").alias("u3"),
    )
    # u1 >= u2 >= u3 by construction, but the oracle divides by
    # max-over-stages, so say exactly that
    top = F.greatest("u1", "u2", "u3")
    stages = counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("stage_no"),
                    F.lit("view").alias("stage"),
                    F.col("u1").alias("users"),
                ),
                F.struct(
                    F.lit(2).alias("stage_no"),
                    F.lit("click").alias("stage"),
                    F.col("u2").alias("users"),
                ),
                F.struct(
                    F.lit(3).alias("stage_no"),
                    F.lit("purchase").alias("stage"),
                    F.col("u3").alias("users"),
                ),
            )
        ).alias("s"),
        top.alias("top_users"),
    )
    return stages.select(
        F.col("s.stage_no").alias("stage_no"),
        F.col("s.stage").alias("stage"),
        F.col("s.users").alias("users"),
        # nullif: an empty funnel (top stage = 0 users) yields NULL
        # conversion rates in both engines instead of an ANSI
        # divide-by-zero error
        snap6(
            F.col("s.users").cast("double") / F.nullif(F.col("top_users"), F.lit(0))
        ).alias("conv_from_first"),
    ).orderBy("stage_no")


@register(
    "cohort_weekly_retention",
    oracle=f"""
WITH fw AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
            FROM events GROUP BY user_id),
act AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk FROM events),
ret AS (SELECT f.cohort_week,
               (CAST(epoch(a.wk) AS BIGINT) - CAST(epoch(f.cohort_week) AS BIGINT))
                 // {WEEK_SECONDS} AS week_offset,
               count(*) AS n_active
        FROM fw f JOIN act a ON f.user_id = a.user_id
        GROUP BY 1, 2),
sz AS (SELECT cohort_week, count(*) AS cohort_size FROM fw GROUP BY cohort_week)
SELECT r.cohort_week, r.week_offset, s.cohort_size, r.n_active,
       CAST(round(CAST(CAST(r.n_active AS DOUBLE) / s.cohort_size
                       AS DECIMAL(30,12)), 6) AS DOUBLE) AS retention
FROM ret r JOIN sz s ON r.cohort_week = s.cohort_week
ORDER BY r.cohort_week, r.week_offset
""",
    description="Weekly cohort retention: users grouped by the ISO week "
    "of their first event; for each (cohort, week-offset) the share of "
    "the cohort active that week. First-touch and activity are both "
    "per-user aggregates co-partitioned on user_id; the retention matrix "
    "is |weeks|² rows and the cohort-size side broadcasts.",
    tags=("events", "cohort", "retention", "behavior"),
)
def cohort_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    fw = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    act = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    ret = (
        fw.join(act, "user_id")
        .groupBy(
            "cohort_week",
            F.expr(
                f"(unix_timestamp(wk) - unix_timestamp(cohort_week)) div {WEEK_SECONDS}"
            ).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    sz = fw.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        ret.join(F.broadcast(sz), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "cohort_size",
            "n_active",
            snap6(F.col("n_active").cast("double") / F.col("cohort_size")).alias(
                "retention"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )
