"""Skew-handling joins: explicit key salting, and a join-key skew
report.

A shuffled join hash-partitions both sides on the key; one hot key
sends its entire row population to a single reducer, and at 100 TB the
job runs at the speed of that one straggler. Salting splits each hot
key into ``n`` sub-keys: the fact side gets a deterministic salt in
[0, n) per row, the (smaller) build side is replicated once per salt,
and the join runs on (key, salt) — fan-out n on the small side buys
n-way parallelism on the hot keys. It is the explicit path for the
pathological keys a pipeline knows about in advance; moderate skew in
a shuffled join is split at runtime by the session's
``spark.sql.adaptive.skewJoin.enabled``, and a join against a
broadcastable dim never skews.

Salting is semantically transparent, so the registered query carries a
plain-join DuckDB oracle — the correctness gate proves the rewrite
changes the plan, not the answer.

Extension surface (SURVEY.md §4.2 partitioning row): the reference's
only partitioning is static equal chunks with the remainder to the
last worker (reference 1.cpp:274-280), with no skew handling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import DEC
from ..plans.registry import register
from ..sources.tables import load_table

N_SALTS = 8


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    *,
    n_salts: int = N_SALTS,
    salt_source: Column | None = None,
    how: str = "inner",
    force_shuffle: bool = True,
) -> DataFrame:
    """Join ``fact`` to ``dim`` on ``key`` with ``n_salts``-way salting.

    ``salt_source`` must be an expression unique-ish per fact row (a row
    id column) so salts spread deterministically; it defaults to a hash
    of all fact columns. The dim side is exploded once per salt value —
    keep it the small side.

    ``force_shuffle`` pins a shuffle-hash join: salting only matters for
    shuffled joins (a broadcastable dim never skews), and at test scale
    Spark would otherwise broadcast the dim and bypass the salted
    exchange this operator exists to exercise.
    """
    if salt_source is None:
        salt_source = F.xxhash64(*[F.col(c) for c in fact.columns])
    salted_fact = fact.withColumn("_salt", F.pmod(salt_source, F.lit(n_salts)).cast("int"))
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    if force_shuffle:
        salted_dim = salted_dim.hint("shuffle_hash")
    joined = salted_fact.join(salted_dim, [key, "_salt"], how)
    return joined.drop("_salt")


@register(
    "skew_salted_event_user_totals",
    oracle=f"""
SELECT e.user_id,
       c.c_mktsegment,
       count(*) AS n_events,
       round(CAST(sum(CAST(e.value AS {DEC})) AS DOUBLE), 2) AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY e.user_id, c.c_mktsegment
ORDER BY e.user_id
""",
    description="events ⋈ customer on user_id executed as an 8-way salted "
    "join (deterministic per-row salt on the fact side, dim replicated per "
    "salt) — the explicit skew mitigation for hot keys. The oracle is the "
    "plain join: salting must not change the answer.",
    tags=("join", "skew", "salting", "scale"),
)
def skew_salted_event_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(
        events,
        customer,
        "user_id",
        salt_source=F.xxhash64("event_id"),
    )
    return (
        joined.groupBy("user_id", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 2).alias("total_value"),
        )
        .orderBy("user_id")
    )


#: heavy-hitter report depth for the skew probe
SKEW_TOP_N = 10


@register(
    "join_key_skew_report",
    oracle=f"""
WITH per AS (
  SELECT user_id, count(*) AS n_rows
  FROM events GROUP BY user_id
), tot AS (
  SELECT count(*) AS total, count(DISTINCT user_id) AS ndv FROM events
), top AS (
  SELECT user_id, n_rows FROM per
  ORDER BY n_rows DESC, user_id LIMIT {SKEW_TOP_N}
)
SELECT t.user_id, t.n_rows,
       CAST(round(CAST(t.n_rows * 1.0 / tot.total AS DECIMAL(30,12)), 6)
            AS DOUBLE) AS share,
       CAST(round(CAST(t.n_rows * 1.0 * tot.ndv / tot.total AS DECIMAL(30,12)), 4)
            AS DOUBLE) AS x_uniform
FROM top t CROSS JOIN tot
ORDER BY t.n_rows DESC, t.user_id
""",
    description=f"Join-key skew probe: the top {SKEW_TOP_N} heaviest "
    "event user_ids with each key's share of all rows and its multiple "
    "of the uniform per-key load (n_rows·ndv/total — the straggler "
    "factor a plain hash join would suffer), measured BEFORE a join "
    "runs: the statistic that tells a pipeline whether a key needs "
    "explicit salting (skew_salted_event_user_totals). "
    "Map-side-combinable per-key counts, a distributed "
    f"top-{SKEW_TOP_N} (TakeOrderedAndProject — no global sort), and a "
    "one-row totals aggregate broadcast back; no driver collects.",
    tags=("skew", "report", "aggregate", "join"),
)
def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select("user_id")
    per = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rows"))
    tot = events.agg(
        F.count(F.lit(1)).alias("total"),
        F.countDistinct("user_id").alias("ndv"),
    )
    top = per.orderBy(F.col("n_rows").desc(), "user_id").limit(SKEW_TOP_N)
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "n_rows",
            F.round((F.col("n_rows") * 1.0 / F.col("total")).cast("decimal(30,12)"), 6)
            .cast("double")
            .alias("share"),
            F.round(
                (F.col("n_rows") * 1.0 * F.col("ndv") / F.col("total")).cast(
                    "decimal(30,12)"
                ),
                4,
            )
            .cast("double")
            .alias("x_uniform"),
        )
        .orderBy(F.col("n_rows").desc(), "user_id")
    )


@register(
    "skew_auto_join",
    oracle=f"""
SELECT c.c_mktsegment,
       count(*) AS n_events,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
       round(CAST(sum(CAST(e.value AS {DEC})) AS DOUBLE), 2) AS total_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c_mktsegment
""",
    description="events ⋈ customer per-segment revenue rollup as one "
    "plain join: the customer dim is broadcastable, and a broadcast join "
    "cannot skew. The straggler factor join_key_skew_report publishes "
    "measured 1.29 at sf0.01 and 1.485 at sf0.1 and 10×; past the "
    "broadcast limit the session's AQE skew-join splitting handles hot "
    "partitions at runtime. Its answer equals the 8-way salted join's "
    "(skew_salted_event_user_totals' rewrite; pytest-asserted on a "
    "hot-key fixture) and this plain-join oracle.",
    tags=("join", "skew", "scale"),
)
def skew_auto_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = events.join(customer, "user_id")
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 2).alias(
                "total_value"
            ),
        )
        .orderBy("c_mktsegment")
    )
