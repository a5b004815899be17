"""Window-function operators (absent from the reference — SURVEY.md
§2.2 marks the category ✗; these are the extension surface).

Scale notes: every window here partitions by a real key (brand,
customer, user) so the shuffle is hash-partitioned and parallel; no
global single-partition windows. Running sums use decimal-exact
accumulation — a segment-tree running sum (DuckDB) and a sequential
fold (Spark) only agree if addition is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.numeric import DEC, snap6
from ..plans.registry import register
from ..sources.tables import load_table


@register(
    "topk_parts_per_brand",
    oracle="""
SELECT p_brand, p_partkey, p_name, p_retailprice, rn
FROM (
  SELECT p_brand, p_partkey, p_name, p_retailprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey) AS rn
  FROM part
)
WHERE rn <= 3
ORDER BY p_brand, rn
""",
    description="Top-3 parts per brand by retail price: row_number window "
    "with deterministic (price, key) tie-break.",
    tags=("window", "topk"),
)
def topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
    return (
        part.select("p_brand", "p_partkey", "p_name", "p_retailprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .orderBy("p_brand", "rn")
    )


@register(
    "running_customer_revenue",
    oracle=f"""
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(sum(CAST(o_totalprice AS {DEC}))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS running_total
FROM orders
WHERE o_custkey <= 100 AND o_orderdate IS NOT NULL
ORDER BY o_custkey, o_orderdate, o_orderkey
""",
    description="Per-customer running revenue over order date (cumulative "
    "frame, decimal-exact so engines agree). Undated orders have no "
    "position in a date-ordered running total (and the engines' NULL "
    "orderings disagree) — excluded explicitly in both engines.",
    tags=("window", "runningagg"),
)
def running_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_custkey") <= 100) & F.col("o_orderdate").isNotNull()
    )
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias("running_total"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


@register(
    "supplier_acctbal_ranks",
    oracle="""
SELECT s_suppkey, s_name, s_acctbal,
       rank()       OVER (ORDER BY s_acctbal DESC) AS bal_rank,
       dense_rank() OVER (ORDER BY s_acctbal DESC) AS bal_dense_rank,
       ntile(4)     OVER (ORDER BY s_acctbal DESC, s_suppkey) AS quartile
FROM supplier
ORDER BY s_acctbal DESC, s_suppkey
""",
    description="rank / dense_rank / ntile over supplier balances (rank is "
    "tie-stable; ntile gets a unique total order).",
    tags=("window", "rank"),
)
def supplier_acctbal_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    # A global rank is inherently one partition; supplier is a dim table
    # (10k rows/TB-scale constant), so that is fine — partitionBy(lit(0))
    # states the intent explicitly instead of tripping WindowExec's
    # no-partition-defined warning.
    by_bal = W.partitionBy(F.lit(0)).orderBy(F.col("s_acctbal").desc())
    total = W.partitionBy(F.lit(0)).orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey")
    )
    return (
        supplier.select(
            "s_suppkey",
            "s_name",
            "s_acctbal",
            F.rank().over(by_bal).alias("bal_rank"),
            F.dense_rank().over(by_bal).alias("bal_dense_rank"),
            F.ntile(4).over(total).alias("quartile"),
        )
        .orderBy(F.col("s_acctbal").desc(), "s_suppkey")
    )


@register(
    "user_event_deltas",
    oracle="""
SELECT user_id, event_id, event_type, value,
       lag(value)  OVER w AS prev_value,
       lead(value) OVER w AS next_value,
       value - coalesce(lag(value) OVER w, value) AS delta
FROM events
WHERE user_id <= 20
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, event_id
""",
    description="lag/lead neighbors per user in event-time order "
    "(per-row double subtraction is IEEE-identical across engines).",
    tags=("window", "lag"),
)
def user_event_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            "user_id",
            "event_id",
            "event_type",
            "value",
            F.lag("value").over(w).alias("prev_value"),
            F.lead("value").over(w).alias("next_value"),
            (F.col("value") - F.coalesce(F.lag("value").over(w), F.col("value"))).alias("delta"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "part_price_distribution",
    oracle="""
SELECT p_brand, p_partkey, p_retailprice,
       ntile(4) OVER w AS quartile,
       CAST(round(CAST(percent_rank() OVER w AS DECIMAL(30,12)), 6) AS DOUBLE) AS pct_rank,
       CAST(round(CAST(cume_dist() OVER w AS DECIMAL(30,12)), 6) AS DOUBLE) AS cume,
       first_value(p_partkey) OVER w AS cheapest_partkey,
       nth_value(p_partkey, 2) OVER (PARTITION BY p_brand
                                     ORDER BY p_retailprice NULLS LAST, p_partkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS second_cheapest_partkey
FROM part
WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice NULLS LAST, p_partkey)
ORDER BY p_brand, p_retailprice NULLS LAST, p_partkey
""",
    description="Distribution analytics per brand: ntile quartiles, "
    "percent_rank, cume_dist, first/nth value. The window orders by "
    "(price, partkey) so ranks are tie-free and deterministic across "
    "engines — with NULLS LAST spelled out on BOTH sides, because the "
    "engines' defaults disagree (Spark ASC puts NULLs first, DuckDB "
    "last; caught by the corrupted-part sweep's NULL retail price). "
    "Hash-partitioned by brand, no global window.",
    tags=("window", "distribution", "rank"),
)
def part_price_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").asc_nulls_last(), "p_partkey"
    )
    wall = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        part.select(
            "p_brand",
            "p_partkey",
            "p_retailprice",
            F.ntile(4).over(w).alias("quartile"),
            snap6(F.percent_rank().over(w)).alias("pct_rank"),
            snap6(F.cume_dist().over(w)).alias("cume"),
            F.first("p_partkey").over(w).alias("cheapest_partkey"),
            F.nth_value("p_partkey", 2).over(wall).alias("second_cheapest_partkey"),
        )
        .orderBy("p_brand", F.col("p_retailprice").asc_nulls_last(), "p_partkey")
    )


@register(
    "events_rolling_median",
    oracle="""
SELECT event_id, ts, event_type, value,
       CAST(round(CAST(median(value) OVER (
         PARTITION BY event_type ORDER BY ts, event_id
         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW
       ) AS DECIMAL(30,12)), 6) AS DOUBLE) AS roll_median
FROM events
WHERE ts IS NOT NULL
ORDER BY event_type, ts, event_id
""",
    description="Trailing 20-row median of value per event_type — the "
    "robust-smoothing twin of the z-score mean. Spark has no exact "
    "median window built-in, so the frame materializes via "
    "collect_list → array_sort and picks/interpolates the middle — "
    "O(frame log frame) per row but the frame is a constant 20; the "
    "window is hash-partitioned by type (at 100 TB partition by "
    "(type, day) with a 20-row overlap tail). Even frames interpolate "
    "(a+b)/2 exactly like the oracle's median(). NULL event times are "
    "excluded explicitly in both engines: a time-ordered frame is "
    "undefined without a time, and the engines' ASC NULL defaults "
    "disagree (Spark first, DuckDB last — edge-events sweep).",
    tags=("window", "median", "timeseries", "events"),
)
def events_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    frame = W.partitionBy("event_type").orderBy("ts", "event_id").rowsBetween(-19, 0)
    arr = F.array_sort(F.collect_list("value").over(frame))
    n = F.size(arr)
    mid_hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    mid_lo = F.element_at(arr, (n / 2).cast("int"))
    median = F.when(n % 2 == 1, F.element_at(arr, ((n + 1) / 2).cast("int"))).otherwise(
        (mid_lo + mid_hi) / 2
    )
    return ev.select(
        "event_id",
        "ts",
        "event_type",
        "value",
        F.round(median.cast("decimal(30,12)"), 6).cast("double").alias("roll_median"),
    ).orderBy("event_type", "ts", "event_id")


#: trailing RANGE frame width for customer order momentum: 30 days in
#: integer microseconds (both engines frame on epoch-µs, no tz math)
MOMENTUM_US = 30 * 24 * 3600 * 1_000_000


@register(
    "customer_order_momentum",
    oracle=f"""
WITH w AS (
  SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice,
         count(*) OVER tr AS orders_30d,
         CAST(sum(CAST(o_totalprice AS {DEC})) OVER tr AS DOUBLE) AS spend_30d,
         first_value(o_totalprice) OVER
           (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate), o_orderkey)
           AS first_order_price
  FROM orders
  WHERE o_orderdate IS NOT NULL
  WINDOW tr AS (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
                RANGE BETWEEN {MOMENTUM_US} PRECEDING AND CURRENT ROW)
)
SELECT o_orderkey, o_custkey, o_orderdate, orders_30d,
       round(spend_30d, 2) AS spend_30d, first_order_price
FROM w
ORDER BY o_custkey, o_orderdate, o_orderkey
""",
    description="Per-customer order momentum through a RANGE frame on "
    "event time: for every order, the count and exact-decimal spend of "
    "that customer's trailing 30 days (value-based frame — peers by "
    "timestamp, unlike the ROWS frames elsewhere), plus first_value as "
    "the anchor order price. Frames compare integer epoch-microseconds "
    "so Spark and DuckDB agree on peer boundaries; one hash-partitioned "
    "window pass, no self-join.",
    tags=("window", "range-frame", "relational"),
)
def customer_order_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a time-RANGE frame is undefined for an undated order (NULL sort
    # key), and the engines disagree on NULL peer frames — excluded
    # explicitly in both engines
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    us = F.unix_micros("o_orderdate")
    tr = (
        W.partitionBy("o_custkey")
        .orderBy(us)
        .rangeBetween(-MOMENTUM_US, 0)
    )
    fv = W.partitionBy("o_custkey").orderBy(us, "o_orderkey")
    return (
        orders.select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            F.count(F.lit(1)).over(tr).alias("orders_30d"),
            F.round(
                F.sum(F.col("o_totalprice").cast(DEC)).over(tr).cast("double"), 2
            ).alias("spend_30d"),
            F.first("o_totalprice").over(fv).alias("first_order_price"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )
