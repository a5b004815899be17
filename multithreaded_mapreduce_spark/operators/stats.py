"""Statistical aggregates (correlation, covariance, stddev, linear
regression) and equi-width histograms — oracle-stable across engines.

The reference aggregates only by counting (SURVEY.md §2.1). These add
the second-moment statistics an analytics engine needs, computed the
oracle-stable way: the inputs are ≤2-decimal money values, so scaling
to integer cents (``round(x*100)`` → BIGINT) is lossless; the five
power sums n, Σx, Σy, Σx², Σy², Σxy are then EXACT integer sums
(per-row products fit BIGINT, the running sums accumulate in
DECIMAL(38,0)), cast once to double, descaled by the matching power of
ten, and the closed-form moment formulas are evaluated in IEEE double
with an identical expression tree in Spark and DuckDB — bit-identical
results under any partitioning. Naive ``corr()``/``covar_samp()``
built-ins would diverge between engines (and between runs!) because
double summation is order-dependent.

Scale notes: power sums are classic map-side-combinable partials — one
decimal quintuple per partition crosses the shuffle regardless of row
count, exactly how a 1000-executor aggregation should look. The
histogram's bucket id is a pure per-row projection (no two-pass
min/max), so binning composes with pushdown and stays in one stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import snap6
from ..plans.registry import register
from ..sources.tables import load_table

#: exact integer sums of cent-scaled values and their pairwise products
DEC38 = "decimal(38,0)"

BUCKET_WIDTH = 25_000.0


@register(
    "lineitem_moment_stats",
    oracle=f"""
WITH cents AS (
  SELECT l_returnflag,
         CAST(round(l_quantity * 100) AS BIGINT) AS xc,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
  FROM lineitem
), sums AS (
  SELECT l_returnflag,
         count(*) AS n,
         CAST(sum(CAST(xc AS {DEC38})) AS DOUBLE) / 100.0 AS sx,
         CAST(sum(CAST(yc AS {DEC38})) AS DOUBLE) / 100.0 AS sy,
         CAST(sum(CAST(xc * xc AS {DEC38})) AS DOUBLE) / 10000.0 AS sxx,
         CAST(sum(CAST(yc * yc AS {DEC38})) AS DOUBLE) / 10000.0 AS syy,
         CAST(sum(CAST(xc * yc AS {DEC38})) AS DOUBLE) / 10000.0 AS sxy
  FROM cents GROUP BY l_returnflag
)
SELECT l_returnflag, n,
  CAST(round(CAST(sx / CAST(n AS DOUBLE) AS DECIMAL(30,12)), 6) AS DOUBLE) AS mean_qty,
  CAST(round(CAST(sqrt((syy - sy * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))
        AS DECIMAL(30,12)), 6) AS DOUBLE) AS stddev_price,
  CAST(round(CAST((sxy - sx * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)
        AS DECIMAL(30,12)), 6) AS DOUBLE) AS covar_qty_price,
  CAST(round(CAST((CAST(n AS DOUBLE) * sxy - sx * sy)
        / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy))
        AS DECIMAL(30,12)), 6) AS DOUBLE) AS corr_qty_price,
  CAST(round(CAST((CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx)
        AS DECIMAL(30,12)), 6) AS DOUBLE) AS regr_slope,
  CAST(round(CAST((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
        / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx) / CAST(n AS DOUBLE)
        AS DECIMAL(30,12)), 6) AS DOUBLE) AS regr_intercept
FROM sums ORDER BY l_returnflag
""",
    description="Second-moment statistics of (quantity, price) per "
    "return flag — mean, sample stddev, sample covariance, Pearson "
    "correlation, OLS slope/intercept — derived from exact decimal "
    "power sums so every figure is bit-identical across engines and "
    "partitionings. The five sums are map-side-combinable partials: one "
    "decimal quintuple per partition crosses the shuffle.",
    tags=("stats", "aggregate", "lineitem"),
)
def lineitem_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cents = li.select(
        "l_returnflag",
        F.round(F.col("l_quantity") * 100).cast("long").alias("xc"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("yc"),
    )
    xc, yc = F.col("xc"), F.col("yc")
    sums = cents.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(xc.cast(DEC38)).cast("double") / 100.0).alias("sx"),
        (F.sum(yc.cast(DEC38)).cast("double") / 100.0).alias("sy"),
        (F.sum((xc * xc).cast(DEC38)).cast("double") / 10000.0).alias("sxx"),
        (F.sum((yc * yc).cast(DEC38)).cast("double") / 10000.0).alias("syy"),
        (F.sum((xc * yc).cast(DEC38)).cast("double") / 10000.0).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    # try_divide everywhere a denominator can be zero: a single-row
    # group makes n−1 = 0, and a constant column zeroes the variance
    # factors under the sqrt — DuckDB's double division by zero yields
    # NULL, so try_divide (NULL, not an ANSI crash) keeps the engines
    # identical on degenerate groups (caught by the corrupted-lineitem
    # adversarial sweep: a planted NULL group key isolates one row)
    slope = F.try_divide(nd * sxy - sx * sy, nd * sxx - sx * sx)
    return sums.select(
        "l_returnflag",
        "n",
        snap6(sx / nd).alias("mean_qty"),
        snap6(F.sqrt(F.try_divide(syy - sy * sy / nd, nd - 1))).alias(
            "stddev_price"
        ),
        snap6(F.try_divide(sxy - sx * sy / nd, nd - 1)).alias("covar_qty_price"),
        snap6(
            F.try_divide(
                nd * sxy - sx * sy,
                F.sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)),
            )
        ).alias("corr_qty_price"),
        snap6(slope).alias("regr_slope"),
        snap6((sy - slope * sx) / nd).alias("regr_intercept"),
    ).orderBy("l_returnflag")


@register(
    "order_price_histogram",
    oracle=f"""
SELECT CAST(floor(o_totalprice / {BUCKET_WIDTH}) AS BIGINT) AS bucket,
       floor(o_totalprice / {BUCKET_WIDTH}) * {BUCKET_WIDTH} AS bucket_lo,
       count(*) AS n_orders,
       CAST(round(CAST(min(o_totalprice) AS DECIMAL(30,6)), 2) AS DOUBLE) AS min_price,
       CAST(round(CAST(max(o_totalprice) AS DECIMAL(30,6)), 2) AS DOUBLE) AS max_price
FROM orders
GROUP BY 1, 2 ORDER BY bucket
""",
    description="Equi-width histogram of order totals in $25k buckets. "
    "The bucket id is a stateless per-row projection — no two-pass "
    "min/max scan — so the whole histogram is one scan + one partial-"
    "aggregated shuffle of |buckets| rows, and bucketing composes with "
    "predicate pushdown at any scale.",
    tags=("stats", "histogram", "orders"),
)
def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / BUCKET_WIDTH)
    return (
        orders.groupBy(
            bucket.alias("bucket"),
            (bucket * BUCKET_WIDTH).cast("double").alias("bucket_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice").cast("decimal(30,6)"), 2)
            .cast("double")
            .alias("min_price"),
            F.round(F.max("o_totalprice").cast("decimal(30,6)"), 2)
            .cast("double")
            .alias("max_price"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# exact per-group quantiles via distributed rank selection
# --------------------------------------------------------------------------

N_RANK_CHUNKS = 32


@register(
    "part_price_deciles_exact",
    oracle="""
WITH ranked AS (
  SELECT p_brand, p_retailprice,
         row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice) AS rn,
         count(*)     OVER (PARTITION BY p_brand) AS n
  FROM part WHERE p_retailprice IS NOT NULL
), deciles AS (
  SELECT unnest([1,2,3,4,5,6,7,8,9]) AS decile
)
SELECT r.p_brand, d.decile, r.p_retailprice AS price
FROM ranked r
JOIN deciles d ON r.rn = greatest(1, (d.decile * r.n + 9) // 10)
ORDER BY p_brand, decile
""",
    description="EXACT per-brand price deciles by distributed "
    "rank selection: global per-group ranks are assembled from a range "
    "partitioning on (group, value) plus a two-level prefix sum of "
    "per-chunk counts — no per-group single-task window, no sketch "
    "approximation. The rank-to-decile mapping is pure integer "
    "arithmetic ((d·n+9) div 10), identical in both engines.",
    tags=("aggregate", "percentile", "exact", "scale-pattern", "prefix-sum"),
)
def part_price_deciles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete quantiles without a per-group global sort task.

    Scale notes: the textbook window (``row_number() OVER (PARTITION
    BY group ORDER BY value)``) caps parallelism at |groups| — 25
    brands means 25 tasks sorting 4% of the table each. This
    builder instead:

    1. assigns each row a chunk id by equi-width binning of the value
       against ONCE-computed global [min, max] boundaries (a 2-double
       driver collect) — within a group, chunk ids ascend with value,
       and the id is a pure function of the row, identical however
       many times the relation is evaluated;
    2. local ``row_number`` per (chunk, group) — parallelism is
       chunks × groups;
    3. prefix-sums the tiny per-(chunk, group) count relation with a
       window over the CHUNK ID (|chunks × groups| rows, trivially
       small) and broadcasts it back: global rank = chunk offset +
       local rank.

    The deterministic binning (not ``repartitionByRange`` +
    ``spark_partition_id``) matters because the chunked relation feeds
    TWO branches — local ranks and offsets. RangePartitioner samples
    its boundaries per materialization, so two evaluations of the same
    plan can disagree on chunk ids once inputs exceed the sampler
    size, silently misaligning offsets against ranks. A row-pure chunk
    id cannot diverge, with no persist() needed. Equi-width bins can
    skew on pathological value distributions — that costs parallelism
    within a hot chunk, never correctness (offsets count whatever
    landed in each bin).

    Same two-level prefix-sum pattern as ``pack_training_sequences``
    (pipeline_prep.py) — the general answer whenever a global
    per-group order is needed at scale. Rank ties (equal prices) land
    arbitrarily but select the same VALUE, so results are engine- and
    partitioning-independent."""
    part = (
        load_table(spark, sf_dir, "part")
        .select("p_brand", "p_retailprice")
        .filter(F.col("p_retailprice").isNotNull())
    )
    from pyspark.sql import Window as W

    bounds = part.agg(
        F.min("p_retailprice").alias("lo"), F.max("p_retailprice").alias("hi")
    ).first()
    lo = float(bounds["lo"]) if bounds["lo"] is not None else 0.0
    hi = float(bounds["hi"]) if bounds["hi"] is not None else 1.0
    width = max((hi - lo) / N_RANK_CHUNKS, 1e-9)
    chunked = part.withColumn(
        "chunk",
        F.least(
            F.lit(N_RANK_CHUNKS - 1),
            F.floor((F.col("p_retailprice") - F.lit(lo)) / F.lit(width)),
        ).cast("int"),
    )
    # local ranks within (chunk, group): chunks × groups concurrent sorts
    wl = W.partitionBy("chunk", "p_brand").orderBy("p_retailprice")
    local = chunked.withColumn("lrn", F.row_number().over(wl))
    # per-(chunk, group) counts → running offsets; this relation is
    # |chunks × groups| rows, so the single-partition window is free
    counts = chunked.groupBy("chunk", "p_brand").agg(F.count(F.lit(1)).alias("c"))
    wo = W.partitionBy("p_brand").orderBy("chunk")
    offsets = counts.select(
        "chunk",
        "p_brand",
        (F.sum("c").over(wo) - F.col("c")).alias("offset"),
        F.sum("c").over(W.partitionBy("p_brand")).alias("n"),
    )
    # eqNullSafe on the group key: the oracle's PARTITION BY keeps a
    # NULL brand as its own group, but a plain equi-join drops it
    # (NULL never equals NULL) — caught by the corrupted-part sweep
    off = offsets.withColumnsRenamed({"chunk": "o_chunk", "p_brand": "o_brand"})
    ranked = local.join(
        F.broadcast(off),
        (F.col("chunk") == F.col("o_chunk"))
        & F.col("p_brand").eqNullSafe(F.col("o_brand")),
    ).select(
        "p_brand",
        "p_retailprice",
        (F.col("offset") + F.col("lrn")).alias("rn"),
        "n",
    )
    deciles = spark.range(1, 10).select(F.col("id").cast("int").alias("decile"))
    # `div` is INTEGER division — (d·n+9)/10 through doubles would lose
    # exactness once n approaches 2^53
    target = F.greatest(
        F.lit(1).cast("long"), F.expr("(decile * n + 9) div 10")
    )
    return (
        ranked.join(F.broadcast(deciles), F.col("rn") == target)
        .select("p_brand", "decile", F.col("p_retailprice").alias("price"))
        .orderBy("p_brand", "decile")
    )
