"""Numeric helpers for oracle-stable floating aggregates.

Summing doubles is order-dependent (Spark's partial aggregates add in
partition order, DuckDB in scan order), so ``round(sum(x), 2)`` can
still flip at a rounding boundary. The engine instead casts each value
to ``DECIMAL(30,6)`` — exact for 2-decimal money values stored as
doubles — sums exactly in decimal, then casts back to double and
rounds. The result is bit-identical across engines and partitionings.

Matching DuckDB oracle pattern::

    round(CAST(sum(CAST(expr AS DECIMAL(30,6))) AS DOUBLE), 2)

Scale note: a decimal accumulator wider than 18 digits leaves
UnsafeRow's unscaled-long fast path and pays BigDecimal
(de)serialization per row — measured ~5× slower than long/double sums
on the Q1 shape at sf0.1. Where the grouping has LOW cardinality the
engine therefore uses the two-stage fixed-point pattern
(:func:`partial_cent_sums` + :func:`exact_dollars`): per-(group ×
input-partition) LONG sums of integer fixed-point units (exact, fast,
codegen-friendly), then a decimal finalization over the tiny partial
relation. Results are bit-identical to the one-stage decimal sum —
both compute the same exact integer — so the DuckDB oracles are
unchanged. ``dsum``/``davg`` remain for high-cardinality groupings,
where stage 1 would emit |groups × partitions| rows and erase the win.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(30,6)"


def dround(col: Column | str, scale: int = 2) -> Column:
    """Per-row oracle-stable rounding of a double expression.

    ``round(double, 2)`` itself diverges between engines: Spark rounds
    the shortest decimal representation (HALF_UP on "38969.325"),
    DuckDB rounds the binary double (38969.32499999... → .32). Snapping
    to DECIMAL(30,6) first recovers the exact money value, after which
    both engines round identically. Oracle pattern::

        CAST(round(CAST(x AS DECIMAL(30,6)), 2) AS DOUBLE)
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c.cast(DEC), scale).cast("double")


def snap6(c: Column) -> Column:
    """The catalog's 6-dp float snap: cast to DECIMAL(30,12), round to 6
    dp, back to double. Oracle pattern::

        CAST(round(CAST(x AS DECIMAL(30,12)), 6) AS DOUBLE)
    """
    return F.round(c.cast("decimal(30,12)"), 6).cast("double")


def snap6_value(x: float) -> float:
    """:func:`snap6` on one Python float, bit-identical to the engine:
    the double→DECIMAL(30,12) cast reads the shortest round-trip repr
    (java BigDecimal.valueOf == Python repr) with HALF_UP, and so does
    the round to 6 dp."""
    d = Decimal(repr(x)).quantize(Decimal("1e-12"), ROUND_HALF_UP)
    return float(d.quantize(Decimal("1e-6"), ROUND_HALF_UP))


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Exact decimal sum of a double expression, rounded to ``scale``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(DEC)).cast("double"), scale)


def davg(col: Column | str, scale: int = 4) -> Column:
    """Exact-sum average of a double expression, rounded to ``scale``.

    Computed as decimal-sum / count so both engines divide the same two
    exact numbers. Oracle: ``round(CAST(sum(CAST(x AS DECIMAL(30,6)))
    AS DOUBLE) / count(x), 4)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(DEC)).cast("double") / F.count(c), scale)


# --------------------------------------------------------------------------
# two-stage fixed-point money aggregation (low-cardinality groupings)
# --------------------------------------------------------------------------

DEC38 = "decimal(38,6)"


def cents(col: Column | str, scale: int = 2) -> Column:
    """Exact fixed-point reading of a money double: round(x·10^scale)
    as LONG. Valid when the stored doubles are ``scale``-decimal values
    (the driver data is 2-decimal money; the round removes the binary
    representation error)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * (10**scale)).cast("long")


def partial_cent_sums(df, keys, longs: dict[str, Column]):
    """Stage 1 of the exact two-stage fixed-point aggregation: LONG
    sums of integer fixed-point expressions per (group keys × bounded
    row bucket), plus a ``_n`` row count.

    The bucket key is ``monotonically_increasing_id() >> 20`` — the id
    is partition-prefixed (upper bits task partition, lower bits a
    per-partition counter), so each bucket holds ≤ 2²⁰ CONSECUTIVE rows
    of one input partition and buckets never collide across partitions.
    That bounds every long accumulator at ~10¹¹ units/row × 2²⁰ rows ≈
    10¹⁷ < int64 even when an input partition is unboundedly large —
    e.g. a single-row-group parquet file, which is unsplittable and so
    NOT capped by ``spark.sql.files.maxPartitionBytes`` (ADVICE r2: the
    earlier spark_partition_id() bucketing overflowed there around
    ~8·10⁷ rows). The partial aggregate still runs map-side (bucket ids
    are partition-local runs); the exchange carries |groups × buckets|
    slim long rows."""
    bucket = F.shiftright(F.monotonically_increasing_id(), 20).alias("_pid")
    return df.groupBy(*keys, bucket).agg(
        *[F.sum(c).alias(a) for a, c in longs.items()],
        F.count(F.lit(1)).alias("_n"),
    )


def exact_dollars(partial_col: str, unit: int) -> Column:
    """Stage 2 finalization: decimal sum of the stage-1 longs (exact —
    the global total may exceed 2⁵³ but not decimal(38)), converted to
    dollars and cast to double. Bit-identical to the one-stage
    ``sum(CAST(x AS DECIMAL))`` the oracle computes, at a fraction of
    the cost: the decimal arithmetic touches only the tiny partial
    relation."""
    return (F.sum(partial_col).cast(DEC38) / F.lit(unit)).cast("double")
