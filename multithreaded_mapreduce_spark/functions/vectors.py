"""Vector math over ``array<float>`` columns as pure Column expressions
(higher-order functions — JVM-side, no Python UDF, survives codegen).

Dot products and norms fold through DECIMAL(30,20) so the sum is exact
and order-independent: a DuckDB oracle summing unnested elements in any
order produces the bit-identical double. Per-element float→double→
decimal conversion is deterministic on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC20 = "decimal(30,20)"


def _fold_sum(arr: Column) -> Column:
    """Exact decimal sum of a decimal array, returned as double."""
    return F.aggregate(
        arr,
        F.lit(0).cast(DEC20),
        lambda acc, x: (acc + x).cast(DEC20),
    ).cast("double")


def dot_exact(a: Column | str, b: Column | str) -> Column:
    """Exact dot product of two float-array columns, as double."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return _fold_sum(
        F.zip_with(a, b, lambda x, y: (x.cast("double") * y.cast("double")).cast(DEC20))
    )


def norm_sq_exact(a: Column | str) -> Column:
    """Exact squared L2 norm of a float-array column, as double."""
    a = F.col(a) if isinstance(a, str) else a
    return _fold_sum(
        F.transform(a, lambda x: (x.cast("double") * x.cast("double")).cast(DEC20))
    )


def cosine_exact(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity with exact-sum dot/norms; the final divide and
    sqrt are single IEEE ops, identical across engines.

    ``try_divide`` so a ZERO vector yields NULL (undefined direction)
    instead of an ANSI DIVIDE_BY_ZERO crash — DuckDB's double division
    by zero also returns NULL, so both engines agree."""
    return F.try_divide(
        dot_exact(a, b), F.sqrt(norm_sq_exact(a)) * F.sqrt(norm_sq_exact(b))
    )


VECTOR_DIM = 64  # the embeddings table's fixed dimensionality


def _unrolled_sum(terms: list[Column]) -> Column:
    from functools import reduce

    return reduce(Column.__add__, terms)


def dot_fast(a: Column | str, b: Column | str, dim: int = VECTOR_DIM) -> Column:
    """Double-precision dot product UNROLLED to a flat expression.

    Higher-order functions (``aggregate``/``zip_with`` lambdas) run on
    the expression interpreter — measured ~10× slower than the same
    arithmetic unrolled into plain element_at terms, which whole-stage
    codegen compiles. Fixed-dim vectors make unrolling free.

    When both sides are column NAMES the whole sum is built as ONE
    ``F.expr`` string: composing it Column-by-Column costs ~6 Py4J
    round-trips per term (~400 for dim=64, >1 s of driver time per
    plan build); a single parsed SQL string is one round-trip."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(
            " + ".join(
                f"(CAST(element_at({a}, {i + 1}) AS DOUBLE)"
                f" * CAST(element_at({b}, {i + 1}) AS DOUBLE))"
                for i in range(dim)
            )
        )
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return _unrolled_sum(
        [
            F.element_at(a, i + 1).cast("double") * F.element_at(b, i + 1).cast("double")
            for i in range(dim)
        ]
    )


def norm_sq_fast(a: Column | str, dim: int = VECTOR_DIM) -> Column:
    """Double-precision squared L2 norm, unrolled (see ``dot_fast``)."""
    if isinstance(a, str):
        return F.expr(
            " + ".join(
                f"(CAST(element_at({a}, {i + 1}) AS DOUBLE)"
                f" * CAST(element_at({a}, {i + 1}) AS DOUBLE))"
                for i in range(dim)
            )
        )
    return _unrolled_sum(
        [
            F.element_at(a, i + 1).cast("double") * F.element_at(a, i + 1).cast("double")
            for i in range(dim)
        ]
    )

