"""Replica of the driver's DuckDB-oracle comparison: run the Spark
builder and the oracle SQL on the same parquet tables, compare row count,
column names, and (order-insensitively) values.

Mirrors the strictness described in the driver contract: columns are
sorted by name, rows compared as a multiset. Floats must match exactly —
queries are responsible for rounding on BOTH sides.

Lives in the package (moved from tests/ in r4) so the CLI ``verify``
subcommand can run any registered query against its oracle on demand;
tests import it through the ``tests/oracle.py`` shim.
"""

from __future__ import annotations

import math
from datetime import datetime

import duckdb
import pyarrow as pa

from ..sources.tables import TABLES, table_path


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def _canon(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        # exact repr — queries must round identically on both sides
        return f"f:{v!r}"
    if isinstance(v, datetime):
        return f"t:{v.replace(tzinfo=None).isoformat()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if hasattr(v, "isoformat"):  # date
        return f"d:{v.isoformat()}"
    return f"{type(v).__name__}:{v}"


def _spark_type_class(dt) -> tuple:
    """Collapse a Spark DataType into the same classes as _arrow_type_class."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return ("integral",)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return ("float",)
    if isinstance(dt, T.DecimalType):
        return ("decimal", dt.precision, dt.scale)
    if isinstance(dt, T.BooleanType):
        return ("bool",)
    if isinstance(dt, (T.StringType, T.VarcharType, T.CharType)):
        return ("string",)
    if isinstance(dt, T.BinaryType):
        return ("binary",)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return ("timestamp",)
    if isinstance(dt, T.DateType):
        return ("date",)
    if isinstance(dt, T.ArrayType):
        return ("list",) + _spark_type_class(dt.elementType)
    if isinstance(dt, T.StructType):
        return ("struct",) + tuple(_spark_type_class(f.dataType) for f in dt.fields)
    return ("other", type(dt).__name__)


def _arrow_type_class(at: pa.DataType) -> tuple:
    """Collapse an Arrow DataType (DuckDB fetch_arrow_table output) likewise.

    DuckDB's HUGEINT (e.g. sum(BIGINT)) surfaces as decimal128(38, 0), which
    the driver's type-sensitive value hash distinguishes from Spark LONG —
    so decimals do NOT collapse into integrals here: an uncast sum() oracle
    must fail this gate locally before it can red-line the driver.
    """
    if pa.types.is_integer(at):
        return ("integral",)
    if pa.types.is_floating(at):
        return ("float",)
    if pa.types.is_decimal(at):
        return ("decimal", at.precision, at.scale)
    if pa.types.is_boolean(at):
        return ("bool",)
    if pa.types.is_string(at) or pa.types.is_large_string(at):
        return ("string",)
    if pa.types.is_binary(at) or pa.types.is_large_binary(at):
        return ("binary",)
    if pa.types.is_timestamp(at):
        return ("timestamp",)
    if pa.types.is_date(at):
        return ("date",)
    if pa.types.is_list(at) or pa.types.is_large_list(at):
        return ("list",) + _arrow_type_class(at.value_type)
    if pa.types.is_struct(at):
        return ("struct",) + tuple(_arrow_type_class(f.type) for f in at)
    return ("other", str(at))


def assert_type_parity(spark_schema, arrow_schema: pa.Schema) -> None:
    """Per-column type-class equality between the Spark result schema and
    the DuckDB→Arrow oracle schema (matched by column name).

    This is the local stand-in for the driver's type-sensitive value hash:
    integral↔integral and float↔float collapse (width-insensitive), but
    decimal precision/scale must match exactly — which makes DuckDB's
    HUGEINT (decimal128(38,0)) vs a Spark LONG an immediate local failure
    instead of a driver-only surprise (VERDICT r2 task 2).
    """
    s_fields = {f.name: f.dataType for f in spark_schema.fields}
    mismatches = []
    for f in arrow_schema:
        if f.name not in s_fields:
            continue  # column-name parity is asserted separately
        sc = _spark_type_class(s_fields[f.name])
        ac = _arrow_type_class(f.type)
        if sc != ac:
            mismatches.append(f"{f.name}: spark={sc} duckdb-arrow={ac} ({f.type})")
    if mismatches:
        raise AssertionError(
            "oracle type mismatch (the value hash is type-sensitive; CAST the oracle "
            "side — e.g. CAST(sum(x) AS BIGINT) for HUGEINT sums): "
            + "; ".join(mismatches)
        )


def rows_multiset(cols: list[str], rows: list[tuple]) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in order) for r in rows)


def compare_query(spark, sf_dir: str, builder, oracle: str) -> None:
    from .caching import release_tracked

    sdf = builder(spark, sf_dir)
    s_cols = list(sdf.columns)
    s_rows = [tuple(r) for r in sdf.collect()]
    release_tracked()  # builder-internal persists die with the action

    con = duck_connection(sf_dir)
    tbl = con.execute(oracle).fetch_arrow_table()
    con.close()
    d_cols = list(tbl.schema.names)
    d_rows = [tuple(r.values()) for r in tbl.to_pylist()]

    if sorted(s_cols) != sorted(d_cols):
        raise AssertionError(
            f"column mismatch: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
        )
    assert_type_parity(sdf.schema, tbl.schema)
    if len(s_rows) != len(d_rows):
        raise AssertionError(
            f"row count mismatch: spark={len(s_rows)} duckdb={len(d_rows)}"
        )
    s_ms = rows_multiset(s_cols, s_rows)
    d_ms = rows_multiset(d_cols, d_rows)
    if s_ms != d_ms:
        diff_s = [r for r in s_ms if r not in set(d_ms)][:5]
        diff_d = [r for r in d_ms if r not in set(s_ms)][:5]
        raise AssertionError(
            f"value mismatch; spark-only (≤5): {diff_s}; duckdb-only (≤5): {diff_d}"
        )
