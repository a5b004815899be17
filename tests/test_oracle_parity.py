"""Self-check replica of the driver's correctness gate: every registered
query with an oracle must match DuckDB at sf0.01 — the driver's OWN
scale, not the smaller sf0.001 the rest of the suite uses, so
cardinality-dependent drift (ties, empty groups, percentile edges that
only appear at larger sf) is visible locally (VERDICT r3 task 2)."""

from __future__ import annotations

import os

import pytest

from multithreaded_mapreduce_spark.plans.registry import all_queries

from .conftest import SF_DIR
from .oracle import compare_query

_DRIVER_SF = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="module")
def sf_dir() -> str:
    """Module-level override: parity runs at the driver's sf0.01."""
    return _DRIVER_SF if os.path.isdir(_DRIVER_SF) else SF_DIR


_QUERIES = all_queries()
_WITH_ORACLE = sorted(n for n, q in _QUERIES.items() if q.oracle)
_ROWS_ONLY = sorted(n for n, q in _QUERIES.items() if not q.oracle)


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_parity(spark, sf_dir, name):
    q = _QUERIES[name]
    compare_query(spark, sf_dir, q.builder, q.oracle)


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_runs(spark, sf_dir, name):
    q = _QUERIES[name]
    df = q.builder(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


_OPTIMIZED_GATE = """
import sys
from types import SimpleNamespace

import pyarrow as pa
from pyspark.sql.types import LongType, StructField, StructType

from multithreaded_mapreduce_spark.plans.verification import (
    assert_type_parity,
    compare_query,
)

if not sys.flags.optimize:
    sys.exit("not running under python -O")
schema = StructType([StructField("a", LongType())])
try:
    assert_type_parity(schema, pa.schema([("a", pa.string())]))
except AssertionError as ex:
    print("type:", ex)
else:
    sys.exit("type mismatch passed")
stub = SimpleNamespace(columns=["a"], schema=schema, collect=lambda: [(1,)])
try:
    compare_query(None, sys.argv[1], lambda spark, d: stub, "SELECT 1 AS b")
except AssertionError as ex:
    print("columns:", ex)
else:
    sys.exit("column mismatch passed")
"""


def test_oracle_gate_raises_under_python_O(sf_dir):
    """The gate raises AssertionError explicitly, so ``python -O`` (which
    strips bare asserts) cannot let a type or column-name mismatch
    through compare_query."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-O", "-c", _OPTIMIZED_GATE, sf_dir],
        cwd=root, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stdout + out.stderr
    assert "type: oracle type mismatch" in out.stdout
    assert "columns: column mismatch" in out.stdout
