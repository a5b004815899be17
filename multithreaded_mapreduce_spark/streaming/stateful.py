"""Custom stateful streaming operators in explicit per-key group state
(``applyInPandasWithState``) — the escape hatch for streaming semantics
the built-in windowed aggregations can't express (per-key accumulators,
custom eviction, ML feature state, ...). Two state shapes:

* per-user running totals (event count + exact value sum), also through
  Spark 4's ``transformWithStateInPandas``;
* per-event-type day totals (:func:`running_daily_fold`), the one day
  accumulator the streaming twins of the daily recurrences
  (EWMA, CUSUM, Holt) share. This module holds no recurrence: each
  twin passes its Python chain from ``operators/timeseries.py``.

Both accumulate exact integer decimal units, so the state is
arrival-order independent: with the file-replay source the query
processes the whole history and the final state equals the batch
aggregate bit-for-bit, which the oracle gate and tests/test_streaming.py
assert. On a live feed a watermark-driven timeout would evict idle keys.

Scale: state is hash-partitioned by key across executors and
checkpointed incrementally (RocksDB state store on a real cluster), so
state size scales with distinct keys (× days for the day accumulator),
never with events processed.
"""

from __future__ import annotations

import datetime as _dt
import json
from collections.abc import Callable, Iterator
from decimal import ROUND_HALF_UP, Decimal
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_dec", T.StringType(), False),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_units", T.StringType(), False),
    ]
)

#: 12-dp quantum — the catalog's DECIMAL(38,12) scale.
_UNIT = Decimal("0.000000000001")


def _dec_units(v: float) -> int:
    """value → exact integer count of 1e-12 units, bit-identical to the
    engines' double→DECIMAL(38,12) cast: java BigDecimal.valueOf(double)
    parses Double.toString's shortest round-trip repr — which is exactly
    Python's repr(float) — and setScale(12, HALF_UP) is quantize with
    ROUND_HALF_UP. Summing integers makes the accumulated total
    order-independent, so the final state hash-matches the SQL
    sum(CAST(value AS DECIMAL(38,12))) regardless of arrival order
    (this is what promoted the query out of rows-only, VERDICT r4
    task 7)."""
    return int(Decimal(repr(float(v))).quantize(_UNIT, ROUND_HALF_UP).scaleb(12))


def _add_values(prev: tuple | None, pdfs: Iterator[pd.DataFrame]) -> tuple[int, int]:
    """Fold a micro-batch's non-NULL values into a user's (count,
    1e-12 units) state; ``prev`` is the stored (count, units-string)
    state or None."""
    n, units = (int(prev[0]), int(prev[1])) if prev is not None else (0, 0)
    for pdf in pdfs:
        vals = pdf["value"].dropna()
        n += int(len(vals))
        units += sum(_dec_units(v) for v in vals)
    return n, units


def _user_row(key: tuple[Any, ...], n: int, units: int) -> pd.DataFrame:
    # plain decimal string (no exponent) — parsed exactly by a
    # decimal(38,12) cast downstream
    return pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_dec": [format(Decimal(units).scaleb(-12), "f")],
        }
    )


def _update_user_totals(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, units = _add_values(state.get if state.exists else None, pdfs)
    state.update((n, str(units)))
    yield _user_row(key, n, units)


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum) maintained in explicit group state.

    Expects a streaming events DataFrame (``stream_events``); emits one
    updated row per user per micro-batch.
    """
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_totals,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """The same per-user running (count, sum) through Spark 4's
    ``transformWithStateInPandas`` — the successor API to
    ``applyInPandasWithState``: state lives in named, typed handles
    (ValueState/ListState/MapState with optional TTL) owned by a
    ``StatefulProcessor`` object instead of one opaque tuple, and
    timers replace the timeout conf. Emitting the identical rows as
    ``running_user_totals`` lets the tests assert both stateful APIs
    and the batch aggregate agree on the same replay.

    Runtime requirements: the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass``) and the
    ``protobuf`` package for the Python state-server protocol — this
    container lacks protobuf, so the operator is exercised by a
    dependency-gated test (tests/test_streaming.py) rather than a
    registry entry.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            n, units = _add_values(
                self._totals.get() if self._totals.exists() else None, rows
            )
            self._totals.update((n, str(units)))
            yield _user_row(key, n, units)

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=UserTotals(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


# --------------------------------------------------------------------------
# per-type day totals: the one day accumulator of the daily recurrences
# --------------------------------------------------------------------------

DAYS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("days_json", T.StringType(), False),
        T.StructField("version", T.LongType(), False),
    ]
)

#: 6-dp quantum — the value sums run at DECIMAL(30,6) (functions/numeric.DEC)
_UNIT6 = Decimal("0.000001")


def _dec6_units(v: float) -> int:
    """value → exact integer count of 1e-6 units (the DECIMAL(30,6)
    quantum), same shortest-repr HALF_UP reading as :func:`_dec_units`."""
    return int(Decimal(repr(float(v))).quantize(_UNIT6, ROUND_HALF_UP).scaleb(6))


def _round_like_spark(x: float, places: int) -> float:
    """Replicate Spark's round(double, n): BigDecimal.valueOf(double)
    parses the shortest round-trip repr (== Python repr), setScale
    HALF_UP."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP))


def _update_days(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    chain: Callable[[list], list[tuple]],
    dtypes: dict[str, str],
) -> pd.DataFrame:
    """Add a micro-batch's (day, value) rows to the type's exact per-day
    (count, 1e-6 units) state — a day may straddle batches — then render
    every day's total as the batch rollup does and re-emit the WHOLE
    chain ``chain(totals)``, one row per day, tagged with the state
    version (the last emission per (type, day) is the final value)."""
    days, version = (
        (json.loads(state.get[0]), int(state.get[1])) if state.exists else ({}, 0)
    )
    for pdf in pdfs:
        for day, v in zip(pdf["day"], pdf["value"]):
            k = day.isoformat() if hasattr(day, "isoformat") else str(day)
            n, units = days.get(k, (0, 0))
            # a day whose every value is NULL still exists (the batch
            # daily aggregate emits a NULL-total row for it)
            if v is not None and not pd.isna(v):
                n += 1
                units += _dec6_units(v)
            days[k] = [int(n), int(units)]
    version += 1
    state.update((json.dumps(days), version))

    ordered = sorted(days)
    totals = [
        _round_like_spark(float(Decimal(units).scaleb(-6)), 2) if n else None
        for n, units in (days[k] for k in ordered)
    ]
    cols = list(zip(*chain(totals)))
    # explicit dtypes, not pandas' inference from the chain's values: an
    # all-None column would infer as object, ints mixed with None as float
    return pd.DataFrame(
        {
            "event_type": pd.Series([key[0]] * len(ordered), dtype="object"),
            "day": pd.Series([_dt.date.fromisoformat(k) for k in ordered], dtype="object"),
            "daily_total": pd.Series(totals, dtype="float64"),
            **{f: pd.Series(c, dtype=t) for (f, t), c in zip(dtypes.items(), cols)},
            "version": pd.Series([version] * len(ordered), dtype="int64"),
        }
    )


def running_daily_fold(
    typed_days: DataFrame, chain: Callable[[list], list[tuple]], fields: str
) -> DataFrame:
    """Per-event-type daily recurrence in explicit group state, emitting
    (event_type, day, daily_total, *fields, version) in update mode.

    ``typed_days`` is a streaming frame with (event_type, day, value) —
    day precomputed engine-side (CAST(ts AS DATE)) so the pandas layer
    never touches timezone arithmetic. ``chain`` maps one type's
    day-ordered totals (None for an all-NULL day) to one tuple of
    ``fields`` values per day; ``fields`` is their DDL (``"ewma double"``).
    State is |days| entries per type: time-bounded, never
    traffic-bounded (same argument as the batch fold array)."""
    schema = T.StructType.fromDDL(
        f"event_type string, day date, daily_total double, {fields}, version long"
    )
    dtypes = {
        f.name: "float64" if isinstance(f.dataType, T.DoubleType) else "object"
        for f in schema.fields[3:-1]
    }

    def update(key, pdfs, state):
        yield _update_days(key, pdfs, state, chain, dtypes)

    return (
        typed_days.select("event_type", "day", "value")
        .groupBy("event_type")
        .applyInPandasWithState(
            update,
            outputStructType=schema,
            stateStructType=DAYS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
