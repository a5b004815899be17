"""Structured Streaming parity: the streaming queries must produce the
same results as their oracle-checked batch twins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from multithreaded_mapreduce_spark.plans.registry import all_queries
from multithreaded_mapreduce_spark.streaming.events import (
    run_stream_to_memory,
    sessionized_stream,
    stream_events,
    stream_events_multibatch,
    tumbling_counts_stream,
)

Q = all_queries()


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    stream = tumbling_counts_stream(stream_events(spark, sf_dir))
    got = run_stream_to_memory(stream, "stream_tumbling")
    want = Q["events_tumbling_hourly"].builder(spark, sf_dir)
    cols = ["window_start", "event_type", "n_events", "total_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_streaming_sessionization_consistent_with_batch(spark, sf_dir):
    stream = sessionized_stream(stream_events(spark, sf_dir))
    got = run_stream_to_memory(stream, "stream_sessions")
    # session_window and the batch lag+cumsum query define sessions the
    # same way → per-user session and event counts must agree
    per_user = (
        got.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events"))
        .collect()
    )
    want = {r.user_id: (r.n_sessions, r.n_events) for r in Q["user_sessions"].builder(spark, sf_dir).collect()}
    got_map = {r.user_id: (r.n_sessions, r.n_events) for r in per_user}
    assert got_map == want


def test_stream_is_streaming(spark, sf_dir):
    assert stream_events(spark, sf_dir).isStreaming


def test_multibatch_tumbling_accumulates_across_triggers(spark, sf_dir):
    """With maxFilesPerTrigger=1 over a 4-file split, the tumbling
    aggregation must merge state across four genuine micro-batches and
    still land on the batch answer."""
    stream = tumbling_counts_stream(stream_events_multibatch(spark, sf_dir, n_files=4))
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName("mb_tumbling")
        .start()
    )
    try:
        q.processAllAvailable()
        n_batches = q.lastProgress["batchId"] + 1
    finally:
        q.stop()
    assert n_batches >= 4, f"expected >=4 micro-batches, got {n_batches}"
    got = spark.sql("SELECT * FROM mb_tumbling")
    want = Q["events_tumbling_hourly"].builder(spark, sf_dir)
    cols = ["window_start", "event_type", "n_events", "total_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_multibatch_stateful_state_survives_triggers(spark, sf_dir):
    """GroupState must carry per-user accumulators across micro-batches:
    the last update per user equals the batch per-user aggregate."""
    from multithreaded_mapreduce_spark.sources.tables import load_table
    from multithreaded_mapreduce_spark.streaming.stateful import running_user_totals

    stream = running_user_totals(stream_events_multibatch(spark, sf_dir, n_files=4))
    updates = run_stream_to_memory(stream, "mb_stateful", output_mode="update")
    final = (
        updates.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    )
    got = {r.user_id: r.n_events for r in final}
    want = {
        r.user_id: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want
    # multiple updates per user proves state actually spanned batches
    n_updates = updates.count()
    assert n_updates > len(want), "expected more than one update per user"


def test_parquet_sink_checkpointed_exactly_once(spark, sf_dir, tmp_path):
    """Non-aggregated stream → checkpointed parquet sink: output equals
    the batch filter, and re-running on the same checkpoint writes
    nothing new (committed offsets → exactly-once)."""
    import os

    from multithreaded_mapreduce_spark.sources.tables import load_table
    from multithreaded_mapreduce_spark.streaming.sinks import (
        read_sink,
        run_stream_to_parquet,
    )

    out = os.path.join(str(tmp_path), "clicks")
    ckpt = os.path.join(str(tmp_path), "ckpt")

    def run():
        clicks = stream_events(spark, sf_dir).filter(F.col("event_type") == "click")
        run_stream_to_parquet(clicks.select("event_id", "user_id", "ts"), out, ckpt)

    run()
    want = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "click").count()
    assert read_sink(spark, out).count() == want
    run()  # same checkpoint: no new input → no new files
    assert read_sink(spark, out).count() == want


def test_parquet_sink_windowed_append_emits_finalized_windows(spark, sf_dir, tmp_path):
    """Windowed aggregate in append mode publishes a window only after
    the watermark passes it; every published row must carry exactly the
    batch query's value for that window. Single-file replay: all rows
    arrive in one batch (no late-vs-watermark drops), then the no-data
    micro-batch advances the watermark and flushes finalized windows.
    (The random multi-file split would legitimately DROP late rows —
    that's watermark semantics, not a sink property.)"""
    import os

    stream = tumbling_counts_stream(stream_events(spark, sf_dir))
    out = os.path.join(str(tmp_path), "hourly")
    ckpt = os.path.join(str(tmp_path), "ckpt2")
    from multithreaded_mapreduce_spark.streaming.sinks import (
        read_sink,
        run_stream_to_parquet,
    )

    run_stream_to_parquet(stream, out, ckpt)
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in read_sink(spark, out).collect()
    }
    assert got, "append sink emitted no finalized windows"
    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in Q["events_tumbling_hourly"].builder(spark, sf_dir).collect()
    }
    for key, val in got.items():
        assert want[key] == val, f"window {key}: sink={val} batch={want[key]}"


def test_stateful_totals_equal_batch_aggregate(spark, sf_dir):
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in Q["streaming_stateful_user_totals"].builder(spark, sf_dir).collect()
    }
    from multithreaded_mapreduce_spark.sources.tables import load_table

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .collect()
    )
    want = {r.user_id: (r.n_events, r.total_value) for r in batch}
    assert set(got) == set(want)
    for uid, (n, total) in want.items():
        gn, gtotal = got[uid]
        assert gn == n
        assert abs(gtotal - total) < 0.02  # float accumulation-order slack


def test_transform_with_state_matches_old_api(spark, sf_dir):
    """Spark 4's transformWithStateInPandas twin must emit row-for-row
    what the applyInPandasWithState operator emits on the same replay.

    Dependency-gated: the TWS Python state-server protocol needs
    protobuf (not shipped in this container) and the RocksDB state
    store provider."""
    pytest.importorskip("google.protobuf")
    from multithreaded_mapreduce_spark.streaming.events import (
        run_stream_to_memory,
        stream_events,
    )
    from multithreaded_mapreduce_spark.streaming.stateful import (
        running_user_totals,
        running_user_totals_tws,
    )

    prov_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        tws = run_stream_to_memory(
            running_user_totals_tws(stream_events(spark, sf_dir)),
            "tws_totals",
            output_mode="update",
        ).collect()
    finally:
        if prev is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, prev)
    old = run_stream_to_memory(
        running_user_totals(stream_events(spark, sf_dir)),
        "old_totals",
        output_mode="update",
    ).collect()
    assert sorted(map(tuple, tws)) == sorted(map(tuple, old))


def test_multibatch_dedup_drops_redelivery_across_triggers(spark, sf_dir):
    """Duplicates delivered in DIFFERENT micro-batches must still be
    dropped: union two multibatch replays so every event arrives twice
    across interleaved triggers, and the deduped row count must equal
    the batch distinct count."""
    from multithreaded_mapreduce_spark.streaming.events import (
        deduped_stream,
        run_stream_to_memory,
    )

    src = stream_events_multibatch(spark, sf_dir, n_files=4).unionByName(
        stream_events_multibatch(spark, sf_dir, n_files=4)
    )
    out = run_stream_to_memory(
        deduped_stream(src).select("event_id", "ts"),
        "t_multibatch_dedup",
        output_mode="append",
    )
    n_batch = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert out.count() == n_batch
    assert out.select("event_id").distinct().count() == n_batch


def test_stream_stream_join_equals_batch_self_join(spark, sf_dir):
    from pyspark.sql import functions as F

    from multithreaded_mapreduce_spark.streaming.events import (
        click_purchase_join_stream,
        run_stream_to_memory,
        stream_events,
    )

    clicks = stream_events(spark, sf_dir).filter(F.col("event_type") == "click")
    purchases = stream_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    out = run_stream_to_memory(
        click_purchase_join_stream(clicks, purchases),
        "t_stream_stream_join",
        output_mode="append",
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if ev.schema["ts"].dataType.simpleString() == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    c = ev.filter(F.col("event_type") == "click").select("user_id", F.col("ts").alias("c_ts"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    n_expected = c.join(
        p,
        F.expr("user_id = p_user AND p_ts > c_ts AND p_ts <= c_ts + INTERVAL 30 MINUTES"),
    ).count()
    assert out.count() == n_expected


def test_stream_stream_left_join_flushes_across_triggers(spark, sf_dir):
    """LEFT OUTER interval join over a 4-trigger chronological replay:
    unmatched clicks must flush as the watermark advances batch over
    batch, and the end state must match the batch left join for every
    click provably below the final flush line (min of both sides'
    watermarks minus the 30min horizon, 1min safety margin)."""
    from pyspark.sql import functions as F

    from multithreaded_mapreduce_spark.streaming.events import (
        click_purchase_join_stream,
        run_stream_to_memory,
        stream_events_multibatch,
    )

    clicks = stream_events_multibatch(spark, sf_dir, n_files=4).filter(
        F.col("event_type") == "click"
    )
    purchases = stream_events_multibatch(spark, sf_dir, n_files=4).filter(
        F.col("event_type") == "purchase"
    )
    out = run_stream_to_memory(
        click_purchase_join_stream(clicks, purchases, how="leftOuter"),
        "t_stream_left_join_mb",
        output_mode="append",
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if ev.schema["ts"].dataType.simpleString() == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    mxc = c.agg(F.max("c_ts")).collect()[0][0]
    mxp = p.agg(F.max("p_ts")).collect()[0][0]
    import datetime

    cutoff = min(mxc, mxp) - datetime.timedelta(minutes=41)
    batch = c.filter(F.col("c_ts") <= F.lit(cutoff)).join(
        p,
        F.expr("user_id = p_user AND p_ts > c_ts AND p_ts <= c_ts + INTERVAL 30 MINUTES"),
        "left",
    )
    want_matched = batch.filter(F.col("p_ts").isNotNull()).count()
    want_unmatched = batch.filter(F.col("p_ts").isNull()).count()
    got = out.filter(F.col("c_ts") <= F.lit(cutoff))
    assert got.filter(F.col("p_ts").isNotNull()).count() == want_matched
    assert got.filter(F.col("p_ts").isNull()).count() == want_unmatched


def test_watermark_drops_late_beyond_allowed_lateness(spark, tmp_path):
    """The watermark contract Spark actually guarantees: once a window
    is finalized (its end fell behind the watermark and append mode
    emitted it), a late arrival for that window is DROPPED — the window
    is never re-opened, so no duplicate append row appears. A
    below-watermark row whose window is still live, by contrast, may
    still be aggregated (watermark dropping is best-effort before
    eviction — measured, not assumed, on this engine). The replay:

    - batch0: three 10:xx events + one 12:00 → watermark becomes 11:50
    - batch1: 13:00 → the [10:00,11:00) window is evicted, emitting 3;
      watermark becomes 12:50
    - batch2: 10:30 targets the finalized window → guaranteed drop;
      12:05 is below-watermark but its [12:00,13:00) window is live
    - batch3: 14:30 pushes the watermark past 13:00, flushing the
      [12:00,13:00) window
    """
    import os
    import time

    def day(hhmm: str) -> str:
        return f"2024-03-01 {hhmm}:00"

    batches = [
        [day(t) for t in ("10:00", "10:10", "10:20", "12:00")],
        [day("13:00")],
        [day("10:30"), day("12:05")],
        [day("14:30")],
    ]
    src = str(tmp_path / "late_events")
    os.makedirs(src)
    base = int(time.time())
    for k, ts_list in enumerate(batches):
        pdf = spark.createDataFrame(
            [(t,) for t in ts_list], "ts_str string"
        ).select(F.col("ts_str").cast("timestamp").alias("ts"))
        f = os.path.join(src, f"batch{k}.parquet")
        pdf.coalesce(1).write.mode("overwrite").parquet(f)
        os.utime(f, (base + 10 * k, base + 10 * k))
        for p in os.listdir(f):
            os.utime(os.path.join(f, p), (base + 10 * k, base + 10 * k))

    schema = spark.read.parquet(os.path.join(src, "batch0.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*.parquet"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_drop")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM late_drop").collect()
    starts = [str(r.window_start) for r in rows]
    assert len(starts) == len(set(starts)), "finalized window re-opened!"
    got = {str(r.window_start): r.n_events for r in rows}
    assert got == {
        # the 10:30 arrival after finalization is NOT here (still 3)
        "2024-03-01 10:00:00": 3,
        # 12:00 + the below-watermark-but-live-window 12:05 arrival
        "2024-03-01 12:00:00": 2,
        # batch1's 13:00 event, flushed once 14:30 moved the watermark
        "2024-03-01 13:00:00": 1,
    }


def test_multibatch_stream_static_join_equals_batch(spark, sf_dir):
    """Stream-static enrichment across multiple triggers: the dim join
    holds no state, so an N-trigger replay must still converge to the
    batch join+aggregate (complete mode re-emits the full result)."""
    from multithreaded_mapreduce_spark.sources.tables import load_table
    from multithreaded_mapreduce_spark.streaming.events import (
        enriched_segment_stream,
        stream_events_multibatch,
    )

    customer = load_table(spark, sf_dir, "customer")
    stream = enriched_segment_stream(
        stream_events_multibatch(spark, sf_dir, n_files=4), customer
    )
    got = run_stream_to_memory(stream, "stream_static_mb")
    ev = load_table(spark, sf_dir, "events")
    from multithreaded_mapreduce_spark.functions.numeric import DEC

    want = (
        ev.join(
            customer.select(F.col("c_custkey").alias("user_id"), "c_mktsegment"),
            "user_id",
        )
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 2).alias("total_value"),
        )
    )
    cols = ["window_start", "c_mktsegment", "n_events", "total_value"]
    assert _rows(got, cols) == _rows(want, cols)


def _coefficient_copies(prefix):
    """Globals of the streaming layer named like a recurrence coefficient
    that are not operators/timeseries.py's own objects: the twins fold
    with that module's chains, so the streaming layer defines none."""
    from multithreaded_mapreduce_spark.operators import streaming_queries, timeseries
    from multithreaded_mapreduce_spark.streaming import events, stateful

    return [
        f"{m.__name__}.{n}"
        for m in (events, stateful, streaming_queries)
        for n, v in vars(m).items()
        if n.lstrip("_").startswith(prefix) and v is not getattr(timeseries, n, None)
    ]


def test_ewma_coefficients_stay_in_sync():
    """The EWMA coefficients are defined once, in operators/timeseries.py,
    next to ewma_chain, the fold the streaming twin runs: the streaming
    layer holds no copy that could drift."""
    assert not _coefficient_copies("EWMA_")


def test_streaming_ewma_matches_batch_operator(spark, sf_dir):
    """End-state parity with the batch fold itself (the oracle gate
    already checks the recursive CTE; this pins the two ENGINE paths
    to each other, including the multi-batch day-straddling replay)."""
    from multithreaded_mapreduce_spark.operators.streaming_queries import (
        streaming_ewma_daily,
    )
    from multithreaded_mapreduce_spark.operators.timeseries import events_ewma_daily

    got = {
        (r.event_type, r.day): (r.daily_total, r.ewma)
        for r in streaming_ewma_daily(spark, sf_dir).collect()
    }
    want = {
        (r.event_type, r.day): (r.daily_total, r.ewma)
        for r in events_ewma_daily(spark, sf_dir).collect()
    }
    assert got == want


def test_streaming_cusum_matches_batch_operator(spark, sf_dir):
    """End-state parity of the streaming CUSUM twin with the batch fold
    (the oracle gate already checks the recursive CTE; this pins the
    two ENGINE paths to each other across the multi-batch replay —
    including the global mean recomputed from state each emission)."""
    from multithreaded_mapreduce_spark.operators.streaming_queries import (
        streaming_cusum_daily,
    )
    from multithreaded_mapreduce_spark.operators.timeseries import events_cusum_daily

    got = {
        (r.event_type, r.day): (r.daily_total, r.cusum, r.drift_flag)
        for r in streaming_cusum_daily(spark, sf_dir).collect()
    }
    want = {
        (r.event_type, r.day): (r.daily_total, r.cusum, r.drift_flag)
        for r in events_cusum_daily(spark, sf_dir).collect()
    }
    assert got == want
    # non-degenerate: the replay produces at least one live chain value
    assert any(c is not None for (_t, c, _f) in got.values())


def test_streaming_holt_matches_batch_operator_and_constants(spark, sf_dir):
    """End-state parity of the streaming Holt twin with the batch fold,
    plus the single-definition guard: the Holt coefficients live only in
    operators/timeseries.py (holt_chain), none in the streaming layer."""
    from multithreaded_mapreduce_spark.operators.streaming_queries import (
        streaming_holt_daily,
    )
    from multithreaded_mapreduce_spark.operators.timeseries import events_holt_daily

    assert not _coefficient_copies("HOLT_")
    got = {
        (r.event_type, r.day): (r.daily_total, r.level, r.trend, r.forecast_next)
        for r in streaming_holt_daily(spark, sf_dir).collect()
    }
    want = {
        (r.event_type, r.day): (r.daily_total, r.level, r.trend, r.forecast_next)
        for r in events_holt_daily(spark, sf_dir).collect()
    }
    assert got == want
    assert any(l is not None for (_t, l, _b, _f) in got.values())


def _write_events(path, series):
    """One single-file events table (the shipped tables' layout): ``series``
    maps event_type (None allowed) to {day offset: [values]}, one event
    per value, minutes apart within the day."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = []
    for etype, days in series.items():
        for day, values in days.items():
            for k, v in enumerate(values):
                ts = dt.datetime(2024, 1, 1) + dt.timedelta(days=day, minutes=7 * k + 1)
                rows.append((len(rows), ts, 1 + len(rows) % 3, etype, v, None))
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    table = pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)}, schema=schema)
    pq.write_table(table, path)


def test_recurrences_match_oracle_on_null_type_series_and_in_place_rewrite(
    spark, sf_dir, tmp_path
):
    """The six daily-recurrence queries (batch fold and streaming twin
    of EWMA, CUSUM and Holt) match their oracles on a series whose
    event_type is NULL (the recursive CTE must join it NULL-safely) and
    on a day whose every value is NULL, and still do after ``events``
    is rewritten in place with longer series and a new one (the
    multi-batch replay must split the NEW table, not replay the old
    split)."""
    import shutil

    from multithreaded_mapreduce_spark.sources.tables import TABLES, table_path
    from .oracle import compare_query

    d = str(tmp_path)
    for t in TABLES:
        if t != "events":
            shutil.copyfile(table_path(sf_dir, t), table_path(d, t))
    series = {
        None: {0: [1.25, 2.5], 1: [3.0], 2: [4.75, 0.5]},
        "click": {0: [10.0, 2.25], 1: [None, None], 2: [7.5], 3: [1.0, 3.0]},
        "view": {1: [5.5], 2: [6.25, 1.0]},
    }
    names = [
        f"{engine}_{r}_daily"
        for engine in ("events", "streaming")
        for r in ("ewma", "cusum", "holt")
    ]
    for step in ("initial", "rewritten"):
        if step == "rewritten":
            series[None][3] = [2.0]
            series["click"][4] = [8.5, 0.25]
            series["purchase"] = {3: [100.0], 4: [40.0, 2.5], 5: [60.0]}
        _write_events(table_path(d, "events"), series)
        for name in names:
            try:
                compare_query(spark, d, Q[name].builder, Q[name].oracle)
            except AssertionError as e:
                raise AssertionError(f"{name} ({step} table): {e}") from None


def test_stream_split_rewrites_leave_one_split_dir(spark, tmp_path, monkeypatch, sf_dir):
    """Each events-table version gets its own multi-batch split, named
    by the file's realpath plus its table stamp; writing a new version's
    split removes the older versions' splits. Two in-place rewrites of
    ``events`` leave exactly one split directory, and the streaming
    twins replayed from the fresh split still match their oracles."""
    import os
    import shutil
    import tempfile

    from multithreaded_mapreduce_spark.sources.tables import TABLES, table_path
    from .oracle import compare_query

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    d = str(tmp_path / "sf")
    os.makedirs(d)
    for t in TABLES:
        shutil.copyfile(table_path(sf_dir, t), table_path(d, t))
    stream_events_multibatch(spark, d, n_files=4)
    events = table_path(d, "events")
    for i, name in enumerate(("streaming_ewma_daily", "streaming_cusum_daily")):
        shutil.copyfile(table_path(sf_dir, "events"), events)  # rewrite in place
        t = os.stat(events).st_mtime_ns + (i + 1) * 10**9
        os.utime(events, ns=(t, t))
        compare_query(spark, d, Q[name].builder, Q[name].oracle)
    splits = [f for f in os.listdir(tmp_path) if f.startswith("mmr_spark_stream_split_")]
    assert len(splits) == 1, splits
