"""Invariants for format connectors, anomaly detection, TWA, and
co-occurrence PMI."""

from __future__ import annotations

from pyspark.sql import functions as F

from multithreaded_mapreduce_spark.plans.registry import all_queries
from multithreaded_mapreduce_spark.sources.formats import read_staged
from multithreaded_mapreduce_spark.sources.tables import load_table

Q = all_queries()


def test_staged_formats_roundtrip_exactly(spark, sf_dir):
    for table, fmt in (("orders", "csv"), ("events", "json"), ("lineitem", "orc")):
        orig = load_table(spark, sf_dir, table)
        staged = read_staged(spark, sf_dir, table, fmt)
        assert staged.count() == orig.count(), (table, fmt)
        assert [f.name for f in staged.schema.fields] == [
            f.name for f in orig.schema.fields
        ]


def test_orc_scan_pushes_filters(spark, sf_dir):
    li = read_staged(spark, sf_dir, "lineitem", "orc").filter(
        F.col("l_quantity") < 24
    )
    plan = li._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "l_quantity" in plan.split("PushedFilters")[1][:200]


def test_zscore_flags_are_extreme(spark, sf_dir):
    rows = Q["events_zscore_anomalies"].builder(spark, sf_dir).collect()
    assert all(abs(r.zscore) >= 2.5 for r in rows)
    # anomalies must be a small minority of the stream
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert len(rows) < 0.1 * n_events


def test_twa_is_bounded_by_value_range(spark, sf_dir):
    twa = {r.event_type: r.time_weighted_avg
           for r in Q["events_time_weighted_avg"].builder(spark, sf_dir).collect()}
    bounds = {
        r.event_type: (r.lo, r.hi)
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    for t, v in twa.items():
        lo, hi = bounds[t]
        assert lo <= v <= hi, (t, v, lo, hi)


def test_cooccurrence_counts_consistent(spark, sf_dir):
    rows = Q["token_cooccurrence_pmi"].builder(spark, sf_dir).collect()
    assert rows, "corpus should have co-occurring tokens"
    for r in rows:
        assert r.token_a < r.token_b
        assert r.c_ab <= min(r.c_a, r.c_b)
        assert r.c_ab >= 5


def test_zscore_day_and_hour_chunks_are_bit_identical(spark, sf_dir, monkeypatch):
    """Density-adaptive chunk key (VERDICT r4 task 5): the day- and
    hour-chunked window evaluations must produce the IDENTICAL flagged
    set (decimal sums are order-exact, context tails replicate the full
    frame history), and the auto probe must pick day chunks on this
    corpus (densities far below the task-memory floor) and memoize the
    decision per corpus."""
    import os

    import multithreaded_mapreduce_spark.operators.anomaly as an
    from multithreaded_mapreduce_spark.plans import decisions

    q = Q["events_zscore_anomalies"]
    # sf0.001 flags no outliers (equality would be vacuous) — use the
    # driver's sf0.01 when present
    driver_sf = "/root/testdata/sf0.01"
    sf_dir = driver_sf if os.path.isdir(driver_sf) else sf_dir
    with decisions.forced(zscore={"chunk_us": an.DAY_US}):
        day = sorted(tuple(r) for r in q.builder(spark, sf_dir).collect())
    with decisions.forced(zscore={"chunk_us": an.HOUR_US}):
        hour = sorted(tuple(r) for r in q.builder(spark, sf_dir).collect())
    assert day == hour
    assert len(day) > 0  # the fixture corpus actually has outliers
    # auto path: probe runs once, decides day, and memoizes
    decisions.clear()
    q.builder(spark, sf_dir).count()
    d = decisions.record()["zscore"]
    assert d["chunk_us"] == an.DAY_US
    assert 0 < d["max_rows_per_type_day"] < an.ZSCORE_HOUR_CHUNK_FLOOR
    q.builder(spark, sf_dir)
    assert decisions.record()["zscore"] is d
    # forced-low floor flips the decision to hour chunks — same rows
    monkeypatch.setattr(an, "ZSCORE_HOUR_CHUNK_FLOOR", 1)
    decisions.clear()
    flipped = sorted(tuple(r) for r in q.builder(spark, sf_dir).collect())
    assert decisions.record()["zscore"]["chunk_us"] == an.HOUR_US
    assert flipped == day
