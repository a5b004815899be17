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
