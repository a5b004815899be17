"""The measured-decision module (plans/decisions.py): every memoized
site keys on the table stamp, so a table rewritten in place under the
same path is measured again instead of reusing the old shape's plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from multithreaded_mapreduce_spark.plans import decisions
from multithreaded_mapreduce_spark.plans.registry import all_queries

Q = all_queries()


def _documents(spark, d: str, shape: int) -> None:
    """Shape 1: 48 documents with distinct token sets. Shape 2: 120
    boilerplate near-duplicates (one hot LSH bucket) plus 60 distinct
    documents."""
    if shape == 1:
        rows = [(i, f"a{i} b{i} c{i} d{i} e{i}") for i in range(48)]
    else:
        base = " ".join(f"tok{i}" for i in range(30))
        rows = [(i, f"{base} uniq{i}") for i in range(120)]
        rows += [(1000 + i, " ".join(f"z{i}x{j}" for j in range(12))) for i in range(60)]
    spark.createDataFrame(
        [(i, t, "en", "src0") for i, t in rows],
        "doc_id long, text string, lang string, source string",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")


def _events(spark, d: str, shape: int) -> None:
    """Shape 1: 100 events on 50 users, one per day. Shape 2: 300
    events in one day, 270 of them on user 7."""
    n, user, step = (100, F.col("id") % 50, 86_400) if shape == 1 else (
        300, F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id")), 1
    )
    spark.range(n).select(
        F.col("id").alias("event_id"),
        user.alias("user_id"),
        F.lit("view").alias("event_type"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * step).alias("ts"),
        (F.col("id") % 7).cast("double").alias("value"),
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    spark.range(300).select(
        F.col("id").alias("c_custkey"), F.lit("SEG").alias("c_mktsegment")
    ).write.mode("overwrite").parquet(f"{d}/customer.parquet")


@pytest.mark.parametrize(
    "query,site,field,write",
    [
        ("dedup_containment", "containment", "n_groups", _documents),
        ("dedup_jaccard_pairs", "jaccard", "n_groups", _documents),
        ("skew_auto_join", "skew_join", "max_key_rows", _events),
        ("events_zscore_anomalies", "zscore", "max_rows_per_type_day", _events),
        ("dedup_minhash_lsh", "lsh", "max", _documents),
        ("dedup_ngram_jaccard", "ngram_dfcut", "sample_docs", _documents),
    ],
)
def test_rewritten_table_is_measured_again(spark, tmp_path, query, site, field, write):
    d = str(tmp_path)
    write(spark, d, 1)
    Q[query].builder(spark, d)
    first = decisions.record()[site]
    write(spark, d, 2)
    Q[query].builder(spark, d)
    again = decisions.record()[site]
    assert again[field] != first[field], (first, again)


def test_forced_decision_replaces_measurement_and_is_not_memoized():
    calls = []

    def measure():
        calls.append(1)
        return {"path": "measured"}

    decisions.clear()
    with decisions.forced(t_site={"path": "forced"}):
        assert decisions.decide("t_site", "k", measure) == {"path": "forced", "forced": True}
        assert decisions.note("t_site", {"path": "noted"})["path"] == "forced"
    assert calls == []
    first = decisions.decide("t_site", "k", measure)
    assert decisions.decide("t_site", "k", measure) is first
    assert calls == [1] and decisions.record()["t_site"] is first
    decisions.clear()
    decisions.decide("t_site", "k", measure)
    assert calls == [1, 1]
