"""r11: spread() is gated on the measured scan parallelism (VERDICT r10
item 4) — the round-robin exchange only enters the plan when the file
sources resolve to 1-few splits (the single-file shape every bench SF
has); an input that already scans wide is returned UNCHANGED, so on a
cluster the redundant full-relation exchange never happens."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from multithreaded_mapreduce_spark.sources.tables import (
    _est_scan_splits,
    load_table,
    spread,
)

from .conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_single_file_input_still_spreads(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    assert _est_scan_splits(docs) == 1
    assert "RoundRobinPartitioning" in _plan(spread(docs))


def test_wide_scan_returns_input_unchanged(spark, tmp_path, monkeypatch):
    src = str(tmp_path / "wide")
    spark.range(5000).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("s")
    ).repartition(40).write.mode("overwrite").parquet(src)
    df = spark.read.parquet(src)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # shrink the split size so the 40 files resolve to >= 40 splits
        # (well past cores/4) — the gate must then skip the exchange
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(1024 * 1024))
        splits = _est_scan_splits(df)
        par = spark.sparkContext.defaultParallelism
        assert splits is not None and splits > max(1, par // 4), (splits, par)
        out = spread(df)
        assert out is df
        assert "RoundRobinPartitioning" not in _plan(out)
        # kill switches: always forces the exchange, off never adds it
        monkeypatch.setenv("MMR_SPREAD", "always")
        assert "RoundRobinPartitioning" in _plan(spread(df))
        monkeypatch.setenv("MMR_SPREAD", "off")
        docs = load_table(spark, SF_DIR, "documents")
        assert spread(docs) is docs
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_non_file_source_keeps_historical_spread(spark):
    rng = spark.range(100).select(F.col("id"))
    assert _est_scan_splits(rng) is None
    assert "RoundRobinPartitioning" in _plan(spread(rng))


def test_unit_suffixed_max_partition_bytes(spark):
    """A unit-suffixed byte conf parses as Spark parses it: 128m is
    128 MiB (one split for a small file), not 128 bytes."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
        assert _est_scan_splits(docs) == 1
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_gzip_file_is_one_split(spark, tmp_path):
    """A gzip file over maxPartitionBytes is still one scan task — gzip
    cannot split — so it counts as one split, not size/maxPartitionBytes."""
    import gzip

    path = tmp_path / "lines.txt.gz"
    with gzip.open(path, "wt") as fh:
        for i in range(20000):
            fh.write(f"{i} {i * 7919 % 10007}\n")
    df = spark.read.text(str(path))
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
        assert os.path.getsize(path) > 4 * 1024
        assert _est_scan_splits(df) == 1
        assert df.rdd.getNumPartitions() == 1
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
