"""Physical-plan assertions for the scale-oriented operators: bucketed
joins must be exchange-free below the join, salted joins must shuffle on
(key, salt), and sinks must round-trip."""

from __future__ import annotations

import io
import os
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from multithreaded_mapreduce_spark.operators.skew import salted_join
from multithreaded_mapreduce_spark.plans import decisions
from multithreaded_mapreduce_spark.plans.registry import all_queries
from multithreaded_mapreduce_spark.sinks import format_console, write_csv, write_parquet
from multithreaded_mapreduce_spark.sources.tables import load_table

Q = all_queries()


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("simple")
    return buf.getvalue()


def test_bucketed_join_has_no_shuffle_below_join(spark, sf_dir):
    df = Q["bucketed_join_order_revenue"].builder(spark, sf_dir)
    plan = _plan(df)
    assert "SortMergeJoin" in plan
    join_input = plan.split("SortMergeJoin", 1)[1]
    # everything under the join: bucket-aligned scans, sorts — no Exchange
    assert "Exchange" not in join_input, f"shuffle below bucketed join:\n{join_input}"
    assert plan.count("Bucketed: true") >= 2


def test_salted_join_shuffles_on_key_and_salt(spark, sf_dir):
    df = Q["skew_salted_event_user_totals"].builder(spark, sf_dir)
    plan = _plan(df)
    assert "_salt" in plan
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan


def test_salted_join_matches_plain_join(spark, sf_dir):
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    salted = salted_join(events, customer, "user_id", salt_source=F.xxhash64("event_id"))
    plain = events.join(customer, "user_id")
    cols = ["event_id", "user_id", "c_mktsegment"]
    got = sorted(tuple(r[c] for c in cols) for r in salted.select(cols).collect())
    want = sorted(tuple(r[c] for c in cols) for r in plain.select(cols).collect())
    assert got == want


def test_console_sink_matches_reference_format(spark, sf_dir):
    counts = Q["wordcount"].builder(spark, sf_dir)
    lines = format_console(counts, key="word", value="cnt")
    assert lines == sorted(lines)  # ascending binary order
    assert all(": " in line for line in lines)
    first_word, first_count = lines[0].split(": ")
    assert first_count.isdigit()


def test_parquet_sink_partitioned_roundtrip(spark, sf_dir, tmp_path):
    df = load_table(spark, sf_dir, "nation")
    out = os.path.join(str(tmp_path), "nation_by_region")
    write_parquet(df, out, partition_by=("n_regionkey",))
    # hive-style partition dirs exist → partition pruning is available
    assert any(d.startswith("n_regionkey=") for d in os.listdir(out))
    back = spark.read.parquet(out)
    assert back.count() == df.count()
    assert set(back.columns) == set(df.columns)


def test_partitioned_write_enables_partition_pruning(spark, sf_dir, tmp_path):
    """A hive-partitioned table + a partition-key filter must prune at
    planning time: the scan's PartitionFilters carries the predicate and
    only matching directories are read — the mechanism that makes a
    date-partitioned 100 TB table scannable."""
    events = load_table(spark, sf_dir, "events")
    out = os.path.join(str(tmp_path), "events_by_type")
    write_parquet(events, out, partition_by=("event_type",))
    one_type = events.select("event_type").first().event_type
    pruned = spark.read.parquet(out).filter(F.col("event_type") == one_type)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and one_type in plan
    # row count matches the unpartitioned filter → pruning lost nothing
    assert pruned.count() == events.filter(F.col("event_type") == one_type).count()


def test_csv_sink_roundtrip(spark, sf_dir, tmp_path):
    df = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    out = os.path.join(str(tmp_path), "region_csv")
    write_csv(df, out)
    back = spark.read.option("header", "true").csv(out)
    assert back.count() == df.count()


def test_moment_stats_combine_map_side(spark, sf_dir):
    """The power sums must partial-aggregate before the exchange: one
    decimal quintuple per partition crosses the shuffle, not rows."""
    plan = _plan(Q["lineitem_moment_stats"].builder(spark, sf_dir))
    agg_part = plan.split("Exchange", 1)[0]
    # below (after in text) the first exchange there must already be a
    # partial HashAggregate over the cent sums
    assert "partial_sum" in plan or "partial" in agg_part.lower() or plan.count("HashAggregate") >= 2


def test_q18_broadcasts_qualifying_orders(spark, sf_dir):
    plan = _plan(Q["q18_large_volume_customers"].builder(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_centroid_partial_aggregates_before_shuffle(spark, sf_dir):
    plan = _plan(Q["embedding_label_centroids"].builder(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_incremental_rollup_equals_full_recompute(spark, sf_dir):
    from pyspark.sql import functions as F
    from multithreaded_mapreduce_spark.functions.numeric import DEC

    inc = Q["events_incremental_rollup"].builder(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    full = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 2).alias("total_value"),
        )
        .orderBy("day", "event_type")
        .collect()
    )
    assert [tuple(r) for r in inc] == [tuple(r) for r in full]


def test_compact_parquet_rewrites_to_target_file_count(spark, sf_dir, tmp_path):
    """Small-file compaction: a 64-file relation compacts to 4 evenly
    sized files with identical content — the periodic hygiene pass that
    keeps listing/scheduling costs off every later scan."""
    from multithreaded_mapreduce_spark.sinks import compact_parquet

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    fragmented = os.path.join(str(tmp_path), "orders_fragmented")
    orders.repartition(64).write.parquet(fragmented)
    frag_files = [f for f in os.listdir(fragmented) if f.endswith(".parquet")]
    assert len(frag_files) == 64

    compacted = os.path.join(str(tmp_path), "orders_compacted")
    compact_parquet(spark.read.parquet(fragmented), compacted, target_files=4)
    out_files = [f for f in os.listdir(compacted) if f.endswith(".parquet")]
    assert len(out_files) == 4
    # round-robin repartition → sizes within 2x of each other
    sizes = sorted(os.path.getsize(os.path.join(compacted, f)) for f in out_files)
    assert sizes[-1] < 2 * sizes[0]
    back = spark.read.parquet(compacted)
    assert back.count() == orders.count()
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, orders.collect()))


def test_clustered_write_gives_disjoint_file_ranges(spark, sf_dir, tmp_path):
    """write_clustered_parquet must produce files whose cluster-key
    [min, max] ranges do not overlap (verified from the parquet footers
    directly) — the property that lets a reader skip whole files on a
    pushed-down range predicate."""
    import pyarrow.parquet as pq

    from multithreaded_mapreduce_spark.sinks import write_clustered_parquet

    events = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    out = os.path.join(str(tmp_path), "events_clustered")
    write_clustered_parquet(events, out, ("event_id",), num_files=8)

    ranges = []
    for f in os.listdir(out):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(out, f)).metadata
        if md.num_rows == 0:
            continue
        col = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "event_id"
        )
        mins = [md.row_group(g).column(col).statistics.min for g in range(md.num_row_groups)]
        maxs = [md.row_group(g).column(col).statistics.max for g in range(md.num_row_groups)]
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 4  # range partitioner actually split the keyspace
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges ({lo1},{hi1}) vs ({lo2},{hi2})"

    # and the layout is transparent to readers: same rows come back
    back = spark.read.parquet(out)
    assert back.count() == events.count()


def test_salted_join_correct_under_adversarial_hot_key(spark):
    """Pathological skew: 95% of fact rows share ONE key. The salted
    join must (a) return exactly the plain join's rows and (b) actually
    spread the hot key across all salt buckets — the property that
    bounds any single reducer's share at scale."""
    from pyspark.sql import functions as F

    n = 20_000
    fact = spark.range(n).select(
        F.col("id").alias("row_id"),
        # 95% of rows hit key 7, the rest spread over 100 keys
        F.when(F.col("id") % 20 != 0, F.lit(7))
        .otherwise((F.col("id") % 100) + 100)
        .alias("k"),
        (F.col("id") * 3).alias("payload"),
    )
    dim = spark.range(300).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("label")
    )
    salted = salted_join(fact, dim, "k", salt_source=F.col("row_id"))
    plain = fact.join(dim, "k")
    cols = ["row_id", "k", "payload", "label"]
    got = sorted(tuple(r[c] for c in cols) for r in salted.select(cols).collect())
    want = sorted(tuple(r[c] for c in cols) for r in plain.select(cols).collect())
    assert got == want and len(got) == n

    # the hot key's rows must occupy every salt bucket ~evenly
    from multithreaded_mapreduce_spark.operators.skew import N_SALTS

    hot = (
        fact.filter(F.col("k") == 7)
        .withColumn("_salt", F.pmod(F.col("row_id"), F.lit(N_SALTS)).cast("int"))
        .groupBy("_salt")
        .count()
        .collect()
    )
    assert len(hot) == N_SALTS
    counts = [r["count"] for r in hot]
    assert max(counts) < 2 * min(counts), counts


def test_skew_auto_join_paths_equivalent_and_plain_on_uniform(spark, sf_dir):
    """VERDICT r7 task 4: the measured skew decision. All three forced
    paths (plain / AQE-shuffled / salted) return identical rows, and on
    the near-uniform fixture events (max straggler factor ~1.3) the
    auto decision picks the plain join with the probe stats recorded."""
    import multithreaded_mapreduce_spark.operators.skew as sk

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    got = {}
    for path in ("plain", "aqe", "salted"):
        with decisions.forced(skew_join={"path": path}):
            got[path] = rows(Q["skew_auto_join"].builder(spark, sf_dir))
        assert decisions.record()["skew_join"] == {"forced": True, "path": path}
    assert got["plain"] == got["aqe"] == got["salted"]
    assert len(got["plain"]) > 0
    decisions.clear()
    auto = rows(Q["skew_auto_join"].builder(spark, sf_dir))
    d = decisions.record()["skew_join"]
    assert auto == got["plain"]
    assert d["path"] == "plain"
    assert 0 < d["max_x_uniform"] < sk.SKEW_AQE_MIN_X
    assert d["ndv"] > 0 and d["total"] >= d["ndv"]
    # memoized: a second build must reuse the cached decision object
    again = rows(Q["skew_auto_join"].builder(spark, sf_dir))
    assert again == auto and decisions.record()["skew_join"] is d


def test_skew_auto_join_engages_salted_on_hot_key(spark, tmp_path):
    """On a corpus where one user carries ~95% of the events (straggler
    factor far past SALT_MIN_X) the auto rule must pick the salted
    rewrite WITHOUT forcing — and its answer must equal the
    forced-plain join's exactly."""
    from pyspark.sql import functions as F

    import multithreaded_mapreduce_spark.operators.skew as sk

    n = 5_000
    events = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") % 20 != 0, F.lit(7))
        .otherwise(((F.col("id") / 20).cast("long") % 50) + 100)
        .alias("user_id"),
        (F.col("id") % 97).cast("double").alias("value"),
    )
    customer = spark.range(300).select(
        F.col("id").alias("c_custkey"),
        F.concat(F.lit("SEG"), (F.col("id") % 5)).alias("c_mktsegment"),
    )
    events.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    customer.write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    fixture = str(tmp_path)

    decisions.clear()
    auto = sorted(tuple(r) for r in Q["skew_auto_join"].builder(spark, fixture).collect())
    d = dict(decisions.record()["skew_join"])
    assert d["path"] == "salted", d
    assert d["max_x_uniform"] >= sk.SKEW_SALT_MIN_X
    with decisions.forced(skew_join={"path": "plain"}):
        plain = sorted(tuple(r) for r in Q["skew_auto_join"].builder(spark, fixture).collect())
    decisions.clear()
    assert auto == plain and len(auto) > 0


def _file_dim_ranges(out_dir: str, col_name: str) -> list[tuple]:
    """Per-file (min, max) of ``col_name`` read straight from the
    parquet footers — what a stats-based reader skips on."""
    import pyarrow.parquet as pq

    ranges = []
    for f in os.listdir(out_dir):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(out_dir, f)).metadata
        if md.num_rows == 0:
            continue
        col = next(
            i
            for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == col_name
        )
        mins = [
            md.row_group(g).column(col).statistics.min for g in range(md.num_row_groups)
        ]
        maxs = [
            md.row_group(g).column(col).statistics.max for g in range(md.num_row_groups)
        ]
        ranges.append((min(mins), max(maxs)))
    return ranges


def test_zorder_write_skips_on_both_dimensions(spark, sf_dir, tmp_path):
    """write_zordered_parquet must make every file a small rectangle in
    (user_id, value) space: mean per-file footer coverage well under the
    full range on BOTH dimensions — whereas linear clustering on user_id
    leaves the value dimension unskippable (full-range footers)."""
    from multithreaded_mapreduce_spark.sinks import (
        write_clustered_parquet,
        write_zordered_parquet,
    )

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    zdir = os.path.join(str(tmp_path), "events_zorder")
    ldir = os.path.join(str(tmp_path), "events_linear")
    write_zordered_parquet(events, zdir, ("user_id", "value"), num_files=16)
    write_clustered_parquet(events, ldir, ("user_id",), num_files=16)

    lo_u, hi_u, lo_v, hi_v = events.select(
        F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")
    ).first()

    def mean_coverage(out_dir: str, col: str, lo, hi) -> float:
        spans = [
            (mx - mn) / (hi - lo) for mn, mx in _file_dim_ranges(out_dir, col)
        ]
        assert len(spans) >= 6  # the z-range partitioner actually split
        return sum(spans) / len(spans)

    z_u = mean_coverage(zdir, "user_id", lo_u, hi_u)
    z_v = mean_coverage(zdir, "value", lo_v, hi_v)
    l_u = mean_coverage(ldir, "user_id", lo_u, hi_u)
    l_v = mean_coverage(ldir, "value", lo_v, hi_v)

    # z-order: BOTH dimensions skippable (small rectangles)
    assert z_u < 0.6, f"user_id coverage {z_u}"
    assert z_v < 0.6, f"value coverage {z_v}"
    # linear clustering: tight on the cluster key, wide on the other
    # (62-row files under-sample the tails, so "wide" is ~0.7, not 1.0)
    assert l_u < 0.3
    assert l_v > 0.55
    # and z-order strictly beats linear on the non-cluster dimension
    assert z_v < l_v * 0.6, f"z={z_v} linear={l_v}"

    # layout is transparent to readers: same rows come back
    back = spark.read.parquet(zdir)
    assert back.count() == events.count()
    assert sorted(map(tuple, back.select("event_id").collect())) == sorted(
        map(tuple, events.select("event_id").collect())
    )


def test_runtime_bloom_filter_injected_for_selective_join(spark, sf_dir):
    """When a shuffle join's build side carries a selective filter,
    Spark's runtime row-level filtering must inject a bloom filter on
    the probe side (`might_contain` in the final plan) — at 100 TB this
    prunes the fact scan's shuffle input before the exchange, which is
    the whole cost of a selective fact⋈dim join that outgrew broadcast.
    Thresholds are lowered because the testdata is tiny; production
    defaults (10 MB creation / 10 GB application side) fire on real
    volumes."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1B",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the shuffle join
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        od = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("q"))
        )
        plan = _plan(joined)
        assert "might_contain" in plan.lower(), plan
        assert joined.count() == 1  # and it still computes
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_active_streaks_reuses_one_partitioning(spark, sf_dir):
    """user_active_streaks pins hash(user_id) up front; every later
    stage's clustered-distribution requirement is satisfied by it, so
    the plan has exactly one hash exchange (plus the output sort)."""
    plan = _plan(Q["user_active_streaks"].builder(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Exchange rangepartitioning") == 1, plan


def test_bloom_prefilter_fact_side_never_shuffles(spark, sf_dir):
    """The claim in bloom_prefilter_semi_join's docstring, asserted
    from the physical plan: every probe and the exact confirm are
    BROADCAST left-semi joins, so the only data-bearing exchange in
    the whole plan is the 5-row priority aggregate's (plus its final
    sort). Four broadcast exchanges carry the bit-set/key relations."""
    from multithreaded_mapreduce_spark.operators.layout import (
        bloom_prefilter_semi_join,
    )

    plan = (
        bloom_prefilter_semi_join(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") == 4, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    # data-bearing shuffles: exactly the one hash exchange feeding the
    # final aggregate (the orderBy adds a range exchange on 5 rows)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_zorder_audit_single_aggregation_shuffle(spark, sf_dir):
    """The Morton audit is scan-side integer math + one aggregate:
    exactly one hash exchange (64 bucket rows), no join, no window."""
    from multithreaded_mapreduce_spark.operators.layout import zorder_layout_audit

    plan = (
        zorder_layout_audit(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_shard_plan_window_runs_post_aggregate(spark, sf_dir):
    """shard_layout_plan's global-mean window must consume the 64-row
    aggregate output, never the scan: the Window node sits above the
    final HashAggregate in the plan tree (string order: Window prints
    before — i.e. downstream of — the aggregate in Spark's top-down
    plan rendering)."""
    from multithreaded_mapreduce_spark.operators.layout import shard_layout_plan

    plan = (
        shard_layout_plan(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" in plan, plan
    assert plan.index("Window") < plan.index("HashAggregate"), plan
