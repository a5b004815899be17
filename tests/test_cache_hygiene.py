"""Builder-internal persists must not outlive their query (VERDICT r3
task 4): the registry releases the previous query's tracked caches at
each top-level build, and action-side harnesses release explicitly."""

from __future__ import annotations

from multithreaded_mapreduce_spark.plans.caching import (
    release_result_memos,
    release_tracked,
    tracked_count,
    tracked_persist,
)
from multithreaded_mapreduce_spark.plans.registry import all_queries

Q = all_queries()


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _persistent_ids(spark) -> set[int]:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def test_release_tracked_empties_cache_manager(spark, sf_dir):
    release_tracked()
    # named result memos (the shared CC labels) deliberately survive
    # release_tracked — drop them too before asserting a clean slate
    release_result_memos()
    spark.catalog.clearCache()
    assert _persistent_rdds(spark) == 0
    df = Q["brand_basket_lift"].builder(spark, sf_dir)
    assert tracked_count() > 0, "builder should persist via tracked_persist"
    df.count()
    assert _persistent_rdds(spark) > 0
    assert release_tracked() > 0
    assert tracked_count() == 0  # ledger drained
    assert _persistent_rdds(spark) == 0


def test_next_registry_build_evicts_previous_query(spark, sf_dir):
    release_tracked()
    release_result_memos()
    spark.catalog.clearCache()
    Q["token_triangle_counts"].builder(spark, sf_dir).count()
    triangle_ids = _persistent_ids(spark)
    assert triangle_ids
    # a NEW top-level registry build releases the previous query's caches
    Q["token_pagerank"].builder(spark, sf_dir).count()
    # triangle's relations are gone; only pagerank's own (persists +
    # checkpoint rounds) remain — the resident set is bounded by ONE
    # query's intermediates
    assert not (_persistent_ids(spark) & triangle_ids)
    release_tracked()
    assert _persistent_rdds(spark) == 0


def test_tracked_persist_returns_persisted_frame(spark):
    df = spark.range(10)
    out = tracked_persist(df)
    assert out.storageLevel.useMemory
    assert release_tracked() >= 1
    assert not df.storageLevel.useMemory


def test_stale_checkpoint_result_fails_fast_with_clear_error(spark, sf_dir):
    """ADVICE r5: a checkpoint-backed result (components / pagerank)
    collected AFTER the next top-level build must raise the explanatory
    driver-side error, not an executor missing-block crash; a live
    handle passes through unchanged."""
    import pytest

    from multithreaded_mapreduce_spark.plans.caching import (
        CheckpointBackedDataFrame,
    )

    df = Q["dedup_components"].builder(spark, sf_dir)
    assert isinstance(df, CheckpointBackedDataFrame)
    n_live = df.count()  # live epoch: actions pass through
    assert n_live >= 0
    # the next top-level build releases the previous query's checkpoints
    Q["wordcount"].builder(spark, sf_dir).count()
    with pytest.raises(RuntimeError, match="stale checkpoint-backed"):
        df.collect()
    with pytest.raises(RuntimeError, match="stale checkpoint-backed"):
        df.count()
    # ADVICE r5 completeness: the remaining action entry points are
    # guarded too — a stale handle driven through any of them must hit
    # the same explanatory error, never the raw missing-block crash
    with pytest.raises(RuntimeError, match="stale checkpoint-backed"):
        df.isEmpty()
    with pytest.raises(RuntimeError, match="stale checkpoint-backed"):
        df.foreach(lambda r: None)
    with pytest.raises(RuntimeError, match="stale checkpoint-backed"):
        df.foreachPartition(lambda it: None)
    with pytest.raises(RuntimeError, match="stale checkpoint-backed"):
        df.toJSON()
    with pytest.raises(RuntimeError, match="stale checkpoint-backed"):
        df.writeTo("t")
    with pytest.raises(RuntimeError, match="stale checkpoint-backed"):
        df.rdd
    release_tracked()


def test_components_consumers_share_one_cc_pass(spark, sf_dir):
    """VERDICT r6 task 5: dedup_components, cluster_aware_split and
    dedup_cluster_keep_best share one memoized label pass per corpus —
    the second and third builds must be memo HITS (no recompute), and
    the memo must survive the registry wrapper's per-build release
    while still being dropped by release_result_memos."""
    from multithreaded_mapreduce_spark.plans.caching import (
        result_memo_stats,
    )

    release_tracked()
    release_result_memos()
    Q["dedup_components"].builder(spark, sf_dir).count()
    s0 = result_memo_stats("jaccard_doc_components")
    # key = corpus path + dataset mtime stamp (ADVICE r9)
    assert s0 is not None and s0["key"].startswith(f"{sf_dir}@")
    base_hits, base_misses = s0["hits"], s0["misses"]
    # the registry wrapper released tracked caches at this build's top;
    # the memo must still satisfy the next two consumers
    Q["cluster_aware_split"].builder(spark, sf_dir).count()
    Q["dedup_cluster_keep_best"].builder(spark, sf_dir).count()
    s1 = result_memo_stats("jaccard_doc_components")
    assert s1["misses"] == base_misses, "consumers recomputed the CC pass"
    assert s1["hits"] == base_hits + 2
    assert release_result_memos() == 1
    assert _persistent_rdds(spark) == 0 or release_tracked() >= 0


def test_dead_session_memo_hit_is_evicted(spark, sf_dir):
    """ADVICE r9: a memo entry bound to a stopped session must read as
    a MISS (peek returns None and evicts; the checkpointing getter
    rebuilds) instead of handing back a frame whose localCheckpoint
    blocks are gone."""
    from multithreaded_mapreduce_spark.plans import caching as C

    class _DeadSessionFrame:
        @property
        def sparkSession(self):  # a stopped session's context is gone
            raise RuntimeError("session stopped")

    release_result_memos()
    C._RESULT_MEMO["zombie"] = ("k", _DeadSessionFrame(), [], C._EPOCH)
    assert C.peek_result_memo("zombie", "k") is None
    assert "zombie" not in C._RESULT_MEMO  # evicted, not retried forever

    C._RESULT_MEMO["zombie2"] = ("k", _DeadSessionFrame(), [], C._EPOCH)
    from multithreaded_mapreduce_spark.sources.tables import load_table

    out = C.memoized_result_checkpoint(
        "zombie2", "k", lambda: load_table(spark, sf_dir, "region")
    )
    assert out.count() > 0  # rebuilt from the live session
    release_result_memos()


def test_live_session_memo_still_hits(spark, sf_dir):
    """The liveness guard must not turn real hits into rebuilds: a
    second request in the same build, before any action, gets the same
    frame; once an action has filled it, a later build hits too. A key
    change in a later build replaces the entry and unpersists its
    blocks."""
    from multithreaded_mapreduce_spark.plans import decisions
    from multithreaded_mapreduce_spark.plans.caching import (
        _RESULT_MEMO,
        memoized_result_checkpoint,
        result_memo_stats,
    )
    from multithreaded_mapreduce_spark.sources.tables import load_table

    release_result_memos()
    decisions.new_record()
    build_calls = []

    def build():
        build_calls.append(1)
        return load_table(spark, sf_dir, "region")

    a = memoized_result_checkpoint("live_probe", "k", build)
    b = memoized_result_checkpoint("live_probe", "k", build)
    assert len(build_calls) == 1 and a is b
    assert result_memo_stats("live_probe")["hits"] == 1
    assert decisions.record()["memo"] == {"live_probe": "miss"}
    assert a.count() == 5  # the consumer's action fills the checkpoint
    release_tracked()  # the next top-level build's release
    decisions.new_record()
    assert memoized_result_checkpoint("live_probe", "k", build) is a
    assert len(build_calls) == 1
    assert decisions.record()["memo"] == {"live_probe": "hit"}
    old_ids = {rid for _s, rid in _RESULT_MEMO["live_probe"][2]}
    release_tracked()
    memoized_result_checkpoint("live_probe", "k2", build).count()
    assert len(build_calls) == 2
    assert not old_ids & _persistent_ids(spark)
    release_result_memos()


def test_memo_miss_runs_no_job_before_the_consumer_action(spark):
    """A miss registers a lazy checkpoint: over a plan with no shuffle
    the memo starts no Spark job of its own, and the consumer's action
    fills it."""
    from multithreaded_mapreduce_spark.plans import caching as C

    release_result_memos()
    sc = spark.sparkContext
    sc.setJobGroup("lazy-memo-probe", "lazy memo miss")
    try:
        out = C.memoized_result_checkpoint(
            "lazy_probe", "k", lambda: spark.range(1000).selectExpr("id", "id % 7 AS r")
        )
        assert list(sc.statusTracker().getJobIdsForGroup("lazy-memo-probe")) == []
        assert not C._memo_filled(C._RESULT_MEMO["lazy_probe"][2])
        assert out.filter("r = 0").count() == 143
        assert C._memo_filled(C._RESULT_MEMO["lazy_probe"][2])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        release_result_memos()


def test_unfilled_memo_from_an_earlier_build_is_rebuilt(spark, sf_dir):
    """A memo whose seeding build never ran its action is evicted at the
    next build: its lineage reads CC checkpoint blocks that build's
    release drops, so serving it can die with a missing-block error.
    The next consumer records the eviction, rebuilds and still matches
    its oracle."""
    from multithreaded_mapreduce_spark.plans import decisions
    from multithreaded_mapreduce_spark.plans.caching import result_memo_stats

    from .oracle import compare_query

    release_tracked()
    release_result_memos()
    Q["dedup_components"].builder(spark, sf_dir)  # no action
    misses = result_memo_stats("jaccard_doc_components")["misses"]
    q = Q["cluster_aware_split"]
    compare_query(spark, sf_dir, q.builder, q.oracle)
    assert decisions.record()["memo"]["jaccard_doc_components"] == "unfilled-evicted"
    assert result_memo_stats("jaccard_doc_components")["misses"] == misses + 1
    release_result_memos()
    release_tracked()
