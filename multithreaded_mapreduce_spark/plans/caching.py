"""Cache hygiene for builder-internal ``persist()`` calls.

Several builders persist a shared intermediate relation so that
multiple consuming branches don't re-derive it (the round-3
branch-recomputation fixes: triangle counting, PMI, basket lift, LSH
collapse, pagerank edges, …). A builder cannot unpersist that relation
itself — the caller runs the action, and the cache must live until the
action completes. Left alone, though, every builder invocation leaks a
CacheManager entry that survives until session stop, so a long-lived
session sweeping the catalog accumulates hundreds of cached relations
(VERDICT r3 task 4 / ADVICE r3).

Contract implemented here:

- builders persist through :func:`tracked_persist`, which records the
  DataFrame in a session-global ledger;
- the registry wraps every registered builder so that each TOP-LEVEL
  builder invocation first releases the ledger — the previous query's
  action has necessarily been taken (or abandoned) by the time the
  caller asks for the next plan, so its caches are dead weight. Nested
  builder-in-builder composition goes through the raw module-level
  functions, never the registry wrapper, so a release can never fire
  mid-build;
- action-side harnesses (bench.py, scripts/plan_audit.py, the oracle
  gate) call :func:`release_tracked` explicitly after their action so
  no persisted relation outlives its query even without a next build.

The worst-case cache residency is therefore ONE query's intermediates,
regardless of session lifetime.

Contract caveat: releasing a localCheckpoint's blocks makes any
DataFrame built on it non-recomputable (localCheckpoint truncates
lineage by design), so a PREVIOUS query's returned DataFrame must not
be re-collected after the next top-level build starts — rebuild it
through the registry instead. That is exactly how the driver, bench,
oracle gate, and tests consume the catalog.

Named result memos (``quality_gates``, ``jaccard_pairs``,
``jaccard_doc_components``, ``minhash_verified_pairs``) share one
intermediate across the top-level queries of a session and follow one
policy. A miss registers the build as a LAZY local checkpoint, so the
memo runs no job of its own: the first consumer's action fills it. A
filled entry is served across builds; an unfilled one only within the
build that seeded it, and is evicted at the first lookup after that.
Seeding consumers (:func:`memoized_result_checkpoint`) and peeking ones
(:func:`peek_result_memo`, which never build) share one lookup.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from . import decisions

_TRACKED: list[DataFrame] = []
#: (SparkSession, rdd_id) pairs for localCheckpoint block caches, which
#: live OUTSIDE the CacheManager and need RDD-level unpersist
_TRACKED_RDD_IDS: list[tuple[object, int]] = []
#: bumped on every release — checkpoint-backed result guards compare it
_EPOCH = 0


# Subclass the CLASSIC DataFrame: the pyspark.sql.DataFrame dispatcher's
# __new__ ignores cls (returns a plain classic instance), so a guard
# subclassed from the dispatcher would silently degrade to an unguarded
# frame. This engine runs classic (JVM) sessions by design.
from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame  # noqa: E402


class CheckpointBackedDataFrame(_ClassicDataFrame):
    """Result frame whose plan reads tracked localCheckpoint blocks
    (the iterative builders: connected components, pagerank).

    localCheckpoint truncates lineage by design, so once
    :func:`release_tracked` drops those blocks — which the registry
    wrapper does at the next top-level build — the plan is
    NON-RECOMPUTABLE and a late action dies with a cryptic executor
    missing-block error far from its cause (ADVICE r5). This subclass
    fails fast at the driver instead, naming the contract. Actions on a
    LIVE epoch pass straight through; transformations return plain
    DataFrames (a derived plan collected late still hits the raw Spark
    error — the guard covers the documented misuse: re-collecting the
    returned handle after the next build)."""

    def __new__(cls, df: DataFrame, epoch: int):
        # bypass the classic __new__ (which re-invokes __init__ with its
        # own (jdf, session) signature) — plain allocation, normal init
        return object.__new__(cls)

    def __init__(self, df: DataFrame, epoch: int):
        super().__init__(df._jdf, df.sparkSession)
        self._mmr_epoch = epoch

    def _mmr_check(self) -> None:
        if self._mmr_epoch != _EPOCH:
            raise RuntimeError(
                "stale checkpoint-backed result: this DataFrame was built on "
                "localCheckpoint blocks that release_tracked() has since "
                "dropped (the next top-level registry build releases the "
                "previous query's caches — see plans/caching.py). Rebuild "
                "the query through the registry instead of re-collecting an "
                "old handle."
            )

    def collect(self):
        self._mmr_check()
        return super().collect()

    def count(self):
        self._mmr_check()
        return super().count()

    def toPandas(self):
        self._mmr_check()
        return super().toPandas()

    def show(self, *a, **k):
        self._mmr_check()
        return super().show(*a, **k)

    def take(self, num):
        self._mmr_check()
        return super().take(num)

    def head(self, n=None):
        self._mmr_check()
        return super().head(n)

    def first(self):
        self._mmr_check()
        return super().first()

    def toLocalIterator(self, *a, **k):
        self._mmr_check()
        return super().toLocalIterator(*a, **k)

    def isEmpty(self):
        self._mmr_check()
        return super().isEmpty()

    def foreach(self, f):
        self._mmr_check()
        return super().foreach(f)

    def foreachPartition(self, f):
        self._mmr_check()
        return super().foreachPartition(f)

    def toJSON(self, use_unicode=True):
        self._mmr_check()
        return super().toJSON(use_unicode)

    def writeTo(self, table):
        self._mmr_check()
        return super().writeTo(table)

    @property
    def rdd(self):
        self._mmr_check()
        return super().rdd

    @property
    def write(self):
        self._mmr_check()
        return super().write


def guard_checkpoint_result(df: DataFrame) -> DataFrame:
    """Wrap a builder's returned frame when its plan depends on tracked
    localCheckpoint blocks, so stale-handle misuse fails with an
    explanatory driver-side error instead of a missing-block crash."""
    return CheckpointBackedDataFrame(df, _EPOCH)


def _persistent_rdd_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in jmap.keySet().toArray()}


def _local_checkpoint(
    df: DataFrame, eager: bool
) -> tuple[DataFrame, list[tuple[object, int]]]:
    """``df.localCheckpoint(eager)`` and the (session, rdd_id) pairs of
    the block caches it registered.

    localCheckpoint materializes into RDD block caches that the
    CacheManager doesn't know about — DataFrame.unpersist can't reach
    them, and they otherwise live until the ContextCleaner happens to
    GC the RDD. The ids are diffed around the checkpoint call (builders
    are single-threaded, so the diff is exactly this checkpoint's)."""
    spark = df.sparkSession
    before = _persistent_rdd_ids(spark)
    out = df.localCheckpoint(eager=eager)
    return out, [(spark, rid) for rid in _persistent_rdd_ids(spark) - before]


def _unpersist(rids, blocking: bool = False) -> int:
    """RDD-level unpersist of (session, rdd_id) pairs; returns how many
    were still resident."""
    n = 0
    for spark, rid in rids:
        try:
            jrdd = spark.sparkContext._jsc.getPersistentRDDs().get(rid)
            if jrdd is not None:
                jrdd.unpersist(blocking)
                n += 1
        except Exception:
            pass  # session stopped or blocks already evicted
    return n


def tracked_persist(df: DataFrame, level: Optional[StorageLevel] = None) -> DataFrame:
    """``df.persist()`` + enrol the relation for later release."""
    out = df.persist(level) if level is not None else df.persist()
    _TRACKED.append(out)
    return out


def tracked_local_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint()`` + enrol its cached RDD blocks for
    release."""
    out, rids = _local_checkpoint(df, eager)
    _TRACKED_RDD_IDS.extend(rids)
    return out


def release_tracked(blocking: bool = False) -> int:
    """Unpersist every tracked relation; returns how many were released.

    Safe to call at any top-of-build or post-action point: unpersisting
    an already-unpersisted or stopped-session DataFrame is a no-op /
    swallowed error.
    """
    global _EPOCH
    _EPOCH += 1
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:
            pass  # session stopped or cache already evicted
    n += _unpersist(_TRACKED_RDD_IDS, blocking)
    _TRACKED_RDD_IDS.clear()
    return n


def tracked_count() -> int:
    return len(_TRACKED) + len(_TRACKED_RDD_IDS)


# --------------------------------------------------------------------------
# Named result memos (VERDICT r6 task 5)
# --------------------------------------------------------------------------

#: name -> (key, lazily checkpointed result frame, its RDD block ids,
#: the epoch it was last seeded or served in). Result memos live
#: OUTSIDE the release ledger on purpose: the jaccard
#: connected-components labels are consumed by THREE top-level queries
#: (dedup_components, cluster_aware_split, dedup_cluster_keep_best),
#: and the per-build release_tracked() would otherwise force each to
#: recompute the full CC pass. One policy serves all four memos: a miss
#: registers ``build().localCheckpoint(eager=False)`` and runs no job of
#: its own — the first consumer's action fills the blocks (any action over the
#: frame, ``limit`` included, completes the checkpoint). An entry is
#: served while its checkpoint is filled, or within the build that
#: seeded it (same epoch, lineage intact); an unfilled entry from an
#: earlier epoch is evicted, because its lineage can read tracked
#: checkpoint blocks that release_tracked() has since dropped (after an
#: ``explain``, or any build whose action never ran). That rule is
#: defensive: no input is known on which serving the stale entry fails.
#: Measured, a copy without it still matched the oracle at sf0.001 and
#: sf0.01 and differed only in the recorded memo outcome. The suspected
#: reason, not verified: the entry's action reads the shuffle output of
#: the AQE stages that already ran at build time, not the dropped
#: blocks. Residency stays
#: bounded: one checkpoint per memo name (a key change replaces the
#: entry, and unpersists it unless the current build seeded or was
#: served it), and every memoized relation is label-sized — never text
#: or token arrays. At cluster scale the same memo would be a reliable
#: checkpoint (HDFS/S3) instead of executor-local blocks so an executor
#: loss can't invalidate it.
_RESULT_MEMO: dict[str, tuple[str, DataFrame, list[tuple[object, int]], int]] = {}
#: per-name hit/miss counters (the perfbench memo metrics read them)
_MEMO_STATS: dict[str, dict] = {}


def _memo_session_state(df: DataFrame) -> str:
    """Classify a memo entry's owning session: ``"ok"`` (the process's
    active session — safe to serve), ``"stale"`` (alive but not the
    active session, e.g. a second concurrent session or a thread where
    the thread-scoped ``getActiveSession()`` returns None — do NOT
    serve, but also do NOT unpersist: an earlier caller in the owning
    session may still hold the handle, and unpersisting a live
    session's localCheckpoint blocks crashes it with a missing-block
    error), or ``"dead"`` (stopped — blocks are gone, evict freely).
    Same hazard family the _SCHEMA_CACHE in sources/tables.py guards
    with ``hit[0] is spark``; here the caller's session isn't a
    parameter, so compare against the active session and treat doubt
    as a miss (rebuild is always correct, just slower)."""
    from pyspark.sql import SparkSession

    try:
        sess = df.sparkSession
        if sess.sparkContext._jsc is None:  # session stopped
            return "dead"
        active = SparkSession.getActiveSession()
        return "ok" if active is sess else "stale"
    except Exception:
        return "dead"


def _memo_filled(rids) -> bool:
    """Whether a consumer's action has filled the memo's checkpoint."""
    try:
        for spark, rid in rids:
            jrdd = spark.sparkContext._jsc.getPersistentRDDs().get(rid)
            if jrdd is not None and jrdd.isCheckpointed():
                return True
    except Exception:
        pass
    return False


def peek_result_memo(name: str, key: str) -> DataFrame | None:
    """The memoized frame for (name, key) if it can be served, else
    None — never builds anything. This is the lookup both kinds of
    consumer share: :func:`memoized_result_checkpoint` seeds the memo
    on a miss, while a consumer whose plain plan is already optimal
    peeks and runs that plan on a miss. An entry whose session has died
    is unpersisted and evicted; one owned by a live non-active session
    is a miss and stays; an unfilled one from an earlier epoch is
    unpersisted and evicted. A hit stamps the entry with the current
    epoch, as read by this build. The outcome (``"hit"``, ``"miss"`` or
    ``"unfilled-evicted"``) goes into the current build's decision
    record under ``"memo"`` — the first lookup of a name in a build
    wins."""
    outcome = "miss"
    entry = _RESULT_MEMO.get(name)
    if entry is not None:
        entry_key, df, rids, epoch = entry
        state = _memo_session_state(df)
        if state == "dead":
            _unpersist(rids)
            del _RESULT_MEMO[name]
        elif state == "ok" and epoch != _EPOCH and not _memo_filled(rids):
            _unpersist(rids)
            del _RESULT_MEMO[name]
            outcome = "unfilled-evicted"
        elif state == "ok" and entry_key == key:
            outcome = "hit"
            _RESULT_MEMO[name] = (entry_key, df, rids, _EPOCH)
            _MEMO_STATS.setdefault(name, {"key": key, "hits": 0, "misses": 0})["hits"] += 1
    decisions.record().setdefault("memo", {}).setdefault(name, outcome)
    return entry[1] if outcome == "hit" else None


def memoized_result_checkpoint(name: str, key: str, build) -> DataFrame:
    """The memoized frame for (name, key); on a miss, ``build()``
    registered as a lazy local checkpoint that the first consumer's
    action fills. Once filled, the frame's lineage is truncated, so it
    stays valid across release_tracked() epochs until the memo itself
    is evicted (key change, dead session, or release_result_memos)."""
    hit = peek_result_memo(name, key)
    if hit is not None:
        return hit
    stats = _MEMO_STATS.setdefault(name, {"key": key, "hits": 0, "misses": 0})
    stats["key"] = key
    stats["misses"] += 1
    # a replaced entry this build neither seeded nor read has no live
    # reader, so its blocks go; one it did, or a non-active session's,
    # keeps them, since a consumer may still hold it — a bounded leak
    old = _RESULT_MEMO.pop(name, None)
    if old is not None and old[3] != _EPOCH and _memo_session_state(old[1]) == "ok":
        _unpersist(old[2])
    out, rids = _local_checkpoint(build(), eager=False)
    _RESULT_MEMO[name] = (key, out, rids, _EPOCH)
    return out


def release_result_memos(blocking: bool = False) -> int:
    """Evict every named result memo (bench cold runs, cache-hygiene
    tests). Bumps the epoch so any guarded handle built on a released
    memo fails fast instead of hitting a missing-block crash."""
    global _EPOCH
    if not _RESULT_MEMO:
        return 0
    _EPOCH += 1
    n = len(_RESULT_MEMO)
    _unpersist([r for _k, _df, rids, _e in _RESULT_MEMO.values() for r in rids], blocking)
    _RESULT_MEMO.clear()
    return n


def result_memo_stats(name: str) -> dict | None:
    """Hit/miss counters for one memo name."""
    s = _MEMO_STATS.get(name)
    return dict(s) if s is not None else None
