"""The md5-uniform QUERY-SET sample for ann_recall_report (VERDICT r8
task 3 — the last prose-only scale knob): ground truth is an exact
full-corpus scan per query, so at corpus scale the eval runs on a
deterministic 1-in-k sample of the query vectors, mirrored verbatim in
the oracle. Same contract as the dedup document eval-sample
(tests/test_eval_sample.py): (a) identity at or under the target,
(b) bit-parity of the forced-sampled path against the forced-sampled
oracle, (c) the restriction property (sampled report == full report
restricted to sampled query_ids — exact per-query independence),
(d) the sampled id set agreeing with a pure-python third opinion."""

from __future__ import annotations

import hashlib

import multithreaded_mapreduce_spark.operators.similarity as sim
from multithreaded_mapreduce_spark.plans import decisions
from multithreaded_mapreduce_spark.plans.registry import all_queries
from multithreaded_mapreduce_spark.plans.verification import (
    compare_query,
    duck_connection,
    rows_multiset,
)

Q = all_queries()

FORCED_TARGET = 3  # 10 query vectors -> k = 4 -> a real 1-in-4 draw


def _multiset(df):
    return rows_multiset(list(df.columns), [tuple(r) for r in df.collect()])


def _sampled_query_ids(k: int) -> set[int]:
    """Pure-python recomputation of the md5-prefix query draw."""
    return {
        i
        for i in range(sim.N_QUERIES)
        if int(hashlib.md5(f"annquery:{i}".encode()).hexdigest()[:8], 16) % k == 0
    }


def test_identity_under_target(spark, sf_dir):
    """With the default target (64) the 10-query registered set is
    never sampled: decision disengaged, and the report is bit-equal to
    composing the two production builders with no predicate."""
    d = sim._ann_eval_decision(spark, sf_dir)
    assert d["modulus"] == 1 and not d["engaged"]
    assert d["n_queries"] == sim.N_QUERIES
    assert _multiset(Q["ann_recall_report"].builder(spark, sf_dir)) == _multiset(
        sim.ann_recall_report(spark, sf_dir, eval_target=10**9)
    )


def test_modulus_integer_ceil_matches_oracle(spark, sf_dir):
    """k = ceil(n_queries/target) by integer math — Spark probe and
    oracle CTE agree for targets around the 10-vector query set."""
    con = duck_connection(sf_dir)
    for t, expect in ((1, 10), (3, 4), (5, 2), (9, 2), (10, 1), (11, 1)):
        d = sim._ann_eval_decision(spark, sf_dir, target=t)
        assert d["modulus"] == expect, (t, d)
        (k_duck,) = con.execute(
            f"SELECT greatest(1, (count(*) + {t} - 1) // {t}) "
            f"FROM embeddings WHERE vec_id < {sim.N_QUERIES}"
        ).fetchone()
        assert int(k_duck) == expect, (t, k_duck)
    con.close()


def test_decision_is_memoized_per_corpus(spark, sf_dir):
    first = sim._ann_eval_decision(spark, sf_dir, target=FORCED_TARGET)
    again = sim._ann_eval_decision(spark, sf_dir, target=FORCED_TARGET)
    assert again is first
    assert decisions.record()["ann_eval"] is first


def test_sampled_query_ids_match_python_md5(spark, sf_dir):
    """Third-engine check: the query ids the sampled report covers are
    exactly the pure-python md5-prefix draw — and the draw is a real
    subset (neither empty nor everything) at the forced target."""
    rep = sim.ann_recall_report(spark, sf_dir, eval_target=FORCED_TARGET)
    got = {r.query_id for r in rep.select("query_id").distinct().collect()}
    k = sim._ann_eval_decision(spark, sf_dir, target=FORCED_TARGET)["modulus"]
    expect = _sampled_query_ids(k)
    assert got == expect
    assert 0 < len(got) < sim.N_QUERIES


def test_forced_sample_parity_and_restriction(spark, sf_dir):
    """Forced sampling (k=4): the Spark sampled report matches the
    sampled oracle bit-for-bit AND equals the full report restricted
    to the sampled query ids (exact kNN is per-query independent, so
    restriction must hold exactly, unlike an approximation)."""
    compare_query(
        spark,
        sf_dir,
        lambda s, d: sim.ann_recall_report(s, d, eval_target=FORCED_TARGET),
        sim._ann_recall_oracle(FORCED_TARGET),
    )
    k = sim._ann_eval_decision(spark, sf_dir, target=FORCED_TARGET)["modulus"]
    keep = _sampled_query_ids(k)
    full = Q["ann_recall_report"].builder(spark, sf_dir)
    restricted = full.filter(full["query_id"].isin(*keep))
    sampled = sim.ann_recall_report(spark, sf_dir, eval_target=FORCED_TARGET)
    assert _multiset(sampled) == _multiset(restricted)


def test_registered_sampled_twin_engages_and_matches_oracle(spark, sf_dir):
    """VERDICT r9 task 6: the registered ann_recall_report_sampled
    entry must (a) exist with an oracle so the DRIVER certifies the
    engaged branch, (b) actually engage (k > 1), and (c) hash-match
    its forced-target oracle."""
    q = Q["ann_recall_report_sampled"]
    assert q.oracle is not None
    compare_query(spark, sf_dir, q.builder, q.oracle)
    d = sim._ann_eval_decision(
        spark, sf_dir, target=sim.ANN_EVAL_FORCED_TARGET
    )
    assert d["engaged"] and d["modulus"] > 1
