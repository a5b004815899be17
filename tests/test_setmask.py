"""The set-compare encoding of the five dedup verify sites
(operators/dedup.py, ``_set_compare``) and the literal-rows helper
(functions/rows.py).

Each verify site asks ``_set_compare`` for its two join sides and the
intersection size ``c``. One memoized decision per (corpus, site)
collects at most SETMASK_MAX_VOCAB + 1 distinct token ids and picks:

* the EXACT branch (vocabulary at or under the cap): dense-rank bit
  positions, c = popcount(a & b) over ceil(n/64) words;
* the HASHED branch (over the cap, or MMR_SETMASK=off): the exact
  array_intersect, CASE-guarded at the |G|²-candidate sites by a
  pmod(id, 1024) bitmap upper bound on |A∩B|.

What needs coverage:

* off (hashed) and auto (exact) return the same rows at all five sites,
  on the 31-token corpus (W = 1) and on a ~90-token corpus (W = 2);
* the hashed branch matches the DuckDB oracle at every oracle-bearing
  site, and the W = 2 exact branch does too;
* the cap boundary: exactly SETMASK_MAX_VOCAB ids is exact, one more is
  hashed; the kill switch forces hashed;
* bit positions cross the 64-bit word boundary correctly;
* the union bound is an upper bound however ids collide, and the
  guard's −1 sentinel never passes a threshold;
* an id outside the collected vocabulary raises instead of setting no
  bit.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

import multithreaded_mapreduce_spark.operators.dedup as dd
from multithreaded_mapreduce_spark.plans.caching import (
    release_result_memos,
    release_tracked,
)
from multithreaded_mapreduce_spark.plans.registry import all_queries
from multithreaded_mapreduce_spark.sources.tables import TABLES, table_path

from .conftest import SF_DIR
from .oracle import compare_query

_Q = all_queries()

#: one query per verify site (dedup_jaccard_pairs and dedup_components
#: share the nested group cross)
_SITE_QUERIES = [
    "dedup_jaccard_pairs", "dedup_components", "dedup_containment",
    "dedup_minhash_verified", "dedup_minhash_lsh", "dedup_incremental_neardup",
]


@pytest.fixture(scope="module")
def wide_vocab_dir(tmp_path_factory, spark) -> str:
    """sf0.001 with documents rewritten over a ~90-token vocabulary so
    the exact branch lands on W = 2 words — near-dup structure is
    preserved (clone pairs per base doc) so the pair relations are
    non-trivial."""
    d = str(tmp_path_factory.mktemp("wide_vocab_sf"))
    for t in TABLES:
        if t != "documents":
            shutil.copyfile(table_path(SF_DIR, t), table_path(d, t))
    schema = spark.read.parquet(table_path(SF_DIR, "documents")).schema
    rows = []
    did = 0
    for base in range(30):
        toks = [f"w{(base * 7 + j) % 90}" for j in range(12)]
        text = " ".join(toks)
        near = " ".join(toks[:11] + [f"w{(base * 7) % 90}"])  # ~0.85 jaccard
        for s in (text, text, near):  # exact dup + near dup per base
            rows.append((did, s, "en", f"src{did % 20}", len(s)))
            did += 1
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "_docs_tmp"))
    part = next(
        f for f in os.listdir(os.path.join(d, "_docs_tmp")) if f.endswith(".parquet")
    )
    shutil.copyfile(os.path.join(d, "_docs_tmp", part), table_path(d, "documents"))
    return d


def _snapshot(spark, name: str, sf_dir: str):
    release_tracked()
    release_result_memos()
    spark.catalog.clearCache()
    return sorted(tuple(r) for r in _Q[name].builder(spark, sf_dir).collect())


def _off_auto(spark, name: str, sf_dir: str, monkeypatch):
    monkeypatch.setenv("MMR_SETMASK", "off")
    dd._ENCODING_DECISION_CACHE.clear()
    off = _snapshot(spark, name, sf_dir)
    assert dd.LAST_ENCODING_DECISION["exact"] is False
    monkeypatch.setenv("MMR_SETMASK", "auto")
    dd._ENCODING_DECISION_CACHE.clear()
    on = _snapshot(spark, name, sf_dir)
    assert dd.LAST_ENCODING_DECISION["exact"], dd.LAST_ENCODING_DECISION
    return off, on


@pytest.mark.parametrize("name", _SITE_QUERIES)
def test_off_auto_identity_narrow(spark, name, monkeypatch):
    """31-token corpus: the W = 1 exact branch and the hashed branch
    return the identical row multiset — the encoding is a pure plan
    decision."""
    off, on = _off_auto(spark, name, SF_DIR, monkeypatch)
    assert dd.LAST_ENCODING_DECISION["n_words"] == 1, dd.LAST_ENCODING_DECISION
    assert off == on
    assert len(on) > 0


@pytest.mark.parametrize(
    "name",
    ["dedup_jaccard_pairs", "dedup_minhash_verified", "dedup_components",
     "dedup_containment", "dedup_incremental_neardup", "dedup_minhash_lsh"],
)
def test_multiword_mask_off_on_identity(spark, wide_vocab_dir, name, monkeypatch):
    """W = 2 exact branch returns the identical row multiset as the
    hashed branch."""
    off, on = _off_auto(spark, name, wide_vocab_dir, monkeypatch)
    assert dd.LAST_ENCODING_DECISION["n_words"] >= 2, dd.LAST_ENCODING_DECISION
    assert off == on
    assert len(on) > 0  # the fixture plants real dup/near-dup pairs


def test_multiword_mask_oracle_parity(spark, wide_vocab_dir):
    """The W = 2 exact branch also matches the registered DuckDB oracle
    (value hash, not just self-consistency)."""
    dd._ENCODING_DECISION_CACHE.clear()
    for name in ("dedup_jaccard_pairs", "dedup_minhash_verified"):
        compare_query(spark, wide_vocab_dir, _Q[name].builder, _Q[name].oracle)
    assert dd.LAST_ENCODING_DECISION["exact"]


@pytest.mark.parametrize(
    "name",
    ["dedup_jaccard_pairs", "dedup_components", "dedup_containment",
     "dedup_minhash_verified", "dedup_incremental_neardup"],
)
def test_hashed_branch_oracle_parity(spark, name, monkeypatch):
    """Every oracle-bearing site on the hashed branch (the real-corpus
    branch: guarded intersect at the cross/containment sites, plain
    intersect at the banding sites) matches DuckDB."""
    monkeypatch.setenv("MMR_SETMASK", "off")
    release_tracked()
    release_result_memos()
    compare_query(spark, SF_DIR, _Q[name].builder, _Q[name].oracle)
    assert dd.LAST_ENCODING_DECISION.get("forced") == "off"


def test_sampled_variants_identical(spark, monkeypatch):
    """The eval-sampled pair relation takes the exact branch like the
    full one (every exact bitmap is a pure projection), under a
    decision keyed by the sample modulus, and equals the hashed
    branch's output."""
    monkeypatch.setattr(dd, "EVAL_SAMPLE_TARGET_DOCS", 100)  # force k > 1
    dd._EVAL_SAMPLE_CACHE.clear()

    def eval_pairs_rows():
        release_tracked()
        release_result_memos()
        spark.catalog.clearCache()
        return sorted(tuple(r) for r in dd._eval_pairs(spark, SF_DIR).collect())

    monkeypatch.setenv("MMR_SETMASK", "off")
    dd._ENCODING_DECISION_CACHE.clear()
    off = eval_pairs_rows()
    monkeypatch.setenv("MMR_SETMASK", "auto")
    dd._ENCODING_DECISION_CACHE.clear()
    on = eval_pairs_rows()
    assert off == on and len(on) > 0
    k = dd._eval_sample_decision(spark, SF_DIR)["modulus"]
    assert k > 1
    sampled = [
        d for (_s, site), d in dd._ENCODING_DECISION_CACHE.items()
        if site == f"jaccard_groupssample{k}"
    ]
    assert sampled and all(d["exact"] for d in sampled), sampled


def test_cap_and_kill_switch_disengage(spark, monkeypatch):
    """Exactly SETMASK_MAX_VOCAB distinct ids take the exact branch at
    full width; one more id takes the hashed branch; MMR_SETMASK=off
    forces the hashed branch without measuring."""
    assert dd.SETMASK_MAX_VOCAB == 64 * dd.BITMAP_WORDS == 1024
    monkeypatch.setenv("MMR_SETMASK", "off")
    dd._ENCODING_DECISION_CACHE.clear()
    d = dd._encoding_decision(SF_DIR, spark.range(3).select(F.col("id")), "t1")
    assert d["exact"] is False and d.get("forced") == "off"
    assert not dd._ENCODING_DECISION_CACHE
    monkeypatch.setenv("MMR_SETMASK", "auto")
    cap = dd.SETMASK_MAX_VOCAB
    d = dd._encoding_decision(SF_DIR, spark.range(cap).select(F.col("id")), "t_cap")
    assert d["exact"] and d["n_vocab"] == cap and d["n_words"] == dd.BITMAP_WORDS
    assert d["vocab"] == list(range(cap))
    d = dd._encoding_decision(SF_DIR, spark.range(cap + 1).select(F.col("id")), "t_over")
    assert d["exact"] is False and d["n_vocab"] == cap + 1
    assert d["n_words"] == dd.BITMAP_WORDS and d["vocab"] is None


def _sets_df(spark, sets):
    return spark.createDataFrame(sets, "sid long, toks array<long>").select(
        "sid", "toks", F.size("toks").alias("n")
    )


def test_mask_words_cover_vocab_boundaries(spark):
    """Bit assignment fills both 64-bit words exactly: 128 ids -> W = 2
    with no spare bit (a shifted position would fall off the end), and
    sets spanning the word boundary intersect exactly."""
    dd._ENCODING_DECISION_CACHE.clear()
    rel = _sets_df(spark, [(1, list(range(128))), (2, list(range(60, 128)))])
    a, b, c = dd._set_compare(
        SF_DIR, rel, "toks", "t_boundary", {"sid": "s{}", "n": "n{}"}
    )
    d = dd.LAST_ENCODING_DECISION
    assert d["exact"] and d["n_words"] == 2 and d["vocab"] == list(range(128))
    got = {
        (r.sa, r.sb): r.c
        for r in a.crossJoin(b).select("sa", "sb", c.alias("c")).collect()
    }
    assert got == {(1, 1): 128, (1, 2): 68, (2, 1): 68, (2, 2): 68}


def test_out_of_vocabulary_id_raises(spark):
    """An id missing from the collected vocabulary fails loudly (the
    exact branch never drops it as a missing bit)."""
    dd._ENCODING_DECISION_CACHE.clear()
    dd._encoding_decision(SF_DIR, spark.range(1, 4).select(F.col("id")), "t_oov")
    rel = _sets_df(spark, [(1, [1, 2]), (2, [2, 3, 4])])
    a, b, c = dd._set_compare(SF_DIR, rel, "toks", "t_oov", {"sid": "s{}", "n": "n{}"})
    with pytest.raises(Exception, match="outside the vocabulary"):
        a.crossJoin(b).select(c.alias("c")).collect()


def test_union_bound_is_exact_upper_bound_under_collisions(spark):
    """Ids that collide in the 1024-bit hashed bitmap: for every pair,
    na + nb − popcount(bm_a|bm_b) >= |A∩B| — collisions only raise the
    bound."""
    nbits = 64 * dd.BITMAP_WORDS
    sets = [
        (1, [i * nbits for i in range(40)]),  # all 40 ids share bit 0
        (2, [i * nbits for i in range(20)] + [i * 131 + 7 for i in range(20)]),
        (3, [i * 131 + 7 for i in range(40)]),
        (4, list(range(nbits))),              # saturates every word
        (5, [-(i * 97) for i in range(40)]),  # negative ids → pmod path
    ]
    df = _sets_df(spark, sets).select("*", *dd._bitmap_cols("toks", "_p"))

    def side(s):
        return df.select(
            F.col("toks").alias(f"t{s}"), F.col("n").alias(f"n{s}"),
            *[F.col(f"_p{w}").alias(f"_p{s}{w}") for w in range(dd.BITMAP_WORDS)],
        )

    rows = (
        side("a").crossJoin(side("b"))
        .select(
            dd._bitmap_intersect_ub("_pa", "_pb").alias("ub"),
            F.size(F.array_intersect("ta", "tb")).alias("c"),
        )
        .collect()
    )
    assert len(rows) == 25 and all(r.ub >= r.c for r in rows), rows
    assert any(r.ub > r.c for r in rows)  # the collisions are real


def test_guard_sentinel_never_reaches_threshold(spark):
    """_bitmap_guard's −1 sentinel: the jaccard and containment ratios
    on c = −1 are strictly negative, and the integer threshold filters
    the sites actually run reject it."""
    df = spark.createDataFrame([(10, 12, -1)], "na int, nb int, c int").select(
        (F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))).alias("jac"),
        (F.col("c").cast("double") / F.col("na")).alias("cont"),
        dd._jaccard_ge_int(dd.JACCARD_THRESHOLD).alias("jac_keep"),
        dd._ratio_ge_int("c", F.col("na"), dd.CONTAINMENT_THRESHOLD).alias("cont_keep"),
    )
    r = df.first()
    assert r.jac < 0 and r.cont < 0
    assert r.jac_keep is False and r.cont_keep is False


def test_literal_rows_df_roundtrip(spark):
    from multithreaded_mapreduce_spark.functions.rows import literal_rows_df

    rows = [(1, "a", 1.5), (2, None, -0.0), (None, "", 2.0)]
    df = literal_rows_df(spark, rows, "i int, s string, x double")
    assert df.schema.simpleString() == "struct<i:int,s:string,x:double>"
    got = [(r.i, r.s, r.x) for r in df.collect()]
    assert got == rows
    # no Python-RDD scan in the plan (the point of the helper)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    empty = literal_rows_df(spark, [], "i int, s string, x double")
    assert empty.count() == 0 and empty.columns == ["i", "s", "x"]
