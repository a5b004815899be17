"""Algorithm-quality checks for the approximate dedup paths, measured
against the exact Jaccard query (the oracle-checked ground truth)."""

from __future__ import annotations

import pytest

from multithreaded_mapreduce_spark.plans import decisions
from multithreaded_mapreduce_spark.plans.registry import all_queries

Q = all_queries()


def _pairs(df, a="doc_a", b="doc_b"):
    return {(r[a], r[b]) for r in df.collect()}


def test_minhash_lsh_is_sound_and_recalls(spark, sf_dir):
    """LSH output is verified-Jaccard, so it must be a subset of the exact
    pairs; with 4 bands × 4 rows, recall at j>=0.8 should be high."""
    exact = _pairs(Q["dedup_jaccard_pairs"].builder(spark, sf_dir))
    lsh = _pairs(Q["dedup_minhash_lsh"].builder(spark, sf_dir))
    assert lsh <= exact, f"LSH produced non-near-dup pairs: {sorted(lsh - exact)[:5]}"
    if exact:
        recall = len(lsh) / len(exact)
        assert recall >= 0.5, f"LSH recall too low: {recall:.2f} ({len(lsh)}/{len(exact)})"


def test_lsh_auto_hot_bucket_engages_on_boilerplate(spark, tmp_path):
    """A boilerplate corpus puts one near-duplicate clique into a single
    hot band bucket: the plain band self-join still finds the clique,
    and every pair it verifies is an exact Jaccard pair."""
    # 120 near-identical boilerplate docs (30 shared tokens + 1 unique
    # each → pairwise jaccard 30/32 ≈ 0.94, distinct token SETS so the
    # identical-set collapse can't merge them) + 60 fully distinct docs
    base = " ".join(f"tok{i}" for i in range(30))
    rows = [(i, f"{base} uniq{i}") for i in range(120)]
    rows += [
        (1000 + i, " ".join(f"z{i}x{j}" for j in range(12))) for i in range(60)
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    fixture_dir = str(tmp_path)
    lsh = _pairs(Q["dedup_minhash_lsh"].builder(spark, fixture_dir))
    exact = _pairs(Q["dedup_jaccard_pairs"].builder(spark, fixture_dir))
    assert len(lsh) >= 100  # the boilerplate clique is actually found
    assert lsh <= exact, sorted(lsh - exact)[:5]


def test_minhash_verified_subset_of_exact_with_high_recall(spark, sf_dir):
    """dedup_minhash_verified verifies exact Jaccard on its candidates,
    so its pairs ⊆ the exact pairs; 8 bands × 2 rows recalls nearly all
    j>=0.8 pairs (VERDICT r2 task 6: candidate superset + verify parity)."""
    exact = _pairs(Q["dedup_jaccard_pairs"].builder(spark, sf_dir))
    verified = _pairs(Q["dedup_minhash_verified"].builder(spark, sf_dir))
    assert verified <= exact, f"non-near-dup pairs: {sorted(verified - exact)[:5]}"
    if exact:
        recall = len(verified) / len(exact)
        assert recall >= 0.9, f"recall too low: {recall:.2f}"


def test_simhash_catches_identical_token_sets(spark, sf_dir):
    """Docs with identical distinct-token sets (jaccard == 1.0) have equal
    SimHash fingerprints → Hamming 0 → must be reported."""
    jac = Q["dedup_jaccard_pairs"].builder(spark, sf_dir)
    identical = {(r.doc_a, r.doc_b) for r in jac.collect() if r.jaccard == 1.0}
    sim = _pairs(Q["dedup_simhash"].builder(spark, sf_dir))
    missed = identical - sim
    assert not missed, f"SimHash missed identical-token-set pairs: {sorted(missed)[:5]}"


def test_simhash_verified_catches_identical_token_sets(spark, sf_dir):
    """Identical distinct-token sets get identical arithmetic-hash
    fingerprints → Hamming 0 → must be reported by the verified variant."""
    jac = Q["dedup_jaccard_pairs"].builder(spark, sf_dir)
    identical = {(r.doc_a, r.doc_b) for r in jac.collect() if r.jaccard == 1.0}
    sim = _pairs(Q["dedup_simhash_verified"].builder(spark, sf_dir))
    missed = identical - sim
    assert not missed, f"missed identical-token-set pairs: {sorted(missed)[:5]}"


def test_exact_dedup_covers_all_docs(spark, sf_dir):
    """Σ n_copies over dup groups == total docs; keep ids are distinct."""
    df = Q["dedup_exact"].builder(spark, sf_dir)
    rows = df.collect()
    total = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_copies for r in rows) == total
    keeps = [r.keep_doc_id for r in rows]
    assert len(keeps) == len(set(keeps))


def test_exact_substr_detects_planted_shared_token_run(spark, tmp_path):
    """The token-grid guarantee: any verbatim shared run of >=
    SPAN_TOKENS tokens is detected on both sharing documents, even at
    different char offsets and with different whitespace; a unique-text
    document reports zero duplicated spans."""
    from multithreaded_mapreduce_spark.operators.dedup import SPAN_TOKENS

    shared = " ".join(f"sh{i}" for i in range(SPAN_TOKENS))  # exactly 8 tokens
    rows = [
        (1, "unique prefix aaa " + shared + " unique suffix one tail"),
        # different char offset AND tab/multi-space separators inside
        # the shared run — the token grid must still align
        (2, "different longer lead-in zz " + shared.replace(" sh3 ", "  sh3\t") + " other end"),
        (3, "this document shares nothing with the others at all; " * 2),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in Q["dedup_exact_substr"].builder(spark, str(tmp_path)).collect()
    }
    assert out[1].dup_spans >= 1 and out[2].dup_spans >= 1, out
    assert out[3].dup_spans == 0
    for r in out.values():
        assert 0 <= r.dup_spans <= r.n_spans
        assert abs(r.dup_frac - round(r.dup_spans / r.n_spans, 6)) < 1e-9


def test_winnowing_guarantee_and_density(spark, tmp_path):
    """Winnowing's theorem on a planted fixture: a shared run of
    k+w-1 tokens yields a common fingerprint in both documents at any
    offset; a disjoint-vocabulary document shares nothing; and the
    fingerprint density is below ExactSubstr's every-position spans."""
    from multithreaded_mapreduce_spark.operators.dedup import WINNOW_K, WINNOW_W

    t = WINNOW_K + WINNOW_W - 1
    shared = " ".join(f"run{i}" for i in range(t))
    rows = [
        (1, "lead a b " + shared + " tail c d e f"),
        (2, "completely different and longer prefix words " + shared + " zz"),
        (3, " ".join(f"solo{i}" for i in range(30))),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in Q["winnowing_fingerprints"].builder(spark, str(tmp_path)).collect()
    }
    assert out[1].shared_fps >= 1 and out[2].shared_fps >= 1, out
    assert out[3].shared_fps == 0
    sub = {
        r.doc_id: r
        for r in Q["dedup_exact_substr"].builder(spark, str(tmp_path)).collect()
    }
    for i in (1, 2, 3):
        assert out[i].n_fps <= sub[i].n_spans, (i, out[i].n_fps, sub[i].n_spans)
        assert 0 <= out[i].shared_fps <= out[i].n_fps


def test_containment_catches_jaccard_invisible_subsets(spark, tmp_path):
    """Hand fixture: a 3-token doc fully inside an 11-token doc is
    invisible to jaccard >= 0.8 (3/11) but must appear in the directed
    containment output at 1.0; near-equal sets appear BOTH ways."""
    a = " ".join(f"t{i}" for i in range(10))          # 10 tokens
    b = a + " t10"                                     # superset, 11
    c = "t0 t1 t2"                                     # tiny subset
    spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r.contained_id, r.container_id): round(r.containment, 6)
        for r in Q["dedup_containment"].builder(spark, str(tmp_path)).collect()
    }
    assert got[(1, 2)] == 1.0                     # A ⊂ B
    assert got[(2, 1)] == round(10 / 11, 6)       # B ~⊂ A (0.909 >= 0.9)
    assert got[(3, 1)] == 1.0 and got[(3, 2)] == 1.0  # C ⊂ both
    assert (1, 3) not in got and (2, 3) not in got    # not the reverse
    # consistency with the exact jaccard set: every jaccard pair is
    # containment-covered in at least the smaller->larger direction
    exact = _pairs(Q["dedup_jaccard_pairs"].builder(spark, str(tmp_path)))
    for da, db in exact:
        assert (da, db) in got or (db, da) in got


def test_containment_paths_are_equivalent_and_auto_decides(spark, sf_dir):
    """The prefix-filter and nested-loop candidate paths must produce
    the identical directed pair set; the auto decision must pick the
    nested loop on this hot-vocabulary corpus (witness stream exceeds
    |G|^2) and memoize per corpus."""
    def triples(df):
        return sorted(tuple(r) for r in df.collect())

    with decisions.forced(containment={"use_prefix": True}):
        via_prefix = triples(Q["dedup_containment"].builder(spark, sf_dir))
    with decisions.forced(containment={"use_prefix": False}):
        via_nested = triples(Q["dedup_containment"].builder(spark, sf_dir))
    assert via_prefix == via_nested
    assert len(via_prefix) > 0
    decisions.clear()
    auto = triples(Q["dedup_containment"].builder(spark, sf_dir))
    assert auto == via_nested
    d = decisions.record()["containment"]
    assert d["use_prefix"] is (
        (d["witness_rows"] < d["nested_pairs"]) or d["nested_capped"]
    )
    # memoized: a second build reuses the stored decision
    Q["dedup_containment"].builder(spark, sf_dir)
    assert decisions.record()["containment"] is d


def test_containment_nested_cap_forces_prefix(spark, sf_dir, monkeypatch):
    """ADVICE r5: past the absolute group-count cap the nested loop is
    never selected, whatever the witness estimate says — the |G|²
    stream (and its broadcast) must stay bounded. With the cap forced
    to 1 group the auto decision must flip to the prefix path and
    still produce the identical pair set."""
    import multithreaded_mapreduce_spark.operators.dedup as dd

    def triples(df):
        return sorted(tuple(r) for r in df.collect())

    with decisions.forced(containment={"use_prefix": False}):
        via_nested = triples(Q["dedup_containment"].builder(spark, sf_dir))
    monkeypatch.setattr(dd, "_NESTED_MAX_GROUPS", 1)
    decisions.clear()
    capped = triples(Q["dedup_containment"].builder(spark, sf_dir))
    d = decisions.record()["containment"]
    decisions.clear()
    assert d["nested_capped"] is True
    assert d["use_prefix"] is True
    assert capped == via_nested


def test_jaccard_broadcast_guard_both_sides(spark, sf_dir, monkeypatch):
    """VERDICT r6 task 3: the pairwise broadcast path is gated on a
    MEASURED bytes estimate of the collapsed-group relation. Forced
    paths must agree; a 1-byte budget must flip the auto decision to
    the prefix filter (value-identical by construction — same integer
    c/na/nb feeding the same double), whose plan broadcasts no part of
    the group relation."""
    import multithreaded_mapreduce_spark.operators.dedup as dd

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    with decisions.forced(jaccard={"use_broadcast": True}):
        via_broadcast = rows(Q["dedup_jaccard_pairs"].builder(spark, sf_dir))
    with decisions.forced(jaccard={"use_broadcast": False}):
        via_prefix = rows(Q["dedup_jaccard_pairs"].builder(spark, sf_dir))
    assert via_broadcast == via_prefix
    assert len(via_broadcast) > 0
    # under the default budget this corpus broadcasts
    decisions.clear()
    auto = rows(Q["dedup_jaccard_pairs"].builder(spark, sf_dir))
    assert auto == via_broadcast
    assert decisions.record()["jaccard"]["use_broadcast"] is True
    assert decisions.record()["jaccard"]["est_bytes"] > 0
    # over budget: the decision flips, output is unchanged. Spark's own
    # size-based broadcast is off for this build, so only an explicit
    # broadcast hint could put the group relation in a broadcast.
    monkeypatch.setattr(dd, "_BROADCAST_BUDGET_BYTES", 1)
    decisions.clear()
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = Q["dedup_jaccard_pairs"].builder(spark, sf_dir)
        fallback = rows(df)
        broadcasts = _broadcast_outputs(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    d = decisions.record()["jaccard"]
    decisions.clear()
    assert d["use_broadcast"] is False
    assert fallback == via_broadcast
    # the group relation's array columns (members, toks_h under any
    # alias) never ride a broadcast; the token-frequency one may
    assert broadcasts, "expected the rarity-order freq broadcast"
    assert all(t != "array" for out in broadcasts for _, t in out), broadcasts


def _broadcast_outputs(df) -> list:
    """(name, type) outputs of every BroadcastExchange in ``df``'s
    executed plan (run an action first: AQE's final plan)."""
    out, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        p = stack.pop()
        name = p.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(p.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(p.plan())
            continue
        if name == "BroadcastExchange":
            attrs = p.output()
            out.append(
                [(attrs.apply(i).name(), attrs.apply(i).dataType().typeName())
                 for i in range(attrs.size())]
            )
        kids = p.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


@pytest.mark.parametrize("exact", [True, False], ids=["exact", "hashed"])
def test_jaccard_arms_and_prefix_filter_match_oracle(spark, sf_dir, exact):
    """Both arms of the ``jaccard`` site and dedup_prefix_filter (the
    prefix arm, run directly) match the DuckDB oracle under both
    set-compare encodings, on the full corpus and on the forced eval
    sample (the ``decision_tag`` variant)."""
    import multithreaded_mapreduce_spark.operators.dedup as dd
    from multithreaded_mapreduce_spark.plans.caching import (
        release_result_memos,
        release_tracked,
    )

    from .oracle import compare_query, duck_connection, rows_multiset

    target = 100  # 500 docs -> a 1-in-5 sample on the sf0.001 fixture
    encoding = {} if exact else {"encoding": {"exact": False}}
    sampled_sql = (
        "WITH " + dd._eval_sample_ctes(target=target)
        + ",\nep AS (" + dd._jaccard_pairs_oracle("sampled_documents")
        + ")\nSELECT * FROM ep"
    )
    con = duck_connection(sf_dir)
    tbl = con.execute(sampled_sql).fetch_arrow_table()
    con.close()
    sampled_oracle = rows_multiset(
        list(tbl.schema.names), [tuple(r.values()) for r in tbl.to_pylist()]
    )
    decisions.clear()
    for pairwise in (True, False):
        with decisions.forced(jaccard={"use_broadcast": pairwise}, **encoding):
            compare_query(
                spark, sf_dir, Q["dedup_jaccard_pairs"].builder, dd.JACCARD_ORACLE
            )
            assert decisions.record()["jaccard"]["use_broadcast"] is pairwise
            assert decisions.record()["encoding"]["exact"] is exact
            release_result_memos()
            release_tracked()
            sdf = dd._eval_pairs(spark, sf_dir, target=target)
            got = rows_multiset(list(sdf.columns), [tuple(r) for r in sdf.collect()])
            release_result_memos()
        assert got == sampled_oracle
        assert decisions.record()["eval_sample"]["modulus"] > 1
    with decisions.forced(**encoding):
        compare_query(
            spark, sf_dir, Q["dedup_prefix_filter"].builder, dd.JACCARD_ORACLE
        )
    rec = decisions.record()
    assert "jaccard" not in rec and rec["encoding"]["exact"] is exact
    decisions.clear()


def test_prefix_arm_keeps_a_pair_at_exactly_the_threshold(spark, tmp_path):
    """A pair at J = 28/35 = 0.8 with na + nb = 63, whose first shared
    token bounds the overlap at exactly 28: the positional prune must
    keep it. As a double, 0.8/1.8 · 63 is 28.000000000000004, so a
    float-ceil bound of 29 dropped this pair (one such pair sits in the
    seed-1 Zipf benchmark corpus)."""
    shared = [f"s{i}" for i in range(28)]
    docs = [
        (0, " ".join(shared + [f"a{i}" for i in range(4)])),  # 4 rarer tokens first
        (1, " ".join(shared + [f"b{i}" for i in range(3)])),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    fixture_dir = str(tmp_path)

    def rows(name):
        return [tuple(r) for r in Q[name].builder(spark, fixture_dir).collect()]

    for pairwise in (True, False):
        with decisions.forced(jaccard={"use_broadcast": pairwise}):
            assert rows("dedup_jaccard_pairs") == [(0, 1, 0.8)], pairwise
    assert rows("dedup_prefix_filter") == [(0, 1, 0.8)]


def test_ngram_df_cut_noop_when_no_shingle_crosses(spark, sf_dir):
    """VERDICT r5 task 4: on a corpus where no shingle's doc frequency
    crosses NUM/DEN of the docs (the production sf fixtures — word-soup
    trigram diversity keeps every df tiny), the df-cut must be a pure
    no-op: pair-set equality with the cut disabled."""

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    with_cut = rows(Q["dedup_ngram_jaccard"].builder(spark, sf_dir))
    with decisions.forced(ngram_dfcut={"engage": False}):
        without = rows(Q["dedup_ngram_jaccard"].builder(spark, sf_dir))
    assert with_cut == without
    assert len(with_cut) > 0


def test_ngram_df_cut_fires_on_boilerplate_and_matches_oracle(spark, tmp_path):
    """When a boilerplate phrase rides in EVERY document, its shingles
    alone push unrelated docs over the 0.5 jaccard bar (3 shared of 5
    shingles = 0.6). The df-cut must remove exactly those pairs while
    keeping genuine duplicates, and the DuckDB oracle (which carries
    the same exact-integer cut) must agree bit-for-bit."""
    import duckdb

    boiler = "b1 b2 b3 b4 b5"
    rows_in = [(i, f"{boiler} u{i}", "en", "src0") for i in range(10)]
    rows_in += [(100, "z1 z2 z3 z4 z5 z6", "en", "src0"),
                (101, "z1 z2 z3 z4 z5 z6", "en", "src0")]
    spark.createDataFrame(
        rows_in, "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    q = Q["dedup_ngram_jaccard"]
    got = sorted(tuple(r) for r in q.builder(spark, str(tmp_path)).collect())
    # only the genuine duplicate pair survives the cut
    assert got == [(100, 101, 1.0)]
    # without the cut the boilerplate manufactures all 45 cross pairs
    with decisions.forced(ngram_dfcut={"engage": False}):
        uncut = sorted(tuple(r) for r in q.builder(spark, str(tmp_path)).collect())
    assert len(uncut) == 45 + 1
    # the registered oracle replays the same cut
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    assert [tuple(r) for r in con.execute(q.oracle).fetchall()] == [(100, 101, 1.0)]


def test_ngram_df_cut_probe_engages_and_disengages(spark, tmp_path):
    """The memoized sampling probe must (a) DISENGAGE the df pass on a
    large corpus with no hot shingle — the plan then equals the cut-off
    plan — and (b) ENGAGE on a large corpus where boilerplate rides in
    every doc, removing exactly the boilerplate-manufactured pairs."""
    import multithreaded_mapreduce_spark.operators.dedup as dd

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    # (a) 4000 docs, every trigram unique to its doc
    uniq = [(i, f"a{i} b{i} c{i} d{i}", "en", "src0") for i in range(4000)]
    d_a = tmp_path / "uniq"
    spark.createDataFrame(
        uniq, "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(str(d_a / "documents.parquet"))
    decisions.clear()
    got = rows(Q["dedup_ngram_jaccard"].builder(spark, str(d_a)))
    stored = decisions.record()["ngram_dfcut"]
    dec = dict(stored)
    assert dec["engage"] is False, dec
    assert dec["sample_docs"] >= dd._NGRAM_PROBE_MIN_DOCS
    with decisions.forced(ngram_dfcut={"engage": False}):
        assert got == rows(Q["dedup_ngram_jaccard"].builder(spark, str(d_a)))
    # memoized: a second build must reuse the stored decision
    Q["dedup_ngram_jaccard"].builder(spark, str(d_a)).count()
    assert decisions.record()["ngram_dfcut"] is stored
    assert stored == dec

    # (b) 4000 docs sharing a boilerplate phrase + unique tails: without
    # the cut every cross pair scores 3/5 = 0.6; the probe must fire the
    # exact pass and the cut must erase all of them
    boiler = [(i, f"b1 b2 b3 b4 b5 u{i}", "en", "src0") for i in range(4000)]
    d_b = tmp_path / "boiler"
    spark.createDataFrame(
        boiler, "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(str(d_b / "documents.parquet"))
    decisions.clear()
    got_b = rows(Q["dedup_ngram_jaccard"].builder(spark, str(d_b)))
    dec_b = dict(decisions.record()["ngram_dfcut"])
    decisions.clear()
    assert dec_b["engage"] is True, dec_b
    assert dec_b["sample_max_df"] * 2 * dd.NGRAM_DF_CUT_DEN >= (
        dec_b["sample_docs"] * dd.NGRAM_DF_CUT_NUM
    )
    assert got_b == []


def test_ngram_df_cut_margin_confirm_decision_shape(spark, tmp_path):
    """VERDICT r7 task 8: pin the decision dict's exact shape on BOTH
    sides of the margin-confirm branch (ADVICE r6). The fixtures are
    built sample-aware — boilerplate membership is assigned per doc
    AFTER computing the probe's own xxhash64 1/16 sample — so the
    sampled max-df fraction lands deterministically in the confirm
    margin [1/8, 1/4) of docs:

    (a) full-corpus fraction also under the 1/2 cut → the confirm pass
        runs, records its exact numbers, and DISENGAGES (the accepted
        residual risk below the 1/4-cut margin is the documented
        ~1e-11 Hoeffding bound next to NGRAM_DF_CUT_*);
    (b) unsampled docs mostly boilerplate (an adversarially
        unrepresentative sample) → the confirm pass must catch the
        true crossing and ENGAGE — the exact divergence window the r6
        fix closed."""
    from pyspark.sql import functions as F

    import multithreaded_mapreduce_spark.operators.dedup as dd

    n = 4000
    ids = spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.xxhash64(F.col("id")), F.lit(dd._NGRAM_PROBE_MOD)) == 0).alias(
            "in_sample"
        ),
    )
    sample_flags = {r.doc_id: r.in_sample for r in ids.collect()}
    sampled = sorted(i for i, s in sample_flags.items() if s)
    unsampled = sorted(i for i, s in sample_flags.items() if not s)
    assert len(sampled) >= dd._NGRAM_PROBE_MIN_DOCS

    def build(dirname: str, frac_sampled: float, frac_unsampled: float) -> str:
        boiler = set(sampled[: int(frac_sampled * len(sampled))])
        boiler |= set(unsampled[: int(frac_unsampled * len(unsampled))])
        rows = [
            (
                i,
                f"b1 b2 b3 b4 b5 u{i}" if i in boiler else f"a{i} b{i} c{i} d{i}",
                "en",
                "src0",
            )
            for i in range(n)
        ]
        d = tmp_path / dirname
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string"
        ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
        return str(d)

    # (a) sampled fraction 0.18 (margin), full fraction ~0.18 (< 1/2)
    d_a = build("margin_disengage", 0.18, 0.18)
    decisions.clear()
    Q["dedup_ngram_jaccard"].builder(spark, d_a).count()
    dec = dict(decisions.record()["ngram_dfcut"])
    assert set(dec) == {
        "sample_docs",
        "sample_max_df",
        "engage",
        "confirm_full_max_df",
        "confirm_n_docs",
    }, dec
    sd, mdf = dec["sample_docs"], dec["sample_max_df"]
    # the sample landed in the margin: disengaged by sample, within 2x
    assert mdf * dd.NGRAM_DF_CUT_DEN * 2 < sd * dd.NGRAM_DF_CUT_NUM
    assert mdf * dd.NGRAM_DF_CUT_DEN * 4 >= sd * dd.NGRAM_DF_CUT_NUM
    # and the confirm decided on the full-corpus truth
    assert dec["engage"] == (
        dec["confirm_full_max_df"] * dd.NGRAM_DF_CUT_DEN
        > dec["confirm_n_docs"] * dd.NGRAM_DF_CUT_NUM
    )
    assert dec["engage"] is False

    # (b) same sampled fraction, but 60% of UNSAMPLED docs boilerplate:
    # the confirm pass must catch the true crossing the sample missed
    d_b = build("margin_engage", 0.18, 0.60)
    decisions.clear()
    Q["dedup_ngram_jaccard"].builder(spark, d_b).count()
    dec_b = dict(decisions.record()["ngram_dfcut"])
    decisions.clear()
    assert set(dec_b) == set(dec)
    assert dec_b["engage"] is True, dec_b
    assert (
        dec_b["confirm_full_max_df"] * dd.NGRAM_DF_CUT_DEN
        > dec_b["confirm_n_docs"] * dd.NGRAM_DF_CUT_NUM
    )
    # no-confirm branches pin the 3-key shape (covered on the uniq /
    # boiler fixtures of test_ngram_df_cut_probe_engages_and_disengages,
    # asserted here against a fresh far-below-margin corpus)
    uniq = [(i, f"a{i} b{i} c{i} d{i}", "en", "src0") for i in range(n)]
    d_c = tmp_path / "below_margin"
    spark.createDataFrame(
        uniq, "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(str(d_c / "documents.parquet"))
    decisions.clear()
    Q["dedup_ngram_jaccard"].builder(spark, str(d_c)).count()
    dec_c = dict(decisions.record()["ngram_dfcut"])
    decisions.clear()
    assert set(dec_c) == {"sample_docs", "sample_max_df", "engage"}
    assert dec_c["engage"] is False


def test_cluster_keep_best_one_rep_per_cluster_and_longest_wins(spark, sf_dir):
    """Exactly one kept doc per cluster; the kept doc has the maximal
    n_chars in its cluster (min doc_id on ties); total coverage equals
    the distinct (doc_id, n_chars) base; every near-dup pair shares a
    cluster so at most one side survives."""
    from pyspark.sql import functions as F

    rows = Q["dedup_cluster_keep_best"].builder(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = (
        docs.filter(F.col("doc_id").isNotNull())
        .select("doc_id", "n_chars")
        .distinct()
        .collect()
    )
    assert len(rows) == len(base)
    chars = {}
    for r in base:
        c = r.n_chars if r.n_chars is not None else -1
        chars[r.doc_id] = max(c, chars.get(r.doc_id, -1))
    clusters: dict = {}
    for r in rows:
        clusters.setdefault(r.cluster_id, []).append(r)
    for cid, members in clusters.items():
        kept = sorted({m.doc_id for m in members if m.keep})
        assert len(kept) == 1, (cid, kept)
        best = max(chars[m.doc_id] for m in members)
        cands = sorted(m.doc_id for m in members if chars[m.doc_id] == best)
        assert kept[0] == cands[0], (cid, kept, cands)
    pairs = [
        (r.doc_a, r.doc_b)
        for r in Q["dedup_jaccard_pairs"].builder(spark, sf_dir).collect()
    ]
    cluster_of = {r.doc_id: r.cluster_id for r in rows}
    keep_of = {}
    for r in rows:
        keep_of[r.doc_id] = keep_of.get(r.doc_id, False) or r.keep
    for a, b in pairs:
        assert cluster_of[a] == cluster_of[b]
        assert not (keep_of[a] and keep_of[b]) or a == b


def test_threshold_sweep_monotone_and_anchored(spark, sf_dir):
    """The sweep is non-increasing in the threshold, its 0.8 row equals
    the registered pair relation's own counts, and every grid point is
    present even when empty."""
    from multithreaded_mapreduce_spark.operators.dedup import SWEEP_THRESHOLDS

    rows = {
        r.threshold: r
        for r in Q["dedup_threshold_sweep"].builder(spark, sf_dir).collect()
    }
    assert sorted(rows) == sorted(SWEEP_THRESHOLDS)
    seq = [rows[t] for t in sorted(rows)]
    for lo, hi in zip(seq, seq[1:]):
        assert lo.n_pairs >= hi.n_pairs
        assert lo.n_docs >= hi.n_docs
    pairs = Q["dedup_jaccard_pairs"].builder(spark, sf_dir).collect()
    assert rows[0.8].n_pairs == len(pairs)
    docs = {r.doc_a for r in pairs} | {r.doc_b for r in pairs}
    assert rows[0.8].n_docs == len(docs)
    exact = [r for r in pairs if r.jaccard >= 1.0]
    assert rows[1.0].n_pairs == len(exact)


def test_shingle_novelty_bounds_and_conservation(spark, sf_dir):
    """novelty ∈ [0, 1]; the smallest shingle-bearing doc_id is fully
    novel; Σ n_novel over docs = the number of distinct shingles in the
    corpus (each shingle is novel exactly once — in its first doc)."""
    rows = Q["shingle_novelty_scores"].builder(spark, sf_dir).collect()
    assert rows, "corpus has shingle-bearing docs"
    for r in rows:
        assert 0.0 <= r.novelty <= 1.0
        assert 0 <= r.n_novel <= r.n_shingles
    first = min(rows, key=lambda r: r.doc_id)
    assert first.n_novel == first.n_shingles and first.novelty == 1.0
    from pyspark.sql import functions as F

    from multithreaded_mapreduce_spark.operators.dedup import NGRAM_N

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id").isNotNull()
    )
    ts = F.filter(F.split("text", r"\s+"), lambda t: F.length(t) > 0)
    sh = F.when(
        F.size(ts) >= NGRAM_N,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(ts) - (NGRAM_N - 1)),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice(ts, i, NGRAM_N))),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    n_distinct = (
        docs.select(F.explode(sh).alias("s")).select("s").distinct().count()
    )
    assert sum(r.n_novel for r in rows) == n_distinct


def test_embedding_threshold_sweep_monotone_and_anchored(spark, sf_dir):
    """Semantic sweep: non-increasing in the threshold, base row equal
    to the registered cosine pair relation's own counts, full grid
    present."""
    from multithreaded_mapreduce_spark.operators.dedup import (
        COSINE_THRESHOLD,
        EMB_SWEEP_THRESHOLDS,
    )

    rows = {
        r.threshold: r
        for r in Q["embedding_threshold_sweep"].builder(spark, sf_dir).collect()
    }
    assert sorted(rows) == sorted(EMB_SWEEP_THRESHOLDS)
    seq = [rows[t] for t in sorted(rows)]
    for lo, hi in zip(seq, seq[1:]):
        assert lo.n_pairs >= hi.n_pairs
        assert lo.n_vecs >= hi.n_vecs
    pairs = Q["dedup_embedding_pairs"].builder(spark, sf_dir).collect()
    assert rows[COSINE_THRESHOLD].n_pairs == len(pairs)
    vecs = {r.vec_a for r in pairs} | {r.vec_b for r in pairs}
    assert rows[COSINE_THRESHOLD].n_vecs == len(vecs)


def test_lsh_recall_is_total_at_jaccard_one(spark, sf_dir):
    """The one bucket where banding recall is a THEOREM, asserted from
    the report: identical token sets produce identical signatures,
    hence identical bands — a J=1.0 pair can never be missed. All
    other buckets only need recall in [0, 1]."""
    from multithreaded_mapreduce_spark.operators.dedup import lsh_recall_report

    rows = lsh_recall_report(spark, sf_dir).collect()
    assert rows, "corpus has >= 0.8 pairs by construction"
    for r in rows:
        assert 0.0 <= r.recall <= 1.0, r
        assert r.n_caught <= r.n_true_pairs, r
        if r.bucket_lo == 1.0:
            assert r.recall == 1.0, r


def test_no_pair_involves_a_document_without_tokens(spark, tmp_path):
    """Empty, whitespace-only and NULL-text documents have no token
    set, so no pair producer may report them — not even as identical
    (jaccard 1.0) sets of nothing. Only the one real near-dup pair
    (same distinct tokens, different order) is reported, and the LSH
    output stays inside the exact jaccard pairs."""
    texts = [
        "",
        "   ",
        "alpha beta gamma delta epsilon",
        "epsilon delta gamma beta alpha alpha",
        None,
        None,
        "\t\n ",
    ]
    rows = [(i, t, "en", "src0") for i, t in enumerate(texts, 1)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        name: _pairs(Q[name].builder(spark, str(tmp_path)))
        for name in (
            "dedup_jaccard_pairs", "dedup_prefix_filter", "dedup_minhash_lsh",
            "dedup_minhash_verified", "dedup_simhash", "dedup_simhash_verified",
        )
    }
    for name, pairs in got.items():
        assert pairs == {(3, 4)}, f"{name}: {sorted(pairs)}"
    assert got["dedup_minhash_lsh"] <= got["dedup_jaccard_pairs"]


@pytest.mark.parametrize("sf_name", ["sf0.001", "sf0.01"])
def test_incremental_neardup_is_the_cross_side_slice_of_minhash_verified(
    spark, sf_dir, sf_name
):
    """Both cross-engine MinHash queries band the same signatures and
    verify the same way, so the incremental rows are exactly the
    dedup_minhash_verified pairs with one new-batch (src19) side, as
    (batch, corpus, jaccard) triples; a doc_id spanning both sides
    counts as batch."""
    import os

    from pyspark.sql import functions as F

    from multithreaded_mapreduce_spark.operators.dedup import _INC_BATCH_SOURCE

    d = os.path.join(os.path.dirname(sf_dir), sf_name)
    if not os.path.isdir(d):
        pytest.skip(f"no {sf_name} corpus next to {sf_dir}")
    batch = {
        r.doc_id: r.b
        for r in spark.read.parquet(f"{d}/documents.parquet")
        .groupBy("doc_id")
        .agg(F.max((F.col("source") == _INC_BATCH_SOURCE).cast("int")).alias("b"))
        .collect()
    }
    want = set()
    for r in Q["dedup_minhash_verified"].builder(spark, d).collect():
        if batch[r.doc_a] != batch[r.doc_b]:
            b, c = (r.doc_a, r.doc_b) if batch[r.doc_a] else (r.doc_b, r.doc_a)
            want.add((b, c, r.jaccard))
    got = [
        (r.batch_doc_id, r.corpus_doc_id, r.jaccard)
        for r in Q["dedup_incremental_neardup"].builder(spark, d).collect()
    ]
    assert len(got) == len(set(got))
    assert set(got) == want
    assert want, "the corpus has cross-side near-dups by construction"
