"""ANN quality vs the exact brute-force baseline (both oracle-checked
for rank correctness; this measures the recall/cost trade)."""

from __future__ import annotations

import pytest

from multithreaded_mapreduce_spark.plans.registry import all_queries

Q = all_queries()


def test_ann_recall_and_soundness(spark, sf_dir):
    brute = Q["knn_cosine_bruteforce"].builder(spark, sf_dir).collect()
    ann = Q["knn_sketch_ann"].builder(spark, sf_dir).collect()

    exact_sets = {}
    for r in brute:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    ann_sets = {}
    ann_cos = {}
    for r in ann:
        ann_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        ann_cos[(r.query_id, r.neighbor_id)] = r.cosine

    # soundness: an ANN hit that also appears in the exact top-k must carry
    # the identical (snapped) cosine — same scoring, just fewer candidates
    brute_cos = {(r.query_id, r.neighbor_id): r.cosine for r in brute}
    for key, c in ann_cos.items():
        if key in brute_cos:
            assert c == brute_cos[key]

    hits = sum(len(exact_sets[q] & ann_sets.get(q, set())) for q in exact_sets)
    total = sum(len(s) for s in exact_sets.values())
    recall = hits / total
    # 16-bit sign sketch @ Hamming<=4 is a coarse prefilter; just pin the
    # floor so a regression (e.g. a broken sketch) is caught
    # (measured: 0.20-0.22 on the synthetic near-orthogonal vectors)
    assert recall >= 0.12, f"ANN recall collapsed: {recall:.2f} ({hits}/{total})"


def test_every_query_gets_k_results(spark, sf_dir):
    brute = Q["knn_cosine_bruteforce"].builder(spark, sf_dir).collect()
    per_query = {}
    for r in brute:
        per_query.setdefault(r.query_id, []).append(r.rnk)
    assert len(per_query) == 10
    for q, rnks in per_query.items():
        assert sorted(rnks) == [1, 2, 3, 4, 5], f"query {q} ranks: {rnks}"


def test_quantized_ann_recall_and_score_parity(spark, sf_dir):
    """int8 quantization is a tight approximation: recall vs the exact
    brute force should be near-perfect, and any (query, neighbor) pair
    both return must carry the identical exact-rescored cosine."""
    brute = Q["knn_cosine_bruteforce"].builder(spark, sf_dir).collect()
    quant = Q["knn_quantized_ann"].builder(spark, sf_dir).collect()
    brute_cos = {(r.query_id, r.neighbor_id): r.cosine for r in brute}
    for r in quant:
        if (r.query_id, r.neighbor_id) in brute_cos:
            assert r.cosine == brute_cos[(r.query_id, r.neighbor_id)]
    exact_sets = {}
    for r in brute:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    q_sets = {}
    for r in quant:
        q_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(exact_sets[q] & q_sets.get(q, set())) for q in exact_sets)
    total = sum(len(s) for s in exact_sets.values())
    assert hits / total >= 0.9, f"quantized recall {hits}/{total}"


def test_ivf_exact_recall_and_soundness(spark, sf_dir):
    """The deterministic-quantizer IVF (exact-decimal Lloyd's, fully
    oracle-checked) must behave like an IVF: exact snapped cosines on
    hits shared with brute force, and recall well above the sketch prefilter's (the engine-seeded
    MLlib variant was retired in r6 — this twin IS the IVF scale path)."""
    brute = Q["knn_cosine_bruteforce"].builder(spark, sf_dir).collect()
    ivf = Q["knn_ivf_exact_ann"].builder(spark, sf_dir).collect()

    brute_cos = {(r.query_id, r.neighbor_id): r.cosine for r in brute}
    for r in ivf:
        if (r.query_id, r.neighbor_id) in brute_cos:
            assert r.cosine == brute_cos[(r.query_id, r.neighbor_id)]

    exact_sets = {}
    for r in brute:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {}
    for r in ivf:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(exact_sets[q] & got.get(q, set())) for q in exact_sets)
    total = sum(len(s) for s in exact_sets.values())
    recall = hits / total
    assert recall >= 0.4, f"IVF-exact recall collapsed: {recall:.2f} ({hits}/{total})"


def test_bruteforce_buffer_survives_massive_cosine_ties(spark, tmp_path):
    """A duplicate-dense corpus where 30+ neighbors share one cosine at
    output granularity: the rescore buffer must keep the tie group
    whole (rank over rounded approx), so the final top-k equals the
    oracle's id-tie-broken all-pairs ranking exactly. A raw row_number
    buffer cut can evict the smallest-id winner on 1e-16 jitter."""
    import duckdb

    from multithreaded_mapreduce_spark.operators.similarity import RESCORE_BUFFER

    dim = 64  # the catalog's folds are unrolled for the 64-dim schema
    base = [1.0] + [0.0] * (dim - 1)
    rows = [(0, [float(x) for x in base], 0)]  # the query
    # 30 neighbors IDENTICAL to the query direction (> RESCORE_BUFFER
    # of them), plus a few clearly-worse vectors
    for i in range(1, 31):
        rows.append((100 + i, [float(x) for x in base], 0))
    for i in range(5):
        rows.append((500 + i, [0.5] * dim, 0))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    assert 30 > RESCORE_BUFFER
    q = Q["knn_cosine_bruteforce"]
    got = sorted(tuple(r) for r in q.builder(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp_path}/embeddings.parquet/*.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(q.oracle).fetchall())
    assert got == want, (got[:6], want[:6])
    # the id tie-break must have picked the 5 SMALLEST tied ids
    top_ids = [r[1] for r in sorted(got, key=lambda t: t[3])]
    assert top_ids == [101, 102, 103, 104, 105], top_ids


def test_rescore_hard_cap_bounds_tie_groups_and_adds_no_exchange(spark, tmp_path):
    """ADVICE r5: a tie group larger than RESCORE_HARD_CAP must not make
    the decimal-rescore phase unbounded — the deterministic secondary
    row_number cut caps it, and for exact-duplicate vectors (the only
    realistic giant tie group) it keeps the smallest neighbor_ids, i.e.
    exactly the rows the final ranking selects. Also: the two buffer
    windows share one sort — the cap adds no Exchange and no extra Sort
    beyond the single per-query window sort."""
    import multithreaded_mapreduce_spark.operators.dedup  # noqa: F401 (registry)
    import multithreaded_mapreduce_spark.operators.similarity as sim

    dim = 64
    base = [1.0] + [0.0] * (dim - 1)
    rows = [(0, [float(x) for x in base], 0)]
    n_dups = sim.RESCORE_HARD_CAP + 40  # tie group wider than the cap
    for i in range(1, n_dups + 1):
        rows.append((100 + i, [float(x) for x in base], 0))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    df = Q["knn_cosine_bruteforce"].builder(spark, str(tmp_path))
    got = df.collect()
    # final top-k = smallest neighbor ids of the duplicate clique
    ids = [r.neighbor_id for r in sorted(got, key=lambda r: r.rnk) if r.query_id == 0]
    assert ids == [101, 102, 103, 104, 105], ids
    # the rescore input really is capped: count rows surviving the cut
    probe = sim._rescore_buffer(
        spark.createDataFrame(
            [(0, i, 0.5) for i in range(2000)],
            "query_id long, neighbor_id long, approx double",
        )
    )
    assert probe.count() == sim.RESCORE_HARD_CAP
    # plan shape: exactly one exchange feeding the window pair (the
    # hashpartitioning on query_id), and one Sort for both windows
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Sort ") <= 2, plan


def test_mmr_diversifies_duplicate_neighbors(spark, tmp_path, sf_dir):
    """Hand fixture: two identical top neighbors and one slightly-worse
    but diverse one — plain cosine ranks (a1, a2, b); MMR must pick
    (a1, b, a2), demoting the duplicate. Also: MMR rank 1 must equal
    the bruteforce rank 1 for every query on the shared corpus."""
    dim = 64

    def v(*head):
        return [float(x) for x in head] + [0.0] * (dim - len(head))

    rows = [(0, v(1.0), 0)]                     # the query
    rows += [(100, v(1.0, 0.1), 0), (101, v(1.0, 0.1), 0)]   # dup pair
    rows += [(102, v(1.0, -0.1), 0)]            # diverse alternative
    # other query slots (vec_id < 10) point far away so they don't
    # perturb query 0's pool
    for i in range(1, 10):
        e = [0.0] * dim
        e[10 + i] = 1.0
        rows.append((i, e, 0))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    got = [
        r.neighbor_id
        for r in Q["knn_mmr_rerank"].builder(spark, str(tmp_path)).collect()
        if r.query_id == 0
    ][:3]
    # plain relevance order would be [100, 101, 102]
    assert got == [100, 102, 101], got
    # shared-corpus consistency: rank 1 is the pure-relevance winner
    brute1 = {
        r.query_id: r.neighbor_id
        for r in Q["knn_cosine_bruteforce"].builder(spark, sf_dir).collect()
        if r.rnk == 1
    }
    mmr1 = {
        r.query_id: r.neighbor_id
        for r in Q["knn_mmr_rerank"].builder(spark, sf_dir).collect()
        if r.rnk == 1
    }
    assert mmr1 == brute1


def test_pq_ann_recall_and_score_parity(spark, sf_dir):
    """PQ with 8x 3-bit codebooks + exact rescore of the buffer:
    recall well above the coarse sketch prefilter (measured 0.52-0.56
    on the synthetic near-orthogonal vectors), and any overlap with the
    exact top-k carries the identical snapped cosine."""
    brute = Q["knn_cosine_bruteforce"].builder(spark, sf_dir).collect()
    pq = Q["knn_pq_ann"].builder(spark, sf_dir).collect()
    exact_sets, brute_cos = {}, {}
    for r in brute:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        brute_cos[(r.query_id, r.neighbor_id)] = r.cosine
    pq_sets = {}
    for r in pq:
        pq_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        if (r.query_id, r.neighbor_id) in brute_cos:
            assert r.cosine == brute_cos[(r.query_id, r.neighbor_id)]
    hits = sum(len(exact_sets[q] & pq_sets.get(q, set())) for q in exact_sets)
    total = sum(len(s) for s in exact_sets.values())
    assert hits / total >= 0.3, f"PQ recall collapsed: {hits}/{total}"


def test_pq_codebooks_shape_and_determinism(spark, sf_dir):
    """Codebooks: PQ_M subspaces x PQ_K centroids x PQ_SUBDIM dims,
    6-dp-snapped values, and bit-identical across rebuilds (pure
    function of the corpus — no RNG anywhere)."""
    from multithreaded_mapreduce_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        PQ_SUBDIM,
        _pq_codebooks,
    )

    a = _pq_codebooks(spark, sf_dir)
    b = _pq_codebooks(spark, sf_dir)
    assert a == b
    assert set(a) == set(range(PQ_M))
    for m in a:
        assert set(a[m]) == set(range(PQ_K))
        for k, c in a[m].items():
            assert len(c) == PQ_SUBDIM
            for v in c:
                assert v == round(v, 6)


def test_hard_negatives_cross_label_only(spark, sf_dir):
    """Every mined negative carries a label different from its
    anchor's, and each anchor with >= K cross-label candidates gets a
    full dense 1..K ranking."""
    from multithreaded_mapreduce_spark.operators.similarity import HARD_NEG_K

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    rows = Q["hard_negative_mining"].builder(spark, sf_dir).collect()
    per_q = {}
    for r in rows:
        assert labels[r.query_id] is not None
        assert r.n_label is not None
        assert r.n_label != labels[r.query_id]
        assert r.n_label == labels[r.neighbor_id]
        per_q.setdefault(r.query_id, []).append(r.rnk)
    from collections import Counter

    label_counts = Counter(v for v in labels.values() if v is not None)
    for q, rnks in per_q.items():
        n_cross = sum(
            c for lbl, c in label_counts.items() if lbl != labels[q]
        )
        want = min(HARD_NEG_K, n_cross)
        assert sorted(rnks) == list(range(1, want + 1)), (q, rnks)


def test_centroid_key_contract_is_checked_under_python_O(spark):
    """The literal-centroid builders read the cluster id off the
    transform index, so keys other than exactly 0..K-1 raise a
    ValueError naming the contract (a bare assert vanishes under -O)."""
    from multithreaded_mapreduce_spark.operators.similarity import _pq_best
    from multithreaded_mapreduce_spark.operators.vectors import lloyd_dist_array

    with pytest.raises(ValueError, match="0..K-1"):
        lloyd_dist_array({0: [0.0, 1.0], 2: [1.0, 0.0]})
    with pytest.raises(ValueError, match="0..K-1"):
        _pq_best(0, {0: [0.0, 1.0], 2: [1.0, 0.0]})


def test_mmr_pool_cut_ties_negative_and_positive_zero(spark, tmp_path, sf_dir):
    """Hand fixture: 19 near-duplicates of one direction fill pool
    ranks 1-19; the next two neighbors straddle the MMR_POOL cut, one
    with a tiny negative cosine that rounds to zero and the smaller id,
    one exactly orthogonal (0.0). The two must tie at the cut on both
    engines whichever sign the rounded zero carries, so the smaller id
    enters the pool — and it is the one MMR then picks in round 2,
    being anti-correlated with the round-1 winner. Pins that the pool
    does not depend on whether the +0.0 (-0.0 → +0.0) step runs before
    or after the pool cut."""
    import os
    import shutil

    from multithreaded_mapreduce_spark.operators.similarity import MMR_POOL
    from multithreaded_mapreduce_spark.sources.tables import TABLES, table_path

    from .oracle import compare_query

    dim = 64

    def v(head: dict) -> list[float]:
        return [float(head.get(i, 0.0)) for i in range(dim)]

    rows = [(0, v({0: 1.0}), 0)]  # the query
    # pool ranks 1-19: near-duplicates of (1, -1, 0, ...), distinct cosines
    rows += [(100 + j, v({0: 1.0, 1: -1.0, 2 + j: 0.01 * (j + 1)}), 0) for j in range(19)]
    rows.append((119, v({0: -1e-7, 1: 1.0}), 0))  # cosine rounds to zero, below it
    rows.append((120, v({40: 1.0}), 0))  # cosine exactly 0.0
    rows += [(121 + j, v({0: -1.0, 41 + j: 0.5}), 0) for j in range(4)]
    assert len(rows) - 1 == 25 and MMR_POOL == 20

    d = str(tmp_path)
    for t in TABLES:
        if t != "embeddings":
            shutil.copyfile(table_path(sf_dir, t), table_path(d, t))
    schema = spark.read.parquet(table_path(sf_dir, "embeddings")).schema
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{d}/_emb")
    part = next(f for f in os.listdir(f"{d}/_emb") if f.endswith(".parquet"))
    shutil.copyfile(f"{d}/_emb/{part}", table_path(d, "embeddings"))

    q = Q["knn_mmr_rerank"]
    compare_query(spark, d, q.builder, q.oracle)
    picked = [r.neighbor_id for r in q.builder(spark, d).orderBy("rnk").collect()]
    assert picked[:2] == [100, 119], picked
