"""Seeded randomized property checks for the round-6 primitives —
batch-style (many random cases per Spark job), deterministic seeds, no
hypothesis flakiness. These cover shapes the corpus fixtures cannot
enumerate: arbitrary graphs for the contraction-CC helper, arbitrary
symbol runs for the BPE merge fold, arbitrary token-count streams for
the prefix-sum packer."""

from __future__ import annotations

import random

from pyspark.sql import functions as F


def _union_find_labels(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n_nodes)}


def test_contracted_components_matches_union_find(spark):
    """The contraction-CC helper must agree with a transparent
    union-find on random graphs — paths, cliques, isolated chunks —
    including label = MIN node id per component."""
    from multithreaded_mapreduce_spark.operators.dedup import (
        _contracted_components,
    )
    from multithreaded_mapreduce_spark.plans.caching import release_tracked

    rng = random.Random(1729)
    for trial, (n, m) in enumerate([(40, 25), (60, 90), (30, 5), (50, 49)]):
        edges = set()
        while len(edges) < m:
            a, b = rng.sample(range(n), 2)
            edges.add((min(a, b), max(a, b)))
        # a long path stresses the contraction's round budget
        if trial == 3:
            edges = {(i, i + 1) for i in range(n - 1)}
        pairs = spark.createDataFrame(
            sorted(edges), "ga long, gb long"
        )
        labels = {
            r.node: r.label
            for r in _contracted_components(pairs).collect()
        }
        release_tracked()
        want = _union_find_labels(n, edges)
        touched = {a for e in edges for a in e}
        assert set(labels) == touched, f"trial {trial}: node set"
        for node in touched:
            assert labels[node] == want[node], (trial, node)


def test_bpe_apply_merge_matches_python_on_random_runs(spark):
    """Greedy left-to-right non-overlapping merge over 300 random
    symbol arrays (alphabet chosen so self-pairs, overlaps, and
    already-merged symbols all occur) — one Spark job against a
    transparent Python fold."""
    from multithreaded_mapreduce_spark.operators.corpus_ops import (
        _bpe_apply_merge,
    )

    def py_merge(syms, lhs, rhs):
        out = []
        for s in syms:
            if out and out[-1] == lhs and s == rhs:
                out[-1] = lhs + rhs
            else:
                out.append(s)
        return out

    rng = random.Random(42)
    alphabet = ["a", "b", "ab", "aa", "c"]
    cases = [
        [rng.choice(alphabet) for _ in range(rng.randrange(0, 12))]
        for _ in range(300)
    ]
    for lhs, rhs in [("a", "a"), ("a", "b"), ("ab", "a"), ("c", "c")]:
        df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cases)], "i int, syms array<string>"
        )
        got = {
            r.i: r.m
            for r in df.select(
                "i", _bpe_apply_merge(F.col("syms"), lhs, rhs).alias("m")
            ).collect()
        }
        for i, c in enumerate(cases):
            assert got[i] == py_merge(c, lhs, rhs), (lhs, rhs, c, got[i])


def test_pack_prefix_sum_matches_python_simulation(spark):
    """The distributed prefix-sum packer must equal a sequential
    python cumsum pack on random token-count streams with gaps,
    zeros, and oversized documents."""
    from multithreaded_mapreduce_spark.operators.pipeline_prep import (
        MAX_SEQ_TOKENS,
        pack_prefix_sum,
    )

    rng = random.Random(7)
    doc_ids = sorted(rng.sample(range(10_000), 800))
    toks = [
        (d, rng.choice([0, 1, 5, 100, 900, 2047, 2048, 5000]))
        for d in doc_ids
    ]
    df = spark.createDataFrame(toks, "doc_id long, n_tokens long")
    got = {r.seq_id: (r.n_docs, r.seq_tokens, r.first_doc_id, r.last_doc_id)
           for r in pack_prefix_sum(df).collect()}
    want = {}
    cum = 0
    for d, n in toks:
        seq = cum // MAX_SEQ_TOKENS
        cum += n
        nd, st, fd, ld = want.get(seq, (0, 0, d, d))
        want[seq] = (nd + 1, st + n, min(fd, d), max(ld, d))
    assert got == want


def test_contracted_components_bcast_and_shuffle_paths_agree(spark, monkeypatch):
    """r7 path equivalence: the label-relation broadcast decision
    (dedup.CC_BCAST_MAX_NODES) is plan-only — forcing the
    shuffle path (ceiling 0) and the broadcast path (huge ceiling)
    must label a random graph identically, and the stamped decision
    must reflect each forced path."""
    from multithreaded_mapreduce_spark.operators import dedup as D
    from multithreaded_mapreduce_spark.plans import decisions
    from multithreaded_mapreduce_spark.plans.caching import release_tracked

    rng = random.Random(271828)
    edges = set()
    while len(edges) < 120:
        a, b = rng.sample(range(80), 2)
        edges.add((min(a, b), max(a, b)))
    pairs = spark.createDataFrame(sorted(edges), "ga long, gb long")

    monkeypatch.setattr(D, "CC_BCAST_MAX_NODES", 0)
    shuffled = {r.node: r.label for r in D._contracted_components(pairs).collect()}
    assert decisions.record()["cc_bcast"]["broadcast"] is False
    release_tracked()

    monkeypatch.setattr(D, "CC_BCAST_MAX_NODES", 10_000_000)
    bcast = {r.node: r.label for r in D._contracted_components(pairs).collect()}
    assert decisions.record()["cc_bcast"]["broadcast"] is True
    release_tracked()

    assert shuffled == bcast
    assert shuffled == {
        n: l for n, l in _union_find_labels(80, edges).items()
        if n in {a for e in edges for a in e}
    }


def test_pq_codebooks_match_python_lloyd_on_random_vectors(spark, tmp_path):
    """The PQ codebook trainer must equal a transparent Python replay
    — seeds from the smallest vec_ids, ordered IEEE distance folds
    with smallest-k tie-break, 6-dp-snapped decimal means, empty
    clusters keeping their seed — on random float32 corpora, including
    a degenerate all-identical corpus (every non-seed cluster stays at
    its seed)."""
    from decimal import ROUND_HALF_UP, Decimal

    from multithreaded_mapreduce_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        PQ_SUBDIM,
        _pq_codebooks,
    )

    rng = random.Random(424242)
    dim = PQ_M * PQ_SUBDIM

    def py_codebooks(vecs):
        seeds = [v for _id, v in sorted(vecs)[:PQ_K]]
        cents = {
            m: {i: s[m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM] for i, s in enumerate(seeds)}
            for m in range(PQ_M)
        }
        # one assignment round (ordered fold, tie -> smallest k)
        sums = {}
        for _id, v in vecs:
            for m in range(PQ_M):
                sub = v[m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM]
                best, bd = None, None
                for k in sorted(cents[m]):
                    d = 0.0
                    for a, b in zip(sub, cents[m][k]):
                        d = d + (a - b) * (a - b)
                    if bd is None or d < bd:
                        bd, best = d, k
                cell = sums.setdefault((m, best), [0, [Decimal(0)] * PQ_SUBDIM])
                cell[0] += 1
                for j, a in enumerate(sub):
                    cell[1][j] += Decimal(repr(a)).quantize(
                        Decimal(1).scaleb(-12), ROUND_HALF_UP
                    )
        out = {}
        for m in range(PQ_M):
            out[m] = {}
            for k in cents[m]:
                if (m, k) in sums:
                    n, tot = sums[(m, k)]
                    vals = []
                    for j in range(PQ_SUBDIM):
                        mean = float(tot[j]) / n
                        d12 = Decimal(repr(mean)).quantize(
                            Decimal(1).scaleb(-12), ROUND_HALF_UP
                        )
                        vals.append(
                            float(d12.quantize(Decimal(1).scaleb(-6), ROUND_HALF_UP))
                        )
                    out[m][k] = vals
                else:
                    out[m][k] = list(cents[m][k])
        return out

    import struct as _struct

    def f32(x):
        return _struct.unpack("f", _struct.pack("f", x))[0]

    for trial in range(3):
        n = [40, 12, PQ_K][trial]
        if trial == 2:
            vecs = [(i, [f32(0.25)] * dim) for i in range(n)]  # degenerate
        else:
            vecs = [
                (i, [f32(rng.uniform(-1, 1)) for _ in range(dim)])
                for i in range(n)
            ]
        path = str(tmp_path / f"pq{trial}")
        spark.createDataFrame(
            [(i, v, 0) for i, v in vecs],
            "vec_id long, embedding array<float>, label int",
        ).write.mode("overwrite").parquet(f"{path}/embeddings.parquet")
        got = _pq_codebooks(spark, path)
        want = py_codebooks(vecs)
        assert got == want, (trial, {m: got[m] for m in list(got)[:1]})


def test_ewma_fold_matches_python_on_random_series(spark):
    """The events_ewma_daily fold (array-accumulator F.aggregate with a
    per-step decimal snap) must replay a transparent Python recurrence
    on random series — including negative values, zeros, and
    single-element series (the when(size==0) seed branch)."""
    from decimal import ROUND_HALF_UP, Decimal

    from multithreaded_mapreduce_spark.operators.timeseries import (
        EWMA_ALPHA,
        _EWMA_BETA,
    )

    rng = random.Random(424242)

    def py_ewma(xs):
        out = []
        for i, x in enumerate(xs):
            if i == 0:
                e = x
            else:
                raw = EWMA_ALPHA * x + _EWMA_BETA * out[-1]
                # the engine snap: cast to DECIMAL(30,12) (HALF_UP at
                # 12 dp) then round to 6 dp, back to double
                e = float(
                    Decimal(repr(raw))
                    .quantize(Decimal("1e-12"), rounding=ROUND_HALF_UP)
                    .quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
                )
            out.append(e)
        return out

    cases = []
    for sid in range(8):
        n = rng.choice([1, 2, 3, 7, 30])
        xs = [round(rng.uniform(-500, 500), 2) for _ in range(n)]
        cases.append((sid, xs))
    rows = [(sid, i, x) for sid, xs in cases for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "sid long, t long, x double")
    arr = df.groupBy("sid").agg(
        F.sort_array(F.collect_list(F.struct("t", F.col("x").alias("daily_total")))).alias("xs")
    )
    acc0 = F.array().cast("array<struct<t:long,daily_total:double,ewma:double>>")

    def _step(acc, s):
        prev = F.element_at(acc, -1)["ewma"]
        ew = F.when(F.size(acc) == 0, s["daily_total"]).otherwise(
            F.round(
                (F.lit(EWMA_ALPHA) * s["daily_total"] + F.lit(_EWMA_BETA) * prev).cast(
                    "decimal(30,12)"
                ),
                6,
            ).cast("double")
        )
        return F.concat(
            acc,
            F.array(
                F.struct(
                    s["t"].alias("t"),
                    s["daily_total"].alias("daily_total"),
                    ew.alias("ewma"),
                )
            ),
        )

    got = {
        (r.sid, r.r.t): r.r.ewma
        for r in arr.select("sid", F.explode(F.aggregate("xs", acc0, _step)).alias("r")).collect()
    }
    for sid, xs in cases:
        expected = py_ewma(xs)
        for t, e in enumerate(expected):
            assert abs(got[(sid, t)] - e) < 1e-9, (sid, t, got[(sid, t)], e)


def test_rendezvous_argmax_matches_hashlib_reference(spark):
    """The HRW shard pick (md5-prefix weights + array_max over structs)
    must agree with an independent hashlib implementation — this checks
    the whole composition (prefix fold, struct ordering, slice reuse of
    the old shard set), not just the hex-id math."""
    import hashlib

    from multithreaded_mapreduce_spark.operators.layout import (
        RDV_HEX_DIGITS,
        RDV_NEW,
        RDV_OLD,
        _rdv_weight_spark,
    )

    def py_weight(doc_id, shard):
        h = hashlib.md5(f"rdv:{shard}:{doc_id}".encode()).hexdigest()
        return int(h[:RDV_HEX_DIGITS], 16)

    def py_pick(doc_id, n):
        # ties impossible in practice; mirror struct ordering anyway
        return max(range(n), key=lambda s: (py_weight(doc_id, s), s))

    ids = [0, 1, 7, 99, 12345, 10**12, 10**15 + 17] + [
        random.Random(7).randrange(10**9) for _ in range(40)
    ]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    arr = F.array(
        *[
            F.struct(_rdv_weight_spark(s).alias("w"), F.lit(s).alias("s"))
            for s in range(RDV_NEW)
        ]
    )
    got = {
        r.doc_id: (r.old_shard, r.new_shard)
        for r in df.select(
            "doc_id",
            F.array_max(F.slice(arr, 1, RDV_OLD))["s"].alias("old_shard"),
            F.array_max(arr)["s"].alias("new_shard"),
        ).collect()
    }
    for i in ids:
        assert got[i] == (py_pick(i, RDV_OLD), py_pick(i, RDV_NEW)), i


def test_cusum_fold_matches_python_on_random_series(spark):
    """The events_cusum_daily fold (max-clamped recurrence with
    per-step decimal snap and explicit NULL guards) must replay a
    transparent Python recurrence on random series — negatives, zeros,
    all-below-mean runs (the clamp at 0), and single elements."""
    from decimal import ROUND_HALF_UP, Decimal

    rng = random.Random(31337)

    def snap6(x):
        return float(
            Decimal(repr(x))
            .quantize(Decimal("1e-12"), rounding=ROUND_HALF_UP)
            .quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
        )

    def py_cusum(xs, mu):
        out, prev = [], None
        for i, x in enumerate(xs):
            s = snap6((x - mu) if i == 0 else prev + (x - mu))
            s = max(0.0, s)
            out.append(s)
            prev = s
        return out

    cases = []
    for sid in range(8):
        n = rng.choice([1, 2, 5, 30])
        xs = [round(rng.uniform(-200, 200), 2) for _ in range(n)]
        mu = round(rng.uniform(-50, 50), 4)
        cases.append((sid, xs, mu))
    rows = [(sid, i, x, mu) for sid, xs, mu in cases for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "sid long, t long, x double, mu double")
    arr = df.groupBy("sid").agg(
        F.sort_array(F.collect_list(F.struct("t", F.col("x").alias("daily_total")))).alias("xs"),
        F.first("mu").alias("mu"),
    )
    acc0 = F.array().cast("array<struct<t:long,cusum:double>>")

    def _snap6(c):
        return F.round(c.cast("decimal(30,12)"), 6).cast("double")

    def _step(acc, s):
        prev = F.element_at(acc, -1)["cusum"]
        raw = F.when(
            F.size(acc) == 0, _snap6(s["daily_total"] - F.col("mu"))
        ).otherwise(_snap6(prev + (s["daily_total"] - F.col("mu"))))
        v = F.greatest(F.lit(0.0), raw)
        return F.concat(acc, F.array(F.struct(s["t"].alias("t"), v.alias("cusum"))))

    got = {
        (r.sid, r.r.t): r.r.cusum
        for r in arr.select(
            "sid", F.explode(F.aggregate("xs", acc0, _step)).alias("r")
        ).collect()
    }
    for sid, xs, mu in cases:
        for t, e in enumerate(py_cusum(xs, mu)):
            assert abs(got[(sid, t)] - e) < 1e-9, (sid, t, got[(sid, t)], e)


def test_holt_fold_matches_python_on_random_series(spark):
    """The events_holt_daily coupled level+trend fold must replay a
    transparent Python recurrence on random series — the struct-state
    fold's inter-accumulator coupling (trend reads the NEW level) is
    exactly where an off-by-one-step bug would hide."""
    from decimal import ROUND_HALF_UP, Decimal

    from multithreaded_mapreduce_spark.operators.timeseries import (
        _HOLT_A1,
        _HOLT_B1,
        HOLT_ALPHA,
        HOLT_BETA,
    )

    rng = random.Random(777)

    def snap6(x):
        return float(
            Decimal(repr(x))
            .quantize(Decimal("1e-12"), rounding=ROUND_HALF_UP)
            .quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
        )

    def py_holt(xs):
        out = []
        l = b = None
        for i, x in enumerate(xs):
            if i == 0:
                l, b = x, 0.0
            else:
                nl = snap6(HOLT_ALPHA * x + _HOLT_A1 * (l + b))
                b = snap6(HOLT_BETA * (nl - l) + _HOLT_B1 * b)
                l = nl
            out.append((l, b))
        return out

    cases = []
    for sid in range(8):
        n = rng.choice([1, 2, 5, 30])
        xs = [round(rng.uniform(-200, 200), 2) for _ in range(n)]
        cases.append((sid, xs))
    rows = [(sid, i, x) for sid, xs in cases for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "sid long, t long, x double")
    arr = df.groupBy("sid").agg(
        F.sort_array(
            F.collect_list(F.struct("t", F.col("x").alias("daily_total")))
        ).alias("xs")
    )
    acc0 = F.array().cast("array<struct<t:long,level:double,trend:double>>")

    def _snap6(c):
        return F.round(c.cast("decimal(30,12)"), 6).cast("double")

    def _step(acc, s):
        prev = F.element_at(acc, -1)
        lv = F.when(F.size(acc) == 0, s["daily_total"]).otherwise(
            _snap6(
                F.lit(HOLT_ALPHA) * s["daily_total"]
                + F.lit(_HOLT_A1) * (prev["level"] + prev["trend"])
            )
        )
        tr = F.when(F.size(acc) == 0, F.lit(0.0)).otherwise(
            _snap6(
                F.lit(HOLT_BETA) * (lv - prev["level"]) + F.lit(_HOLT_B1) * prev["trend"]
            )
        )
        return F.concat(
            acc,
            F.array(
                F.struct(s["t"].alias("t"), lv.alias("level"), tr.alias("trend"))
            ),
        )

    got = {
        (r.sid, r.r.t): (r.r.level, r.r.trend)
        for r in arr.select(
            "sid", F.explode(F.aggregate("xs", acc0, _step)).alias("r")
        ).collect()
    }
    for sid, xs in cases:
        for t, (l, b) in enumerate(py_holt(xs)):
            gl, gb = got[(sid, t)]
            assert abs(gl - l) < 1e-9 and abs(gb - b) < 1e-9, (sid, t, gl, gb, l, b)
