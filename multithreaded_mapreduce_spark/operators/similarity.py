"""Similarity search over the ``embeddings`` table (64-dim float
vectors): candidate generators + one rank tail.

Every kNN builder here supplies only its CANDIDATE GENERATOR — the
(query, neighbor) pairs it is willing to score, each side projected
once by ``_knn_side``:

* brute force: every pair — the small query set broadcasts against the
  spread corpus (a BroadcastNestedLoopJoin, no shuffle of the corpus);
  the O(n·q) baseline every ANN path is measured against;
* sign-sketch ANN: pairs whose 16-bit sign sketches agree on >= 12 of
  16 bits (Hamming <= 4, a popcount ~100× cheaper than the 64-dim
  fold); recall/cost trades by widening the radius or the sketch;
* IVF: pairs inside the query's probed inverted lists;
* int8 scalar and product quantization: every pair, scored cheaply on
  the compressed codes;
* label-filtered search and hard-negative mining: pairs whose labels
  agree / differ, as a join condition;
* kNN join: every vector is a query.

All of them end in ONE tail, ``_knn_rank``: the optional cheap-score
buffer cut (``_approx_cosine`` or a builder's own code-space score),
the optional true-vector fetch (PQ), the oracle-stable 6-dp decimal
cosine rescore and the per-query row_number top-k on (cosine DESC,
neighbor_id). MMR re-ranks the tail's exact pool; the recall report
joins two tails. The DuckDB oracles mirror the split: each supplies
its candidate pairs to ``_pair_dots``, and ``_rank_ctes`` is the one
decimal-cosine + ranked top-k chain (``_knn_oracle`` composes them).
Every plan is pure Column expressions (unrolled folds, no Python UDFs).

Extension surface (SURVEY.md §2.3 similarity row): the reference has
no numeric types beyond int counts (reference 1.cpp:18-21).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.vectors import cosine_exact, dot_fast, norm_sq_fast
from ..plans.decisions import decide
from ..plans.registry import register
from ..sources.tables import load_table, spread, table_stamp

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5
RESCORE_BUFFER = 20  # exact-rescore depth for two-phase ranking
RESCORE_HARD_CAP = 512  # deterministic ceiling on one query's rescore set
SKETCH_BITS = 16
HAMMING_RADIUS = 4

# ------------------------------------------------------------------
# md5-uniform QUERY-SET sample for ann_recall_report (VERDICT r8 task
# 3 — the last prose-only scale knob, SCALE.md's "at corpus scale you
# run the recall eval on a sampled query set"). Ground truth is an
# exact full-corpus scan PER QUERY, so the eval's cost is
# |queries| x |corpus|: bounded only if the evaluated query set is.
# Same machinery as dedup's document eval-sample, verbatim:
#
#   k = max(1, ceil(n_queries / ANN_EVAL_TARGET_QUERIES))
#   keep query  <=>  k == 1 OR md5_prefix('annquery:'||vec_id) % k == 0
#
# computed by a memoized measured probe on the Spark side and the same
# integer-ceil aggregate inline in the oracle CTE, so both engines
# draw the identical query set. At or under the target (every
# driver/test fixture: the registered query set is 10 vectors) the
# predicate is the identity and the report is bit-identical to the
# full evaluation; recall@k estimated on a uniform query sample is an
# unbiased estimate of full recall@k (per-query recalls are averaged,
# not inventoried).
# ------------------------------------------------------------------

#: cap on evaluated query vectors — 64 exact ground-truth scans is a
#: bounded eval cost at ANY corpus size, and a mean over 64 uniform
#: per-query recalls has a standard error under ~0.06 even for
#: worst-case p=0.5 per-hit variance (the report estimates a rate)
ANN_EVAL_TARGET_QUERIES = 64
ANN_EVAL_HEX_DIGITS = 8


def _ann_eval_decision(spark: SparkSession, sf_dir: str, target: int | None = None) -> dict:
    """Measured per-corpus query-sampling decision (decision site
    ``ann_eval``): one count of the registered query set fixes the
    modulus ``k = ceil(n / target)`` by the same integer math the
    oracle CTE runs inline. The oracle recomputes k from the CURRENT
    table on every run, so the table stamp in the key re-probes a
    fixture rewritten in-process (ADVICE r9)."""
    t = ANN_EVAL_TARGET_QUERIES if target is None else target

    def measure() -> dict:
        n = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < N_QUERIES)
            .count()
        )
        k = max(1, (n + t - 1) // t)
        return {"n_queries": int(n), "target_queries": t, "modulus": int(k), "engaged": k > 1}

    return decide("ann_eval", (table_stamp(sf_dir, "embeddings"), t), measure)


def _ann_query_sample_pred(k: int) -> Column:
    """Deterministic 1-in-k predicate over the query ``vec_id`` column
    (pre-aliasing) — the md5-prefix draw, Spark side."""
    from .dedup import _spark_hex_id

    u = _spark_hex_id(
        F.concat(F.lit("annquery:"), F.col("vec_id").cast("string")),
        ANN_EVAL_HEX_DIGITS,
    )
    return F.pmod(u, F.lit(k)) == 0


def _ann_eval_ctes(target: int | None = None) -> str:
    """Oracle CTE pair ``ann_k, eval_queries`` mirroring
    :func:`_ann_eval_decision` + :func:`_ann_query_sample_pred`;
    composes after ``queries`` in the shared ``_knn_head``."""
    from .dedup import _oracle_hex_id

    t = ANN_EVAL_TARGET_QUERIES if target is None else target
    u = _oracle_hex_id(
        "'annquery:' || CAST(q.vec_id AS VARCHAR)", ANN_EVAL_HEX_DIGITS
    )
    return f"""ann_k AS (
  SELECT greatest(1, (count(*) + {t} - 1) // {t}) AS k
  FROM embeddings WHERE vec_id < {N_QUERIES}
), eval_queries AS (
  SELECT q.vec_id, q.embedding FROM queries q, ann_k
  WHERE ann_k.k = 1 OR ({u}) % ann_k.k = 0
)"""


def _rescore_buffer(prelim: DataFrame) -> DataFrame:
    """The buffer cut of ``_knn_rank`` (review r4 + ADVICE r5). rank()
    over the 6-dp-ROUNDED approx — not row_number over the raw double —
    keeps a boundary tie group WHOLE, so the oracle's id-tie-broken
    winner can never be evicted by 1e-16 raw jitter below the buffer
    cut. But on a duplicate-dense corpus one tie group of near-identical
    vectors can exceed RESCORE_BUFFER and make the expensive
    decimal-rescore phase unbounded per query, so a SECOND deterministic
    cut — row_number over (rounded approx DESC, neighbor_id) — caps the
    buffer at RESCORE_HARD_CAP. For vectors whose exact cosines tie
    (true duplicates, the only way giant tie groups arise), the hard cap
    keeps the smallest neighbor_ids — exactly the rows the final
    (cosine DESC, neighbor_id) ranking selects — so the cap can only
    matter when > HARD_CAP vectors that DIFFER at full precision collide
    at 6 dp, below the output's own granularity. Both windows share one
    sort (the second ordering extends the first), so the cap adds no
    exchange and no extra sort (plan-asserted in tests/test_similarity.py)."""
    rounded = F.round(F.col("approx"), 6)
    pw = W.partitionBy("query_id").orderBy(rounded.desc())
    hw = W.partitionBy("query_id").orderBy(rounded.desc(), F.col("neighbor_id"))
    return (
        prelim.withColumn("prnk", F.rank().over(pw))
        .withColumn("hard_rn", F.row_number().over(hw))
        .filter(
            (F.col("prnk") <= RESCORE_BUFFER) & (F.col("hard_rn") <= RESCORE_HARD_CAP)
        )
        .drop("prnk", "hard_rn")
    )


def _rounded_cosine(a: Column, b: Column) -> Column:
    """Exact-sum cosine snapped to 6 decimals (engine-stable)."""
    return F.round(cosine_exact(a, b).cast("decimal(30,12)"), 6).cast("double")


def _knn_side(
    emb: DataFrame, side: str, *carry, vec: str = "embedding", nsq=norm_sq_fast
) -> DataFrame:
    """One side of a candidate relation: ``side`` "q" projects
    (query_id, q_emb, *carry, q_nsq), "n" projects (neighbor_id, n_emb,
    *carry, n_nsq) from ``emb``'s (vec_id, ``vec``). ``carry`` columns
    (names or aliased Columns) pass through unchanged. The squared norm
    is computed ONCE PER VECTOR here, before any join, so scoring a pair
    costs the 64 dot-product multiplies instead of 192 (dot and both
    norms re-derived per pair); a builder that never reads it pays
    nothing (column pruning drops it)."""
    return emb.select(
        F.col("vec_id").alias("query_id" if side == "q" else "neighbor_id"),
        F.col(vec).alias(f"{side}_emb"),
        *carry,
        nsq(vec).alias(f"{side}_nsq"),
    )


def _cross_pairs(queries: DataFrame, neighbors: DataFrame) -> DataFrame:
    """Every (query, other vector) pair: the small query side broadcasts
    and the corpus side streams through the nested loop on however many
    partitions the scan produced — a single-file scan is ONE task, which
    would put every dot product on one core, so it is spread first."""
    return (
        F.broadcast(queries)
        .crossJoin(spread(neighbors))
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )


def _approx_cosine(n_emb: str = "n_emb", n_nsq: str = "n_nsq") -> Column:
    """The cheap approximate cosine of a candidate pair: an unrolled
    double dot over the precomputed per-vector norms (PQ passes its
    reconstruction and its norm as the neighbor side). The sqrt(q*n) vs
    sqrt(q)*sqrt(n) ulp difference is immaterial — this score only
    ranks. try_divide: a zero vector's norm product is 0 — NULL approx
    (ranked NULLS LAST) on both engines, never an ANSI crash."""
    return F.try_divide(
        dot_fast("q_emb", n_emb), F.sqrt(F.col("q_nsq") * F.col(n_nsq))
    )


def _knn_rank(
    cand: DataFrame,
    k: int,
    *keep: str,
    approx: Column | None = None,
    fetch: DataFrame | None = None,
) -> DataFrame:
    """The one kNN rank tail: candidate pairs (query_id, q_emb,
    neighbor_id, n_emb, ...) in, the per-query top ``k`` out as
    (query_id, neighbor_id, *keep, cosine, rnk).

    Rank cheaply, rescore exactly. A plain double-precision score is
    ~100× cheaper than the decimal fold but rounds in an order-dependent
    way, so it is NOT oracle-stable; it may only pre-rank. With
    ``approx`` the pairs are first cut to the tie-safe, hard-capped
    RESCORE_BUFFER best per query (``_rescore_buffer``; WindowGroupLimit
    prunes per partition before the shuffle), and only those survivors
    pay the decimal rescore: the fast/exact disagreement (~1e-15
    relative) is orders of magnitude below any real rank-k→rank-20 gap,
    so the final top-k equals scoring every candidate exactly. Without
    ``approx`` (the sketch ANN, whose candidate set is already small)
    every candidate is rescored. ``fetch`` (neighbor_id, n_emb) joins
    the TRUE vectors onto the buffer only — the PQ deal: codes in the
    index, full precision only for the survivors. The rescore is the
    6-dp decimal cosine, ranked by row_number over (cosine DESC,
    neighbor_id) exactly as ``_rank_ctes`` ranks in the oracle."""
    if approx is not None:
        cols = ["query_id", "q_emb", "neighbor_id", *keep]
        if fetch is None and "n_emb" not in keep:
            cols.append("n_emb")
        cand = _rescore_buffer(cand.select(*cols, approx.alias("approx")))
    if fetch is not None:
        cand = cand.join(fetch, "neighbor_id")
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cand.select(
            "query_id",
            "neighbor_id",
            *keep,
            _rounded_cosine(F.col("q_emb"), F.col("n_emb")).alias("cosine"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


# ------------------------------------------------------------------
# oracle twins: every kNN oracle is a candidate-pair source fed to
# _pair_dots, then the shared _rank_ctes chain
# ------------------------------------------------------------------

_DIMS_NORMS = """dims AS (SELECT unnest(range(1, 65)) AS i),
norms AS (
  SELECT vec_id,
         CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
                       AS DECIMAL(30,20))) AS DOUBLE) AS nsq
  FROM embeddings CROSS JOIN dims
  GROUP BY 1
)"""

#: the default candidate-pair ids: ``q`` and ``e`` are the query and
#: neighbor aliases of every _pair_dots source
_PAIR = ("q.vec_id AS query_id", "e.vec_id AS neighbor_id")


def _knn_head(where: str = f"vec_id < {N_QUERIES}") -> str:
    """WITH head of the embeddings-table oracles: ``dims``, the exact
    per-vector ``norms`` and the ``queries`` rows matching ``where``."""
    return f"""
WITH {_DIMS_NORMS},
queries AS (SELECT * FROM embeddings WHERE {where})"""


def _pair_dots(
    src: str, ids: tuple = _PAIR, a: str = "q.embedding", b: str = "e.embedding"
) -> str:
    """Exact decimal dot product of every candidate pair in ``src`` (a
    FROM clause whose vectors are ``a`` and ``b``), grouped by ``ids`` —
    the oracle twin of the decimal fold in ``cosine_exact``."""
    group = ", ".join(str(i + 1) for i in range(len(ids)))
    return f"""SELECT {", ".join(ids)},
         CAST(sum(CAST(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)
                       AS DECIMAL(30,20))) AS DOUBLE) AS dot
  FROM {src}
  CROSS JOIN dims
  GROUP BY {group}"""


def _rank_ctes(k: int, *keep: str, prefix: str = "") -> str:
    """``{prefix}scored`` (the 6-dp decimal cosine of every pair in
    ``{prefix}dots`` over the shared ``norms``) and ``{prefix}ranked``
    (its per-query top ``k`` on (cosine DESC, neighbor_id)) — the oracle
    twin of ``_knn_rank``'s rescore and top-k. ``keep`` columns ride
    along from the dots CTE."""
    d_keep = "".join(f" d.{c}," for c in keep)
    r_keep = "".join(f"{c}, " for c in keep)
    return f"""{prefix}scored AS (
  SELECT d.query_id, d.neighbor_id,{d_keep}
         CAST(round(CAST(d.dot / (sqrt(nq.nsq) * sqrt(nn.nsq)) AS DECIMAL(30,12)), 6)
              AS DOUBLE) AS cosine
  FROM {prefix}dots d
  JOIN norms nq ON d.query_id = nq.vec_id
  JOIN norms nn ON d.neighbor_id = nn.vec_id
), {prefix}ranked AS (
  SELECT * FROM (
    SELECT query_id, neighbor_id, {r_keep}cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rnk
    FROM {prefix}scored
  ) WHERE rnk <= {k}
)"""


def _knn_oracle(
    head: str, src: str, k: int, *keep: str, ids: tuple = _PAIR, tail: str | None = None
) -> str:
    """A kNN oracle: ``head`` (a WITH chain defining ``dims``, ``norms``
    and whatever ``src`` reads), the exact dots of the ``src`` pairs,
    the shared rank chain, then ``tail`` — by default the top-k rows
    themselves."""
    if tail is None:
        cols = ", ".join(("query_id", "neighbor_id", *keep, "cosine", "rnk"))
        tail = f"""
SELECT {cols}
FROM ranked
ORDER BY query_id, rnk
"""
    return f"""{head}, dots AS (
  {_pair_dots(src, ids)}
), {_rank_ctes(k, *keep)}{tail}"""


@register(
    "knn_cosine_bruteforce",
    oracle=_knn_oracle(
        _knn_head(), "queries q JOIN embeddings e ON e.vec_id != q.vec_id", TOP_K
    ),
    description=f"Exact cosine top-{TOP_K} for {N_QUERIES} query vectors via "
    "broadcast nested-loop scoring + per-query row_number ranking "
    "(tie-broken on neighbor id; cosine snapped to 6 decimals).",
    tags=("similarity", "knn", "bruteforce"),
)
def knn_cosine_bruteforce(
    spark: SparkSession, sf_dir: str, *, query_pred: Column | None = None
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # ann_recall_report's sampled-eval mode: restrict the query set
    # BEFORE the broadcast cross join, so ground-truth cost is
    # |sample| x |corpus|, never |queries| x |corpus|
    emb_q = emb.filter(query_pred) if query_pred is not None else emb
    queries = _knn_side(emb_q.filter(F.col("vec_id") < N_QUERIES), "q")
    cand = _cross_pairs(queries, _knn_side(emb, "n"))
    return _knn_rank(cand, TOP_K, approx=_approx_cosine()).orderBy("query_id", "rnk")


def _sign_sketch_spark(emb: Column) -> Column:
    """16-bit sign sketch: bit i set iff embedding[i] > 0."""
    return reduce(
        Column.__add__,
        [
            F.when(F.element_at(emb, i + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
            for i in range(SKETCH_BITS)
        ],
    ).cast("long")


def _sign_sketch_sql(col: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN {col}[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)" for i in range(SKETCH_BITS)
    )
    return f"CAST({terms} AS BIGINT)"


_SKETCHES = f""",
sketches AS (
  SELECT vec_id, embedding, {_sign_sketch_sql("embedding")} AS sketch FROM embeddings
)"""


def _sketch_pairs(queries: str) -> str:
    """Oracle candidate pairs of the sign-sketch ANN for the query rows
    of CTE ``queries``: every other vector within HAMMING_RADIUS."""
    return f"""{queries} qs
  JOIN sketches q ON q.vec_id = qs.vec_id
  JOIN sketches e
    ON e.vec_id != q.vec_id
   AND bit_count(xor(q.sketch, e.sketch)) <= {HAMMING_RADIUS}"""


@register(
    "knn_sketch_ann",
    oracle=_knn_oracle(_knn_head() + _SKETCHES, _sketch_pairs("queries"), TOP_K),
    description=f"ANN top-{TOP_K}: 16-bit sign-sketch prefilter (candidates "
    f"within Hamming {HAMMING_RADIUS}), exact cosine rerank of survivors. "
    "Same output schema as the brute-force baseline so recall is directly "
    "measurable.",
    tags=("similarity", "knn", "ann", "sketch"),
)
def knn_sketch_ann(
    spark: SparkSession, sf_dir: str, *, query_pred: Column | None = None
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", _sign_sketch_spark(F.col("embedding")).alias("sketch")
    )
    emb_q = emb.filter(query_pred) if query_pred is not None else emb
    queries = _knn_side(
        emb_q.filter(F.col("vec_id") < N_QUERIES), "q", F.col("sketch").alias("q_sketch")
    )
    hamming = F.bit_count(F.col("q_sketch").bitwiseXOR(F.col("sketch")))
    cand = _cross_pairs(queries, _knn_side(emb, "n", "sketch")).filter(
        hamming <= HAMMING_RADIUS
    )
    # the sketch survivors are few: every one gets the exact rescore
    return _knn_rank(cand, TOP_K).orderBy("query_id", "rnk")


IVF_K = 16       # coarse centroids
IVF_N_PROBE = 4  # clusters searched per query
IVF_EXACT_ITERS = 2  # Lloyd rounds for the deterministic quantizer


def _build_ivf_exact_oracle() -> str:
    """Unrolled deterministic-IVF oracle: the shared Lloyd CTE builds
    the identical quantizer, then inverted lists and probe sets; the
    probed pairs take the shared exact-decimal rerank — full value
    parity, unlike an engine-seeded KMeans quantizer ever could."""
    from .vectors import _km_assign_sql, _km_dist_sql, lloyd_cte

    head = lloyd_cte(IVF_K) + f""", cd AS ({_km_dist_sql("xl", "c1l")}
), lists AS ({_km_assign_sql("cd")}
), probes AS (
  SELECT vec_id AS query_id, k FROM (
    SELECT vec_id, k,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
    FROM cd WHERE vec_id < {N_QUERIES}
  ) WHERE rn <= {IVF_N_PROBE}
), {_DIMS_NORMS}"""
    return _knn_oracle(
        head,
        """probes p
  JOIN lists l ON l.k = p.k AND l.vec_id != p.query_id
  JOIN embeddings q ON q.vec_id = p.query_id
  JOIN embeddings e ON e.vec_id = l.vec_id""",
        TOP_K,
    )


@register(
    "knn_ivf_exact_ann",
    oracle=_build_ivf_exact_oracle(),
    description=f"IVF ANN top-{TOP_K} with a DETERMINISTIC coarse "
    f"quantizer: {IVF_EXACT_ITERS}-round exact-decimal Lloyd's k-means "
    f"({IVF_K} centroids seeded from the smallest vec_ids) replaces the "
    "engine-seeded MLlib KMeans variant it retired in r6, so the "
    "inverted lists, "
    f"probe sets ({IVF_N_PROBE} nearest centroids per query), and the "
    "exact cosine rerank are all bit-identical to an unrolled DuckDB "
    "oracle — the IVF family's banding decision itself is value-hash-"
    "checked, not just its recall. Classic IVF search plan: "
    "corpus shuffles once on cluster id, probes broadcast, and the "
    "rerank is two-phase like the bruteforce (cheap double cosine "
    "ranks every candidate, only the top buffer pays the oracle-stable "
    "decimal rescore) — pure Column folds throughout.",
    tags=("similarity", "knn", "ann", "ivf", "vectors", "embedding"),
)
def knn_ivf_exact_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .vectors import lloyd_assign, lloyd_centroids, lloyd_dist_array, lloyd_vectors

    cents = lloyd_centroids(spark, sf_dir, IVF_K, IVF_EXACT_ITERS)
    if not cents:
        return spark.createDataFrame(
            [], "query_id BIGINT, neighbor_id BIGINT, cosine DOUBLE, rnk INT"
        )
    emb = lloyd_vectors(spark, sf_dir)
    # --- index: every vector into its nearest deterministic centroid's
    # list. spread first (r10, guide §2.5): the single-file scan ran the
    # K-centroid fold — and the probe join it feeds — on ONE task.
    lists = _knn_side(lloyd_assign(spread(emb), cents), "n", "k", vec="v")
    # --- probe: per query, the IVF_N_PROBE nearest centroids (sort the
    # tiny per-row struct array, slice, explode — no window needed)
    probes = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            "vec_id",
            "v",
            F.explode(
                F.slice(F.array_sort(lloyd_dist_array(cents)), 1, IVF_N_PROBE)
            ).alias("p"),
        )
        .select("vec_id", "v", F.col("p.k").alias("k"))
    )
    # --- search inside the probed lists
    cand = (
        F.broadcast(_knn_side(probes, "q", "k", vec="v"))
        .join(lists, "k")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    return _knn_rank(cand, TOP_K, approx=_approx_cosine()).orderBy("query_id", "rnk")


# ------------------------------------------------------------------
# int8 scalar-quantized ANN (deterministic → fully oracle-checked)
# ------------------------------------------------------------------


def _quantize_spark(emb: Column, scale: Column) -> Column:
    """Symmetric int8 quantization: q_i = floor(x_i*scale + 0.5).

    Every step is an IEEE double op on exactly-representable inputs,
    so Spark and DuckDB produce identical integers."""
    return F.transform(
        emb,
        lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("long"),
    )


def _int_dot_unrolled(a: str, b: str, dim: int = 64) -> Column:
    """Exact integer dot product of two long-array columns, unrolled
    for whole-stage codegen (|q| <= 127 → no overflow anywhere).
    Built as one parsed SQL string — see ``dot_fast`` on Py4J cost."""
    return F.expr(
        " + ".join(
            f"(element_at({a}, {i + 1}) * element_at({b}, {i + 1}))" for i in range(dim)
        )
    )


def _build_quantized_oracle() -> str:
    """int8 candidates ranked by the de-scaled integer dot, cut to the
    rescore buffer; the buffer takes the shared exact-decimal rerank."""
    head = _knn_head() + f""", meta AS (
  SELECT vec_id,
         127.0 / list_max(list_transform(embedding,
                                         x -> abs(CAST(x AS DOUBLE)))) AS scale
  FROM embeddings
), idots AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         sum(CAST(floor(CAST(q.embedding[i] AS DOUBLE) * mq.scale + 0.5) AS BIGINT)
           * CAST(floor(CAST(e.embedding[i] AS DOUBLE) * me.scale + 0.5) AS BIGINT)) AS idot
  FROM embeddings q
  JOIN embeddings e ON q.vec_id < {N_QUERIES} AND e.vec_id != q.vec_id
  JOIN meta mq ON mq.vec_id = q.vec_id
  JOIN meta me ON me.vec_id = e.vec_id
  CROSS JOIN dims
  GROUP BY 1, 2
), prelim AS (
  SELECT d.query_id, d.neighbor_id,
         row_number() OVER (PARTITION BY d.query_id
                            ORDER BY (CAST(d.idot AS DOUBLE) / (mq.scale * me.scale))
                                     / (sqrt(nq.nsq) * sqrt(nn.nsq)) DESC,
                                     d.neighbor_id) AS prnk
  FROM idots d
  JOIN meta mq ON d.query_id = mq.vec_id
  JOIN meta me ON d.neighbor_id = me.vec_id
  JOIN norms nq ON d.query_id = nq.vec_id
  JOIN norms nn ON d.neighbor_id = nn.vec_id
), buffer AS (
  SELECT query_id, neighbor_id FROM prelim WHERE prnk <= {RESCORE_BUFFER}
)"""
    return _knn_oracle(
        head,
        """buffer b
  JOIN embeddings q ON q.vec_id = b.query_id
  JOIN embeddings e ON e.vec_id = b.neighbor_id""",
        TOP_K,
    )


@register(
    "knn_quantized_ann",
    oracle=_build_quantized_oracle(),
    description=f"Scalar-quantized ANN top-{TOP_K}: vectors compress to "
    "symmetric int8 (scale = 127/max|x| per vector), candidates rank by "
    "the exact INTEGER dot product de-scaled to a cosine estimate, and "
    f"the top {RESCORE_BUFFER} per query get the exact decimal rescore. "
    "Quantization uses only IEEE-exact double ops (floor(x*s+0.5), "
    "power-of-two-free but reproducible), so unlike MinHash/KMeans the "
    "whole pipeline is deterministic and fully value-checked against "
    "the oracle. At scale the int8 corpus is 4× smaller than float32 — "
    "4× the vectors per executor-byte of scan.",
    tags=("similarity", "knn", "ann", "quantization"),
)
def knn_quantized_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import norm_sq_exact

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # try_divide: a zero vector has max|x| = 0 → NULL scale (and NULL
    # quantized values / approx downstream), matching DuckDB's NULL on
    # double division by zero instead of an ANSI crash
    scale = F.try_divide(
        F.lit(127.0),
        F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))),
    )
    sides = emb.select(
        "vec_id",
        "embedding",
        scale.alias("scale"),
        _quantize_spark(F.col("embedding"), scale).alias("q"),
    )

    def side(s: str, df: DataFrame) -> DataFrame:
        # exact norms: the approx below mirrors the oracle's IEEE tree
        carry = [F.col(c).alias(f"{s}_{c}") for c in ("scale", "q")]
        return _knn_side(df, s, *carry, nsq=norm_sq_exact)

    idot = _int_dot_unrolled("q_q", "n_q")
    # parenthesization mirrors the oracle exactly: (idot/(sa*sb)) /
    # (sqrt(nsqa)*sqrt(nsqb)) — identical IEEE trees → identical ranks.
    # try_divide for the zero-vector edge (NULL scale/norm → NULL approx
    # on both engines, ranked NULLS LAST)
    approx = F.try_divide(
        F.try_divide(idot.cast("double"), F.col("q_scale") * F.col("n_scale")),
        F.sqrt(F.col("q_nsq")) * F.sqrt(F.col("n_nsq")),
    )
    queries = side("q", sides.filter(F.col("vec_id") < N_QUERIES))
    cand = _cross_pairs(queries, side("n", sides))
    return _knn_rank(cand, TOP_K, approx=approx).orderBy("query_id", "rnk")


# ------------------------------------------------------------------
# metadata-filtered search: top-k within the query's label group
# ------------------------------------------------------------------

FILTERED_TOP_K = 3


@register(
    "knn_cosine_filtered",
    oracle=_knn_oracle(
        _knn_head(),
        "queries q JOIN embeddings e ON e.label = q.label AND e.vec_id != q.vec_id",
        FILTERED_TOP_K,
    ),
    description=f"Metadata-filtered vector search: exact cosine top-"
    f"{FILTERED_TOP_K} restricted to the query's own label group — the "
    "'filtered ANN' shape every production vector store needs (RAG over "
    "one tenant/language/domain). PRE-filtering: the label equality is "
    "part of the join condition, so Spark plans a broadcast HASH join "
    "on label (not the all-pairs nested loop) and only same-label pairs "
    "are ever scored — at 1000x corpus the scored set shrinks by the "
    "label selectivity, where post-filtering would score everything "
    "and risk starving the top-k.",
    tags=("similarity", "knn", "filtered"),
)
def knn_cosine_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    queries = _knn_side(
        emb.filter(F.col("vec_id") < N_QUERIES), "q", F.col("label").alias("q_label")
    )
    neighbors = spread(_knn_side(emb, "n", F.col("label").alias("n_label")))
    cand = F.broadcast(queries).join(
        neighbors,
        (F.col("q_label") == F.col("n_label"))
        & (F.col("neighbor_id") != F.col("query_id")),
    )
    return _knn_rank(cand, FILTERED_TOP_K, approx=_approx_cosine()).orderBy(
        "query_id", "rnk"
    )


# ------------------------------------------------------------------
# kNN JOIN: every vector is a query (the dedup/clustering workhorse)
# ------------------------------------------------------------------

KNN_JOIN_K = 3


@register(
    "knn_join_bruteforce",
    oracle=_knn_oracle(
        _knn_head("TRUE"), "queries q JOIN embeddings e ON e.vec_id != q.vec_id", KNN_JOIN_K
    ),
    description=f"kNN JOIN: exact cosine top-{KNN_JOIN_K} for EVERY "
    "vector (not a fixed query set) — the all-corpus neighbor join that "
    "embedding dedup and clustering consume. O(n²) exactness baseline: "
    "the corpus self-joins through a broadcast of its (id, vector, "
    "norm) projection, WindowGroupLimit prunes to the rescore buffer "
    "per query before the shuffle, and the decimal-exact rescore runs "
    "only on the buffer. The sketch/IVF/quantized ANN variants are the "
    "100 TB path; this query is their recall ground truth.",
    tags=("similarity", "knn", "join", "bruteforce"),
)
def knn_join_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cand = spread(_knn_side(emb, "q")).join(
        F.broadcast(_knn_side(emb, "n")),
        F.col("neighbor_id") != F.col("query_id"),
    )
    return _knn_rank(cand, KNN_JOIN_K, approx=_approx_cosine()).orderBy(
        "query_id", "rnk"
    )


# ------------------------------------------------------------------
# Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
# the diversified top-k a retrieval pipeline serves when near-duplicate
# neighbors crowd the raw cosine ranking — pick the best match, then
# repeatedly pick the candidate maximizing
#     λ·cos(q, d) − (1−λ)·max_{s ∈ selected} cos(d, s).
# ------------------------------------------------------------------

MMR_LAMBDA = 0.7
MMR_POOL = RESCORE_BUFFER  # candidate pool: the exact top-20 per query
MMR_K = 5


def _nz(c: Column) -> Column:
    """+0.0-normalize: round() of a tiny negative yields -0.0, whose
    sign survives into the value hash and into (-x) ordering keys —
    adding literal 0.0 maps -0.0 → +0.0 and changes nothing else."""
    return c + F.lit(0.0)


def _mmr_oracle() -> str:
    lam, om = repr(MMR_LAMBDA), repr(1.0 - MMR_LAMBDA)
    rounds = []
    for k in range(2, MMR_K + 1):
        prev = f"selu{k - 1}"
        rounds.append(
            f"""sel{k} AS (
  SELECT query_id, neighbor_id, {k} AS rnk, mmr_score FROM (
    SELECT c.query_id, c.neighbor_id,
           {lam} * c.cosine - {om} * m.maxsim AS mmr_score,
           row_number() OVER (PARTITION BY c.query_id
                              ORDER BY {lam} * c.cosine - {om} * m.maxsim DESC,
                                       c.neighbor_id) AS rn
    FROM cand c
    JOIN (
      SELECT cc.query_id, cc.na AS neighbor_id, max(cc.sim) AS maxsim
      FROM cc JOIN {prev} s
        ON cc.query_id = s.query_id AND cc.nb = s.neighbor_id
      GROUP BY 1, 2
    ) m ON m.query_id = c.query_id AND m.neighbor_id = c.neighbor_id
    WHERE NOT EXISTS (
      SELECT 1 FROM {prev} s2
      WHERE s2.query_id = c.query_id AND s2.neighbor_id = c.neighbor_id
    )
  ) WHERE rn = 1
), selu{k} AS (
  SELECT * FROM {prev} UNION ALL SELECT * FROM sel{k}
)"""
        )
    chained = ",\n".join(rounds)
    ccdots = _pair_dots(
        """cand a
  JOIN cand b ON a.query_id = b.query_id AND a.neighbor_id != b.neighbor_id
  JOIN embeddings ea ON ea.vec_id = a.neighbor_id
  JOIN embeddings eb ON eb.vec_id = b.neighbor_id""",
        ("a.query_id", "a.neighbor_id AS na", "b.neighbor_id AS nb"),
        "ea.embedding",
        "eb.embedding",
    )
    # the pool is the shared rank chain's top MMR_POOL; + 0.0 maps a
    # -0.0 cosine to +0.0 (see _nz) once the pool is cut
    tail = f""", cand AS (
  SELECT query_id, neighbor_id, cosine + 0.0 AS cosine FROM ranked
), ccdots AS (
  {ccdots}
), cc AS (
  SELECT c.query_id, c.na, c.nb,
         CAST(round(CAST(c.dot / (sqrt(na_.nsq) * sqrt(nb_.nsq)) AS DECIMAL(30,12)), 6)
              AS DOUBLE) + 0.0 AS sim
  FROM ccdots c
  JOIN norms na_ ON c.na = na_.vec_id
  JOIN norms nb_ ON c.nb = nb_.vec_id
), sel1 AS (
  SELECT query_id, neighbor_id, 1 AS rnk, cosine AS mmr_score FROM (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rn
    FROM cand
  ) WHERE rn = 1
), selu1 AS (SELECT * FROM sel1),
{chained}
SELECT query_id, rnk, neighbor_id, mmr_score
FROM selu{MMR_K}
ORDER BY query_id, rnk
"""
    return _knn_oracle(
        _knn_head(), "queries q JOIN embeddings e ON e.vec_id != q.vec_id", MMR_POOL, tail=tail
    )


@register(
    "knn_mmr_rerank",
    oracle=_mmr_oracle(),
    description=f"MMR diversified top-{MMR_K}: from each query's exact "
    f"top-{MMR_POOL} cosine pool, greedily select λ·relevance − "
    f"(1−λ)·max-similarity-to-selected (λ = {MMR_LAMBDA}) — the "
    "re-ranking a retrieval pipeline applies when near-duplicate "
    "neighbors crowd the raw ranking. Every selection round is a pure "
    "DataFrame step (anti-join + max-sim aggregate + one min(struct) "
    "argmax per query) — queries diversify in parallel with NO driver "
    "round-trips; the candidate pool reuses the two-phase rescore "
    "buffer, and the pool-pair similarity relation is "
    f"{MMR_POOL}²-bounded per query. Oracle: the same greedy rounds "
    "unrolled as chained CTEs.",
    tags=("similarity", "knn", "mmr", "rerank"),
)
def knn_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id"), F.col("embedding")
    ).filter(F.col("embedding").isNotNull())
    cand = _cross_pairs(
        _knn_side(emb.filter(F.col("vec_id") < N_QUERIES), "q"), _knn_side(emb, "n")
    )
    # the pool: the exact top-MMR_POOL per query from the shared tail
    pool = _knn_rank(cand, MMR_POOL, "n_emb", approx=_approx_cosine())
    # ---- greedy selection as ONE plan over per-query pool arrays
    # (r10 optimization, guide §1.2/§2.4). The former implementation
    # ran every selection round as relational joins with an eager
    # localCheckpoint per round — correct, but 53 jobs at sf0.1 whose
    # scheduling barriers dominated the wall clock (profiled: ~4.7
    # exec-s of real work in a 3.4-3.6 s query). The pool is ≤ MMR_POOL
    # rows per query BY CONSTRUCTION, so the whole greedy loop fits in
    # row-local array expressions: collect each query's pool once,
    # stage the POOL×POOL sim matrix as one column (same 6-dp rounded
    # exact-decimal cosine), then unroll the K selection rounds as
    # staged projections — argmax via array_min over (-score, nid)
    # structs, EXACTLY the min(struct) tie-break the join form used.
    # One job + broadcasts instead of 53; identical output (oracle
    # unchanged, hand-fixture + rank-1-parity tests unchanged).
    pool0 = (
        pool.groupBy("query_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("neighbor_id").alias("nid"),
                        _nz(F.col("cosine")).alias("cos"),
                        F.col("n_emb").alias("emb"),
                    )
                )
            ).alias("pool0")
        )
    )
    sims = F.transform(
        F.col("pool0"),
        lambda a: F.transform(
            F.col("pool0"),
            lambda b: F.when(
                a["nid"] == b["nid"], F.lit(None).cast("double")
            ).otherwise(_nz(_rounded_cosine(a["emb"], b["emb"]))),
        ),
    )
    st = (
        pool0.withColumn("sims", sims)
        .withColumn(
            "pool",
            F.transform(
                "pool0",
                lambda p: F.struct(p["nid"].alias("nid"), p["cos"].alias("cos")),
            ),
        )
        .drop("pool0")
    )
    lam, om = MMR_LAMBDA, 1.0 - MMR_LAMBDA

    def _cand_struct(score, p, i):
        # the score rides as payload so no -(-x) renegation touches it
        return F.struct(
            (-score).alias("ns"), p["nid"].alias("nid"), score.alias("sc"), i.alias("i")
        )

    # round 1: pure relevance (empty selected set)
    st = st.withColumn(
        "b1",
        F.array_min(F.transform("pool", lambda p, i: _cand_struct(p["cos"], p, i))),
    ).withColumn("seli", F.array(F.col("b1")["i"]))
    for k in range(2, MMR_K + 1):

        def _per_cand(p, i):
            maxsim = F.array_max(
                F.transform(
                    F.col("seli"),
                    lambda j: F.element_at(
                        F.element_at("sims", (i + F.lit(1)).cast("int")),
                        (j + F.lit(1)).cast("int"),
                    ),
                )
            )
            score = F.lit(lam) * p["cos"] - F.lit(om) * maxsim
            return F.when(F.array_contains(F.col("seli"), i), F.lit(None)).otherwise(
                _cand_struct(score, p, i)
            )

        st = st.withColumn(f"b{k}", F.array_min(F.transform("pool", _per_cand)))
        st = st.withColumn("seli", F.concat("seli", F.array(F.col(f"b{k}")["i"])))
    rows = F.array(
        *[
            F.when(
                F.col(f"b{k}").isNotNull(),
                F.struct(
                    F.col(f"b{k}")["nid"].alias("neighbor_id"),
                    F.lit(k).alias("rnk"),
                    F.col(f"b{k}")["sc"].alias("mmr_score"),
                ),
            )
            for k in range(1, MMR_K + 1)
        ]
    )
    return (
        st.select("query_id", F.explode(rows).alias("r"))
        .filter(F.col("r").isNotNull())
        .select(
            "query_id",
            F.col("r.neighbor_id").alias("neighbor_id"),
            F.col("r.rnk").alias("rnk"),
            F.col("r.mmr_score").alias("mmr_score"),
        )
        .orderBy("query_id", "rnk")
    )


# ------------------------------------------------------------------
# hard-negative mining: nearest vectors with a DIFFERENT label
# ------------------------------------------------------------------

HARD_NEG_K = 5


@register(
    "hard_negative_mining",
    oracle=_knn_oracle(
        _knn_head(),
        "queries q JOIN embeddings e ON e.label != q.label AND e.vec_id != q.vec_id",
        HARD_NEG_K,
        "n_label",
        ids=(*_PAIR, "e.label AS n_label"),
    ),
    description=f"Hard-negative mining for contrastive training: for "
    f"each anchor (the {N_QUERIES} query vectors), the top-{HARD_NEG_K} "
    "most-cosine-similar vectors whose label DIFFERS — maximally "
    "confusable negatives, the batch-construction step behind triplet/"
    "InfoNCE pipelines (random negatives are too easy; these sit at "
    "the decision boundary). The label inequality lives in the join "
    "condition so only cross-label pairs are ever scored; the two-"
    "phase ranking (cheap double cosine for the buffer cut, exact "
    "decimal rescore of the buffer) is shared with every other kNN "
    "variant. NULL-label vectors compare UNKNOWN on both engines and "
    "mine nothing. At 100 TB the anchor set broadcasts and the corpus "
    "streams — no shuffle of embeddings.",
    tags=("similarity", "knn", "ml-prep", "sampling"),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    queries = _knn_side(
        emb.filter(F.col("vec_id") < N_QUERIES), "q", F.col("label").alias("q_label")
    )
    neighbors = spread(_knn_side(emb, "n", F.col("label").alias("n_label")))
    cand = F.broadcast(queries).join(
        neighbors,
        (F.col("q_label") != F.col("n_label"))
        & (F.col("neighbor_id") != F.col("query_id")),
    )
    return _knn_rank(cand, HARD_NEG_K, "n_label", approx=_approx_cosine()).orderBy(
        "query_id", "rnk"
    )


# ------------------------------------------------------------------
# product-quantized ANN (deterministic codebooks → fully oracle-checked)
# ------------------------------------------------------------------

PQ_M = 8        # subspaces
PQ_SUBDIM = 8   # dims per subspace (PQ_M * PQ_SUBDIM = 64)
PQ_K = 8        # centroids per subspace codebook (3-bit codes)


def _pq_codebooks(spark: SparkSession, sf_dir: str) -> dict:
    """Deterministic PQ codebooks: per subspace, PQ_K seeds = the
    sub-vectors of the PQ_K smallest vec_ids, then ONE Lloyd update
    (assign by ordered-IEEE-fold distance with smallest-k tie-break,
    re-center with exact-decimal means snapped to 6 dp, empty clusters
    keep their seed) — the kmeans_lloyd recipe per subspace, so a SQL
    oracle replays every value bit-for-bit. Returns
    {m: {k: [PQ_SUBDIM floats]}} ({} on an empty corpus). Driver state
    is bounded: the seed collect is <= PQ_K rows, the mean collect is
    <= PQ_M*PQ_K*PQ_SUBDIM = 512 rows (the MLlib driver-state
    pattern, same budget note as lloyd_centroids)."""
    from .vectors import DECV, lloyd_vectors

    emb = lloyd_vectors(spark, sf_dir)
    seeds = emb.orderBy("vec_id").limit(PQ_K).collect()
    if not seeds:
        return {}
    cents = {
        m: {
            i: [float(x) for x in r.v[m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM]]
            for i, r in enumerate(seeds)
        }
        for m in range(PQ_M)
    }
    # one scan, zero joins: each row emits (m, k, j, x) cells directly —
    # the chosen centroid id rides along in the same flattened struct
    # array as the sub-vector values, so the mean aggregate is the only
    # exchange (64 slim cells per vector). The assignment is STAGED as
    # real k{m} columns first: referencing _pq_best inside the transform
    # lambda would re-evaluate the whole 8-centroid distance fold per
    # ELEMENT (the r5 higher-order-fn argument-recompute trap), and a
    # multi-referenced staged column is safe from CollapseProject
    # re-inlining.
    # spread before the per-subspace distance folds (r10 optimization,
    # guide §2.5): the single-file scan ran the staged encode on ONE task
    staged = spread(emb).select(
        "v",
        *[_pq_best(m, cents[m])["k"].alias(f"k{m}") for m in range(PQ_M)],
    )
    def _cell_fn(m: int):
        # bind m via closure: a `m=m` default would change the lambda's
        # visible arity and break PySpark's higher-order-function binding
        return lambda x, j: F.struct(
            F.lit(m).alias("m"),
            F.col(f"k{m}").alias("k"),
            j.cast("int").alias("j"),
            x.alias("x"),
        )

    cells = F.flatten(
        F.array(
            *[
                F.transform(
                    F.slice(F.col("v"), m * PQ_SUBDIM + 1, PQ_SUBDIM),
                    _cell_fn(m),
                )
                for m in range(PQ_M)
            ]
        )
    )
    means = (
        staged.select(F.explode(cells).alias("c"))
        .select("c.m", "c.k", "c.j", "c.x")
        .groupBy("m", "k", "j")
        .agg(
            F.round(
                (
                    F.sum(F.col("x").cast(DECV)).cast("double")
                    / F.count(F.lit(1))
                ).cast("decimal(30,12)"),
                6,
            )
            .cast("double")
            .alias("c")
        )
        .collect()
    )
    got = {(r.m, r.k, r.j): float(r.c) for r in means}
    return {
        m: {
            k: [
                got.get((m, k, j), cents[m][k][j])
                for j in range(len(cents[m][k]))
            ]
            for k in cents[m]
        }
        for m in cents
    }


def _pq_best(m: int, cents_m: dict):
    """Min (d, k, c) struct for subspace ``m``: distance of the row's
    m-th sub-slice of ``v`` to each literal centroid as the same
    ordered IEEE fold the oracle's list_reduce replays; struct order
    (d, k, c) breaks distance ties on the smallest centroid id (c is
    never compared — (d, k) is unique)."""
    sub = F.slice(F.col("v"), m * PQ_SUBDIM + 1, PQ_SUBDIM)
    # ONE nested-array Literal per subspace instead of a K×dim
    # scalar-literal struct tree; centroid id = transform index (keys
    # are 0..K-1 by construction — enumerate-seeded, checked). Same
    # r11 plan-cost note as lloyd_dist_array.
    ks = sorted(cents_m)
    if ks != list(range(len(ks))):
        raise ValueError(
            f"codebook keys must be exactly 0..K-1 (the cluster id is the "
            f"literal's transform index); got {ks}"
        )
    cent_lit = F.lit([[float(c) for c in cents_m[k]] for k in ks])
    dists = F.transform(
        cent_lit,
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(sub, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, y: acc + y,
            ).alias("d"),
            i.cast("int").alias("k"),
            c.alias("c"),
        ),
    )
    return F.array_min(dists)


def _build_pq_oracle() -> str:
    """Unrolled deterministic-PQ oracle: per-subspace seed/assign/
    re-center CTEs build the identical codebooks, every vector encodes
    to its nearest centroid per subspace, reconstructions drive the
    approx ranking, and the buffer gets the exact-decimal cosine
    rescore — the same two-phase shape as the other kNN oracles."""
    fold = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform({x}.sv, (a, i) -> (a - {c}.c[i]) * (a - {c}.c[i]))), "
        "(acc, y) -> acc + y)"
    )
    head = f"""
WITH e AS (
  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
), x AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM e
), xj AS (
  SELECT vec_id, CAST(dim // {PQ_SUBDIM} AS INT) AS m,
         CAST(dim % {PQ_SUBDIM} AS INT) AS j, x
  FROM x
), xs AS (
  SELECT vec_id, m, list(x ORDER BY j) AS sv FROM xj GROUP BY vec_id, m
), seed AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, vec_id
  FROM e ORDER BY vec_id LIMIT {PQ_K}
), c0 AS (
  SELECT s.k, xs.m, xs.sv AS c FROM seed s JOIN xs USING (vec_id)
), d0 AS (
  SELECT xs.vec_id, xs.m, c0.k, {fold.format(x="xs", c="c0")} AS d
  FROM xs JOIN c0 USING (m)
), a0 AS (
  SELECT vec_id, m, k FROM (
    SELECT vec_id, m, k,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
    FROM d0
  ) WHERE rn = 1
), c1m AS (
  SELECT a0.m, a0.k, xj.j,
         CAST(round(CAST(CAST(sum(CAST(xj.x AS DECIMAL(38,12))) AS DOUBLE)
              / count(*) AS DECIMAL(30,12)), 6) AS DOUBLE) AS c
  FROM a0 JOIN xj ON a0.vec_id = xj.vec_id AND a0.m = xj.m
  GROUP BY 1, 2, 3
), c0j AS (
  SELECT k, m, generate_subscripts(c, 1) - 1 AS j, unnest(c) AS c
  FROM c0
), c1 AS (
  SELECT c0j.m, c0j.k, c0j.j, coalesce(c1m.c, c0j.c) AS c
  FROM c0j LEFT JOIN c1m
    ON c0j.m = c1m.m AND c0j.k = c1m.k AND c0j.j = c1m.j
), c1l AS (
  SELECT m, k, list(c ORDER BY j) AS c FROM c1 GROUP BY m, k
), d1 AS (
  SELECT xs.vec_id, xs.m, c1l.k, {fold.format(x="xs", c="c1l")} AS d
  FROM xs JOIN c1l USING (m)
), code AS (
  SELECT vec_id, m, k FROM (
    SELECT vec_id, m, k,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
    FROM d1
  ) WHERE rn = 1
), rx AS (
  SELECT cd.vec_id, cd.m * {PQ_SUBDIM} + c1j.j AS dim, c1j.c AS rxv
  FROM code cd
  JOIN (SELECT m, k, generate_subscripts(c, 1) - 1 AS j, unnest(c) AS c
        FROM c1l) c1j
    ON c1j.m = cd.m AND c1j.k = cd.k
), {_DIMS_NORMS}, rnorms AS (
  SELECT vec_id,
         CAST(sum(CAST(rxv * rxv AS DECIMAL(30,20))) AS DOUBLE) AS rnsq
  FROM rx GROUP BY 1
), adots AS (
  SELECT xq.vec_id AS query_id, rx.vec_id AS neighbor_id,
         CAST(sum(CAST(xq.x * rx.rxv AS DECIMAL(30,20))) AS DOUBLE) AS adot
  FROM x xq
  JOIN rx ON rx.dim = xq.dim AND rx.vec_id != xq.vec_id
  WHERE xq.vec_id < {N_QUERIES}
  GROUP BY 1, 2
), prelim AS (
  SELECT a.query_id, a.neighbor_id,
         row_number() OVER (PARTITION BY a.query_id
                            ORDER BY a.adot / (sqrt(nq.nsq) * sqrt(rn.rnsq))
                                     DESC, a.neighbor_id) AS prnk
  FROM adots a
  JOIN norms nq ON a.query_id = nq.vec_id
  JOIN rnorms rn ON a.neighbor_id = rn.vec_id
), buffer AS (
  SELECT query_id, neighbor_id FROM prelim WHERE prnk <= {RESCORE_BUFFER}
)"""
    return _knn_oracle(
        head,
        """buffer b
  JOIN embeddings q ON q.vec_id = b.query_id
  JOIN embeddings e ON e.vec_id = b.neighbor_id""",
        TOP_K,
    )


@register(
    "knn_pq_ann",
    oracle=_build_pq_oracle(),
    description=f"Product-quantized ANN top-{TOP_K} with DETERMINISTIC "
    f"codebooks: {PQ_M} subspaces x {PQ_SUBDIM} dims, {PQ_K} centroids "
    "each (one exact-decimal Lloyd update from smallest-vec_id seeds — "
    "the kmeans_lloyd recipe per subspace), every vector compressed to "
    f"{PQ_M} 3-bit codes, candidates ranked by cosine against the "
    "codebook RECONSTRUCTION, and only the rescore buffer fetches true "
    "vectors for the exact-decimal rerank. The search plan is the real "
    "PQ shape: the scored relation carries (vec_id, codes) — "
    f"{PQ_M} bytes instead of 256 — so at 100 TB the ANN scan reads "
    "a ~30x smaller index and the full-precision corpus is touched "
    "only by the buffer-sized rerank join. Codebooks, codes, and "
    "reconstructions are all bit-identical to the unrolled DuckDB "
    "oracle (ordered IEEE folds + snapped decimal means), so the "
    "whole index — not just its recall — is value-hash-checked.",
    tags=("similarity", "knn", "ann", "quantization", "vectors"),
)
def knn_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .vectors import lloyd_vectors

    cents = _pq_codebooks(spark, sf_dir)
    if not cents:
        return spark.createDataFrame(
            [], "query_id BIGINT, neighbor_id BIGINT, cosine DOUBLE, rnk INT"
        )
    emb = lloyd_vectors(spark, sf_dir)
    # --- encode: codes + reconstruction in ONE projection (the best
    # struct per subspace carries its centroid along, so no join)
    bests = [_pq_best(m, cents[m]) for m in range(PQ_M)]
    recon = F.flatten(F.array(*[b["c"] for b in bests]))
    neighbors = emb.select(
        F.col("vec_id").alias("neighbor_id"), recon.alias("recon")
    ).withColumn("rnsq", norm_sq_fast("recon"))
    queries = _knn_side(emb.filter(F.col("vec_id") < N_QUERIES), "q", vec="v")
    cand = _cross_pairs(queries, neighbors)
    # rank on the reconstruction; only the buffer fetches TRUE vectors
    truth = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("n_emb"))
    return _knn_rank(
        cand, TOP_K, approx=_approx_cosine("recon", "rnsq"), fetch=truth
    ).orderBy("query_id", "rnk")


# ------------------------------------------------------------------
# ANN evaluation: recall@k of the sketch ANN vs exact ground truth
# ------------------------------------------------------------------


def _ann_recall_oracle(target: int | None = None) -> str:
    """The full ann_recall_report oracle SQL: the knn_cosine_bruteforce
    chain (ground truth) and the knn_sketch_ann chain (the ``s_``
    prefix) over the md5-uniform query sample, both on the shared rank
    chain, then a per-query left join of the two top-k sets.
    ``target`` parameterizes the sample cap for the forced-k parity
    tests; the registered oracle uses the default."""
    return f"""{_knn_head()}, {_ann_eval_ctes(target)}{_SKETCHES}, dots AS (
  {_pair_dots("eval_queries q JOIN embeddings e ON e.vec_id != q.vec_id")}
), {_rank_ctes(TOP_K)}, s_dots AS (
  {_pair_dots(_sketch_pairs("eval_queries"))}
), {_rank_ctes(TOP_K, prefix="s_")}
SELECT e.query_id,
       count(*) AS n_exact,
       CAST(coalesce(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_matched,
       CAST(round(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                       * 1.0 / count(*) AS DECIMAL(30,12)), 4)
            AS DOUBLE) AS recall_at_k
FROM ranked e
LEFT JOIN s_ranked a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
ORDER BY e.query_id
"""


@register(
    "ann_recall_report",
    oracle=_ann_recall_oracle(),
    description=f"ANN quality evaluation: recall@{TOP_K} of the "
    "sign-sketch ANN (knn_sketch_ann) against the exact brute-force "
    f"top-{TOP_K} (knn_cosine_bruteforce), per query vector. The "
    "measure-don't-guess gate every approximate index needs before a "
    "production rollout: both rankings run (ground truth is the "
    "expensive half — that is the honest cost of an evaluation), the "
    "two top-k sets join per query, and the report is |exact ∩ "
    "approx| / k. Composes the two registered builders unchanged, so "
    "the evaluated paths ARE the production paths. The evaluated "
    "query set is capped by the md5-uniform 1-in-k draw above "
    f"(identity at or under {ANN_EVAL_TARGET_QUERIES} queries — every "
    "driver fixture; measured + memoized per corpus, mirrored inline "
    "in the oracle CTE), so ground-truth cost is bounded at any "
    "corpus size: a uniform query sample gives an unbiased recall@k "
    "estimate.",
    tags=("similarity", "knn", "ann", "report"),
)
def ann_recall_report(
    spark: SparkSession, sf_dir: str, *, eval_target: int | None = None
) -> DataFrame:
    # measured query-set sampling decision (identity when the
    # registered query set fits the target — every driver fixture)
    d = _ann_eval_decision(spark, sf_dir, target=eval_target)
    pred = _ann_query_sample_pred(d["modulus"]) if d["engaged"] else None
    exact = knn_cosine_bruteforce(spark, sf_dir, query_pred=pred).select(
        "query_id", "neighbor_id"
    )
    approx = knn_sketch_ann(spark, sf_dir, query_pred=pred).select(
        "query_id", F.col("neighbor_id").alias("a_neighbor_id")
    )
    joined = exact.join(
        approx,
        (exact["query_id"] == approx["query_id"])
        & (exact["neighbor_id"] == approx["a_neighbor_id"]),
        "left",
    ).select(exact["query_id"], "neighbor_id", "a_neighbor_id")
    matched = F.sum(
        F.when(F.col("a_neighbor_id").isNotNull(), 1).otherwise(0)
    )
    return (
        joined.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            matched.cast("bigint").alias("n_matched"),
            F.round(
                (matched * 1.0 / F.count(F.lit(1))).cast("decimal(30,12)"), 4
            )
            .cast("double")
            .alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


#: forced sample cap for the registered *_sampled twin: small enough
#: that the 1-in-k draw ENGAGES on every driver fixture (the 10-vector
#: registered query set -> k = ceil(10/4) = 3)
ANN_EVAL_FORCED_TARGET = 4


@register(
    "ann_recall_report_sampled",
    oracle=_ann_recall_oracle(target=ANN_EVAL_FORCED_TARGET),
    description="ann_recall_report with the query-sample target FORCED "
    f"to {ANN_EVAL_FORCED_TARGET}, so the md5-uniform 1-in-k draw "
    "ENGAGES (k = 3 on the 10-vector registered query set) at every "
    "fixture size — the branch a 100 TB corpus actually runs. The "
    "default-target twin is the identity draw (k = 1) on every "
    "driver fixture, so without this entry the engaged branch would "
    "only ever be pytest-checked (VERDICT r9 task 6); here the driver "
    "certifies the restricted ground-truth scan, the restricted "
    "sketch chain, and the oracle's mirrored inline sample CTE "
    "end-to-end. Same plan shape as the production report — only the "
    "modulus differs (the column_stats_profile_approx pattern: "
    "register the engaged configuration as its own query).",
    tags=("similarity", "knn", "ann", "report", "sampled"),
)
def ann_recall_report_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_recall_report(spark, sf_dir, eval_target=ANN_EVAL_FORCED_TARGET)
