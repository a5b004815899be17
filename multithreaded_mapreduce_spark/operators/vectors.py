"""Vector-column aggregation over ``embeddings``: per-label centroids
and L2 norms — the embedding-space statistics a training-data pipeline
computes for clustering sanity checks and class-balance audits.

The reference has no numeric aggregation beyond counting (SURVEY.md
§2.1). Here the ``array<float>`` column is aggregated dimension-wise:
``posexplode`` → (label, dim) groupBy with exact decimal sums, so the
centroid is bit-identical under any partitioning (float → double is an
exact widening; double → decimal rounds identically in both engines).

Scale notes: the explode produces |rows|×64 slim rows that partial-
aggregate map-side down to |labels|×64 before the shuffle — the
at-scale alternative (``F.aggregate`` over a zipped array accumulator)
keeps rows intact but cannot map-side-combine across rows without a
custom UDAF; the explode form gets that for free from HashAggregate.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import DEC
from ..plans.registry import register
from ..sources.tables import load_table


@register(
    "embedding_label_centroids",
    oracle=f"""
WITH dims AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(embedding) AS v
  FROM embeddings
)
SELECT label, dim, count(*) AS n_vectors,
       CAST(round(CAST(CAST(sum(CAST(CAST(v AS DOUBLE) AS {DEC})) AS DOUBLE) / count(*)
                       AS DECIMAL(30,12)), 6) AS DOUBLE) AS centroid,
       CAST(round(CAST(CAST(sum(CAST(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) AS {DEC})) AS DOUBLE)
                       / count(*) AS DECIMAL(30,12)), 6) AS DOUBLE) AS mean_sq
FROM dims GROUP BY label, dim
ORDER BY label, dim
""",
    description="Dimension-wise centroid and mean-square per label over "
    "64-dim float embeddings: posexplode to slim (label, dim, value) "
    "rows, exact decimal sums partial-aggregated map-side down to "
    "|labels|×64 rows before the shuffle. Bit-identical to the oracle "
    "under any partitioning.",
    tags=("vectors", "embeddings", "centroid", "aggregate"),
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).select("label", "dim", F.col("v").cast("double").alias("v"))
    return (
        dims.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(
                (F.sum(F.col("v").cast(DEC)).cast("double") / F.count(F.lit(1))).cast(
                    "decimal(30,12)"
                ),
                6,
            )
            .cast("double")
            .alias("centroid"),
            F.round(
                (
                    F.sum((F.col("v") * F.col("v")).cast(DEC)).cast("double")
                    / F.count(F.lit(1))
                ).cast("decimal(30,12)"),
                6,
            )
            .cast("double")
            .alias("mean_sq"),
        )
        .orderBy("label", "dim")
    )


@register(
    "embedding_standardize",
    oracle=f"""
WITH dims AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
), st AS (
  SELECT dim, count(*) AS n,
         CAST(sum(CAST(v AS {DEC})) AS DOUBLE) AS sx,
         CAST(sum(CAST(v * v AS {DEC})) AS DOUBLE) AS sxx
  FROM dims GROUP BY dim
)
SELECT d.vec_id,
       string_agg(
         coalesce(CAST(CAST(round(CAST((d.v - st.sx / st.n)
                   / sqrt((st.sxx - st.sx * st.sx / st.n) / (st.n - 1))
                 AS DECIMAL(30,12)), 4) AS DECIMAL(20,4)) AS VARCHAR),
                  'null'),
         '|' ORDER BY d.dim) AS zvec
FROM dims d JOIN st USING (dim)
GROUP BY d.vec_id
ORDER BY d.vec_id
""",
    description="Per-dimension z-score standardization of the embedding "
    "matrix (feature scaling before clustering/ANN): posexplode to slim "
    "(vec_id, dim, value) rows, per-dim mean/std from exact decimal "
    "power sums (map-side-combined to 64 rows), broadcast back, then "
    "re-assemble each vector with array_sort ∘ collect_list. The "
    "output vector is serialized '|'-joined fixed-scale DECIMAL(20,4) "
    "strings (NULL components spelled 'null'), not a raw array column: "
    "driver-side result canonicalizers sort through pandas, which "
    "cannot hash list cells, so every registered query's final schema "
    "must be scalar (enforced by tests/test_plan_lint.py). The stats "
    "branch re-scans the exploded projection — at 100 TB persist the "
    "slim projection or accept the second column-pruned scan.",
    tags=("vectors", "embeddings", "ml-prep", "aggregate"),
)
def embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "v")
    ).select("vec_id", "dim", F.col("v").cast("double").alias("v"))
    v = F.col("v")
    stats = dims.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v.cast(DEC)).cast("double").alias("sx"),
        F.sum((v * v).cast(DEC)).cast("double").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("sx") / nd
    # try_divide twice: n=1 makes the variance denominator 0, and a
    # constant dimension makes std 0 — DuckDB returns NULL for double
    # division by zero in both spots, so NULL z (not an ANSI crash)
    # keeps the engines identical on degenerate input
    std = F.sqrt(
        F.try_divide(F.col("sxx") - F.col("sx") * F.col("sx") / nd, nd - 1)
    )
    # fixed-scale decimal string per component: DECIMAL(20,4)::string
    # renders identically ("x.xxxx", no sign on zero, trailing zeros
    # kept) in Spark and DuckDB, so the joined string is bit-stable
    z = F.round(F.try_divide(v - mean, std).cast("decimal(30,12)"), 4).cast(
        "decimal(20,4)"
    )
    return (
        dims.join(F.broadcast(stats), "dim")
        .select("vec_id", "dim", z.alias("z"))
        .groupBy("vec_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "z"))),
                    lambda s: F.coalesce(
                        s["z"].cast("string"), F.lit("null")
                    ),
                ),
                "|",
            ).alias("zvec")
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# Lloyd's k-means (fixed-iteration, oracle-exact)
# --------------------------------------------------------------------------

#: k-means configuration: K seeds (the K smallest vec_ids), ITERS
#: assignment rounds (ITERS − 1 centroid updates between them). Small
#: fixed constants keep the unrolled oracle readable; the Spark loop
#: is generic in both.
KMEANS_K = 8
KMEANS_ITERS = 2

#: distance/centroid sums use a finer decimal than the money DEC:
#: squared embedding deltas are ~1e-2, so 12 fractional digits keep
#: ~10 significant digits per term while the decimal addition stays
#: exact and order-independent in both engines.
DECV = "DECIMAL(38,12)"


def _km_dist_sql(xrel: str, crel: str) -> str:
    """Squared-L2 distance per (vec, centroid) as an ORDERED double fold.

    ``xrel``/``crel`` are list-form relations ((vec_id, v list) ×
    (k, c list)). IEEE sub/mul/add are exactly specified, so a fold in
    a FIXED order is bit-identical across engines — ``list_prepend(0.0)``
    + left ``list_reduce`` reproduces Spark's ``aggregate(…, 0.0, +)``
    sequence term for term (including the empty-vector case → 0.0).
    This replaced the exact-decimal row-sum distance in r4: decimal made
    the sum ORDER-independent, but per-element interpreted decimal
    arithmetic was ~5× the cost of the fold, and a fixed-order fold
    doesn't need order independence."""
    return f"""
  SELECT {xrel}.vec_id, {crel}.k,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform({xrel}.v, (a, i) ->
               (a - {crel}.c[i]) * (a - {crel}.c[i]))),
           (acc, y) -> acc + y) AS d
  FROM {xrel} CROSS JOIN {crel}
"""


def _km_assign_sql(drel: str) -> str:
    """Nearest centroid per vec, ties broken by smallest cluster id."""
    return f"""
  SELECT vec_id, k, d FROM (
    SELECT vec_id, k, d,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
    FROM {drel}
  ) WHERE rn = 1
"""


def lloyd_cte(k: int) -> str:
    """The full one-update Lloyd chain as a WITH prefix: ``e`` (non-null
    vectors), ``x`` (slim (vec_id, dim, x) rows, for the centroid-mean
    aggregates), ``xl`` (list form, for the ordered distance folds),
    seeds = the ``k`` smallest vec_ids, assignment ``a1`` against the
    seed centroids, and the updated (6-dp-snapped, empty-cluster-
    preserving) centroids in ``c1(k, dim, c)`` / ``c1l(k, c list)``.
    Shared verbatim by ``kmeans_lloyd`` and the oracle-checked IVF
    index in ``similarity.py`` so both engines build the identical
    quantizer."""
    return f"""
WITH e AS (
  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
), x AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM e
), xl AS (
  SELECT vec_id, list_transform(embedding, y -> CAST(y AS DOUBLE)) AS v
  FROM e
), seed AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, vec_id
  FROM e ORDER BY vec_id LIMIT {k}
), c0 AS (
  SELECT seed.k, x.dim, x.x AS c FROM seed JOIN x USING (vec_id)
), c0l AS (
  SELECT seed.k, xl.v AS c FROM seed JOIN xl USING (vec_id)
), d1 AS ({_km_dist_sql("xl", "c0l")}
), a1 AS ({_km_assign_sql("d1")}
), c1m AS (
  SELECT a1.k, x.dim,
         CAST(round(CAST(CAST(sum(CAST(x.x AS {DECV})) AS DOUBLE) / count(*)
              AS DECIMAL(30,12)), 6) AS DOUBLE) AS c
  FROM a1 JOIN x USING (vec_id)
  GROUP BY a1.k, x.dim
), c1 AS (
  SELECT c0.k, c0.dim, coalesce(c1m.c, c0.c) AS c
  FROM c0 LEFT JOIN c1m ON c0.k = c1m.k AND c0.dim = c1m.dim
), c1l AS (
  SELECT k, list(c ORDER BY dim) AS c FROM c1 GROUP BY k
)"""


def lloyd_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-null embeddings as (vec_id, v: array<double>)."""
    return (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            F.transform("embedding", lambda v: v.cast("double")).alias("v"),
        )
    )


def lloyd_dist_array(cents: dict[int, list[float]]):
    """Array of (d, k) structs: squared-L2 distance from the row's ``v``
    array to every literal centroid, as an ORDERED IEEE-double fold —
    ((0+y₁)+y₂)+… — which the oracle's ``list_prepend(0.0)`` +
    ``list_reduce`` reproduces term for term (sub/mul/add are exactly
    specified by IEEE 754, so a fixed evaluation order is bit-identical
    across engines; only order-VARYING double sums need the decimal
    treatment the row aggregates use). Struct order (d first, k second)
    makes min/sort break distance ties on the smallest cluster id.

    Shape note (r4): the distances come from ONE ``transform`` lambda
    over a literal array of centroids, not K unrolled per-centroid
    expressions, and the fold runs in double rather than per-element
    decimal. The unrolled-decimal form built a K×dim×(ops) Catalyst
    tree that fell back to interpreted per-row evaluation — measured
    2.6 s for a 2 000-row assignment pass at K=16. Still zero-shuffle:
    no join, the centroids ride in the plan as literals.

    Shape note (r11, guide §5 driver/plan cost): the centroid matrix is
    ONE nested-array Literal (``F.lit(list-of-lists)``) instead of a
    CreateArray/CreateStruct tree of K×dim scalar literals — the struct
    tree made every analyzer/optimizer rule walk ~K×dim nodes per rule
    per reference, which dominated the small-result kNN queries'
    wall-clock (knn_ivf_exact_ann/knn_pq_ann ~2.3-2.6 s of plan time at
    sf0.1). The cluster id comes from the transform INDEX: centroid
    keys are 0..K-1 by construction (enumerate-seeded), checked."""
    ks = sorted(cents)
    if ks != list(range(len(ks))):
        raise ValueError(
            f"centroid keys must be exactly 0..K-1 (the cluster id is the "
            f"literal's transform index); got {ks}"
        )
    cent_lit = F.lit([[float(c) for c in cents[k]] for k in ks])
    return F.transform(
        cent_lit,
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(F.col("v"), c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, y: acc + y,
            ).alias("d"),
            i.cast("int").alias("k"),
        ),
    )


def lloyd_assign(df: DataFrame, cents: dict[int, list[float]]) -> DataFrame:
    """Nearest-centroid assignment: adds ``k``, ``d`` to a (vec_id, v)
    frame via array_min over the per-centroid distance structs.

    ``k`` is wrapped in coalesce(, -1) solely to make the attribute
    NON-NULLABLE: array_min over a non-empty literal struct array never
    returns null (the -1 is unreachable), but Catalyst can't prove
    that, and when a consumer joins on ``k`` the inferred isnotnull(k)
    constraint rewrites to isnotnull(array_min(transform(...))) and
    gets pushed into the corpus FileScan as a DataFilter — the whole
    K-centroid fold would then be evaluated twice per row (once in the
    scan filter, once in the projection). tests/test_plan_lint.py
    guards this."""
    best = F.array_min(lloyd_dist_array(cents))
    return df.select(
        "vec_id",
        "v",
        F.coalesce(best["k"], F.lit(-1)).alias("k"),
        best["d"].alias("d"),
    )


def lloyd_centroids(
    spark: SparkSession, sf_dir: str, k: int, iters: int
) -> dict[int, list[float]]:
    """Driver-side Lloyd loop: deterministic seeds (the ``k`` smallest
    vec_ids), ``iters − 1`` assignment+mean-update rounds. Returns the
    final centroids ({} on an empty corpus). Every driver round-trip is
    bounded: the seed collect is ≤ k rows (TakeOrderedAndProject), each
    update collect is ≤ k×dim rows — MLlib's own KMeans driver-state
    pattern."""
    from ..sources.tables import spread

    emb = lloyd_vectors(spark, sf_dir)
    seeds = emb.orderBy("vec_id").limit(k).collect()
    cents: dict[int, list[float]] = {i: list(r.v) for i, r in enumerate(seeds)}
    if not cents:
        return cents
    # spread before the K-centroid distance fold (r10 optimization,
    # guide §2.5): the single-file scan ran every update pass's
    # assignment fold on ONE task
    emb = spread(emb)
    for _ in range(iters - 1):
        updates = (
            lloyd_assign(emb, cents)
            .select("k", F.posexplode("v").alias("dim", "x"))
            .groupBy("k", "dim")
            .agg(
                F.round(
                    (F.sum(F.col("x").cast(DECV)).cast("double") / F.count(F.lit(1)))
                    .cast("decimal(30,12)"),
                    6,
                )
                .cast("double")
                .alias("c")
            )
            .collect()
        )
        newc: dict[int, dict[int, float]] = {}
        for r in updates:
            newc.setdefault(r.k, {})[r.dim] = r.c
        for kk in cents:
            if kk in newc:  # empty cluster keeps its previous centroid
                cents[kk] = [newc[kk][i] for i in range(len(cents[kk]))]
    return cents


@register(
    "kmeans_lloyd",
    oracle=lloyd_cte(KMEANS_K)
    + f""", d2 AS ({_km_dist_sql("xl", "c1l")}
), a2 AS ({_km_assign_sql("d2")}
)
SELECT CAST(k AS BIGINT) AS cluster,
       count(*) AS n_members,
       CAST(round(CAST(CAST(sum(CAST(d AS {DECV})) AS DOUBLE) / count(*)
            AS DECIMAL(30,12)), 4) AS DOUBLE) AS avg_sq_dist
FROM a2
GROUP BY k
ORDER BY cluster
""",
    description="Fixed-iteration Lloyd's k-means over the embedding "
    "column: K deterministic seeds (the K smallest vec_ids), squared-L2 "
    "assignment with ties to the smallest cluster id, dimension-wise "
    "mean update, final assignment reported as per-cluster sizes and "
    "mean squared distance. Every cross-engine float hazard is closed: "
    "per-vector distances are FIXED-ORDER IEEE-double folds (the "
    "oracle's list_reduce replays the same sequence — exact by IEEE "
    "754), and the order-VARYING row sums (centroid means, per-cluster "
    "distance totals) go through exact decimal addition, so the "
    "iteration trajectory is bit-identical to the unrolled DuckDB "
    "oracle. Spark-side the "
    "centroids round-trip through the driver between iterations "
    "(K×dim doubles — the MLlib pattern), so each assignment pass is "
    "one scan with literal centroid arrays folded per row: no join, "
    "no shuffle before the final K-row aggregate. Empty clusters keep "
    "their previous centroid in both engines.",
    tags=("ml", "vectors", "embedding", "clustering", "pipeline"),
)
def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = lloyd_centroids(spark, sf_dir, KMEANS_K, KMEANS_ITERS)
    if not cents:
        return spark.createDataFrame(
            [], "cluster BIGINT, n_members BIGINT, avg_sq_dist DOUBLE"
        )
    from ..sources.tables import spread

    return (
        # spread before the K-centroid fold (r10, guide §2.5): the
        # single-file scan ran the final assignment pass on ONE task
        lloyd_assign(spread(lloyd_vectors(spark, sf_dir)), cents)
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(
                (F.sum(F.col("d").cast(DECV)).cast("double") / F.count(F.lit(1)))
                .cast("decimal(30,12)"),
                4,
            )
            .cast("double")
            .alias("avg_sq_dist"),
        )
        .select(F.col("k").cast("bigint").alias("cluster"), "n_members", "avg_sq_dist")
        .orderBy("cluster")
    )


# ------------------------------------------------------------------
# top principal component by deterministic power iteration — the
# dimensionality-reduction prep step of an embedding pipeline
# (whitening, drift monitoring, anisotropy checks), built on the same
# cross-engine float discipline as kmeans_lloyd: fixed-order IEEE
# folds per row, exact-decimal order-varying sums, and a bounded
# (dim-sized) driver round-trip per iteration.
# ------------------------------------------------------------------

PC_ITERS = 3  # matvec rounds; enough to separate the top direction


def _pc_mean(emb: DataFrame) -> list[float]:
    """Per-dimension mean of the non-null vectors (exact decimal sums,
    6-dp snap — identical to the oracle's centering CTE). [] if the
    corpus is empty."""
    rows = (
        emb
        .select(F.posexplode("v").alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.round(
                (F.sum(F.col("x").cast(DECV)).cast("double") / F.count(F.lit(1)))
                .cast("decimal(30,12)"),
                6,
            )
            .cast("double")
            .alias("m")
        )
        .collect()
    )
    m = {r.dim: r.m for r in rows}
    return [m[i] for i in range(len(m))]


def _pc_matvec(emb, mean: list[float], v: list[float]) -> list[float]:
    """One power-iteration step w = Σ_x (x-m)·((x-m)·v): the dot is a
    fixed-order IEEE fold per row, the per-dimension row sums are
    exact decimal, and the driver does only the 64-element norm fold
    (left-associated, mirroring the oracle's list_reduce order)."""
    # single array Literals, not dim-many scalar-literal CreateArray
    # nodes (r11 — same plan-cost note as lloyd_dist_array)
    mlit = F.lit([float(c) for c in mean])
    vlit = F.lit([float(c) for c in v])
    dot = F.aggregate(
        F.transform("v", lambda a, i: (a - F.get(mlit, i)) * F.get(vlit, i)),
        F.lit(0.0),
        lambda acc, y: acc + y,
    )
    rows = (
        emb.select(dot.alias("t"), "v")
        .select("t", F.posexplode("v").alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.sum(
                ((F.col("x") - F.get(mlit, F.col("dim"))) * F.col("t")).cast(DECV)
            )
            .cast("double")
            .alias("w")
        )
        .collect()
    )
    wm = {r.dim: r.w for r in rows}
    w = [wm[i] for i in range(len(wm))]
    s = 0.0
    for y in w:  # left-associated, exactly the oracle's fold order
        s = s + y * y
    nrm = math.sqrt(s)
    return [y / nrm for y in w] if nrm > 0 else w


def _pc_oracle() -> str:
    dim_expr = "generate_subscripts(v, 1) - 1"
    centered_dot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(v, (a, i) -> (a - ml[i]) * vl[i])), "
        "(acc, y) -> acc + y)"
    )
    rounds = []
    prev = "v0"
    for r in range(1, PC_ITERS + 1):
        rounds.append(f"""d{r} AS (
  SELECT xl.v, {centered_dot} AS t
  FROM xl CROSS JOIN m CROSS JOIN {prev}
), w{r} AS (
  SELECT dim, CAST(sum(CAST((x - m) * t AS {DECV})) AS DOUBLE) AS w
  FROM (
    SELECT t, {dim_expr} AS dim, CAST(unnest(v) AS DOUBLE) AS x
    FROM d{r}
  ) j JOIN (SELECT generate_subscripts(ml, 1) - 1 AS dim, unnest(ml) AS m FROM m) mm
    USING (dim)
  GROUP BY dim
), n{r} AS (
  SELECT list(w ORDER BY dim) AS wl,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(list(w ORDER BY dim), y -> y * y)),
              (acc, y) -> acc + y)) AS nrm
  FROM w{r}
), v{r} AS (
  SELECT CASE WHEN nrm > 0 THEN list_transform(wl, y -> y / nrm) ELSE wl END AS vl
  FROM n{r}
)""")
        prev = f"v{r}"
    rounds_sql = ",\n".join(rounds)
    return f"""
WITH e AS (
  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
), xl AS (
  SELECT vec_id, list_transform(embedding, y -> CAST(y AS DOUBLE)) AS v
  FROM e
), mdims AS (
  SELECT {dim_expr} AS dim, CAST(unnest(v) AS DOUBLE) AS x FROM xl
), mrow AS (
  SELECT dim,
         CAST(round(CAST(CAST(sum(CAST(x AS {DECV})) AS DOUBLE) / count(*)
              AS DECIMAL(30,12)), 6) AS DOUBLE) AS m
  FROM mdims GROUP BY dim
), m AS (
  SELECT list(m ORDER BY dim) AS ml FROM mrow
), v0 AS (
  SELECT list_transform(ml, y -> CAST(0.125 AS DOUBLE)) AS vl FROM m
),
{rounds_sql}
SELECT dim, CAST(round(CAST(loading AS DECIMAL(30,12)), 6) AS DOUBLE) AS loading
FROM (
  SELECT generate_subscripts(vl, 1) - 1 AS dim, unnest(vl) AS loading
  FROM v{PC_ITERS}
)
ORDER BY dim
"""


@register(
    "embedding_top_pc",
    oracle=_pc_oracle(),
    description=f"Top principal component of the centered embedding "
    f"corpus by {PC_ITERS}-round deterministic power iteration "
    "(uniform 0.125 start — exactly representable, so both engines "
    "begin identically): per-row centered dots are fixed-order IEEE "
    "folds, the per-dimension matvec row sums go through exact "
    "decimal addition (order-independent), and only the dim-sized "
    "norm fold runs on the driver (left-associated, replayed by the "
    "oracle's list_reduce term for term) — the whole trajectory is "
    "bit-identical to the unrolled DuckDB oracle, like kmeans_lloyd. "
    "Scale: one scan per iteration, each shuffling dim-sized partial "
    "sums (classic distributed PCA matvec); driver state is one "
    "64-double vector per round. The anisotropy/whitening prep step "
    "of an embedding pipeline.",
    tags=("ml", "vectors", "embedding", "pca", "pipeline"),
)
def embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.caching import tracked_persist

    from ..sources.tables import spread

    # one scan total: the mean pass and every matvec round consume the
    # same persisted projection (4 separate parquet scans otherwise).
    # spread BEFORE the persist (r10, guide §2.5): the single-file scan
    # otherwise pins all four rounds' centered-dot folds to ONE task.
    emb = spread(lloyd_vectors(spark, sf_dir)).transform(tracked_persist)
    mean = _pc_mean(emb)
    if not mean:
        return spark.createDataFrame([], "dim INT, loading DOUBLE")
    v = [0.125] * len(mean)
    for _ in range(PC_ITERS):
        v = _pc_matvec(emb, mean, v)
    from ..functions.rows import literal_rows_df

    # literal-values plan instead of createDataFrame: the Python-RDD
    # parallelize spun up a Python worker per core to ship 64 rows
    # (r10 optimization, guide §4 — no Python workers for JVM work)
    out = literal_rows_df(
        spark, [(i, c) for i, c in enumerate(v)], "dim INT, loading DOUBLE"
    )
    return out.select(
        "dim",
        F.round(F.col("loading").cast("decimal(30,12)"), 6)
        .cast("double")
        .alias("loading"),
    ).orderBy("dim")


# ------------------------------------------------------------------
# embedding drift report — the monitoring op of an embedding pipeline:
# compare two corpus snapshots' per-dimension centroids. Here the two
# deterministic halves (vec_id parity) stand in for "last week vs this
# week"; the shape is snapshot-agnostic.
# ------------------------------------------------------------------


@register(
    "embedding_drift_report",
    oracle=f"""
WITH dims AS (
  SELECT vec_id % 2 AS half,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
  WHERE embedding IS NOT NULL AND vec_id IS NOT NULL
), m AS (
  SELECT half, dim, count(*) AS n,
         CAST(round(CAST(CAST(sum(CAST(x AS {DECV})) AS DOUBLE) / count(*)
              AS DECIMAL(30,12)), 6) AS DOUBLE) AS mu
  FROM dims GROUP BY half, dim
)
SELECT a.dim,
       a.n AS n_a, b.n AS n_b,
       a.mu AS mean_a, b.mu AS mean_b,
       CAST(round(CAST(abs(a.mu - b.mu) AS DECIMAL(30,12)), 6) AS DOUBLE)
         AS abs_delta
FROM m a JOIN m b ON a.dim = b.dim AND a.half = 0 AND b.half = 1
ORDER BY a.dim
""",
    description="Embedding drift monitoring: per-dimension centroid of "
    "two deterministic corpus halves (vec_id parity standing in for "
    "two snapshots) and the absolute per-dimension delta — the "
    "dashboard a pipeline watches for upstream encoder or data drift. "
    "Exact decimal means (6-dp snapped) make the report bit-stable "
    "under any partitioning; one posexplode scan, one (half, dim) "
    "aggregate partial-combined map-side to 128 rows, one tiny "
    "self-join.",
    tags=("vectors", "embedding", "monitoring", "pipeline"),
)
def embedding_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull() & F.col("vec_id").isNotNull())
        .select(
            (F.col("vec_id") % 2).alias("half"),
            F.posexplode("embedding").alias("dim", "x"),
        )
        .select("half", "dim", F.col("x").cast("double").alias("x"))
    )
    m = emb.groupBy("half", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            (F.sum(F.col("x").cast(DECV)).cast("double") / F.count(F.lit(1))).cast(
                "decimal(30,12)"
            ),
            6,
        )
        .cast("double")
        .alias("mu"),
    )
    a = m.filter(F.col("half") == 0).select(
        "dim", F.col("n").alias("n_a"), F.col("mu").alias("mean_a")
    )
    b = m.filter(F.col("half") == 1).select(
        "dim", F.col("n").alias("n_b"), F.col("mu").alias("mean_b")
    )
    return (
        a.join(b, "dim")
        .select(
            "dim",
            "n_a",
            "n_b",
            "mean_a",
            "mean_b",
            F.round(
                F.abs(F.col("mean_a") - F.col("mean_b")).cast("decimal(30,12)"), 6
            )
            .cast("double")
            .alias("abs_delta"),
        )
        .orderBy("dim")
    )


# --------------------------------------------------------------------------
# embedding outlier report: distance-to-own-centroid z-scores
# --------------------------------------------------------------------------

#: z-score threshold above which a vector is flagged as a label outlier
OUTLIER_Z = 2.0


@register(
    "embedding_outlier_report",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label, embedding FROM embeddings
  WHERE label IS NOT NULL AND embedding IS NOT NULL
), x AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM e
), cent AS (
  SELECT label, dim,
         CAST(round(CAST(CAST(sum(CAST(v AS {DEC})) AS DOUBLE) / count(*)
                         AS DECIMAL(30,12)), 6) AS DOUBLE) AS c
  FROM x GROUP BY label, dim
), centl AS (
  SELECT label, list(c ORDER BY dim) AS c FROM cent GROUP BY label
), xl AS (
  SELECT vec_id, label,
         list_transform(embedding, y -> CAST(y AS DOUBLE)) AS v
  FROM e
), dist AS (
  SELECT xl.vec_id, xl.label,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(xl.v, (a, i) -> (a - cl.c[i]) * (a - cl.c[i]))),
           (acc, y) -> acc + y) AS d
  FROM xl JOIN centl cl USING (label)
), st AS (
  SELECT label, count(*) AS n,
         CAST(sum(CAST(d AS DECIMAL(38,12))) AS DOUBLE) AS sd,
         CAST(sum(CAST(d * d AS DECIMAL(38,12))) AS DOUBLE) AS sdd
  FROM dist GROUP BY label
)
SELECT dist.vec_id, dist.label,
       CAST(round(CAST(dist.d AS DECIMAL(30,12)), 6) AS DOUBLE) AS dist,
       CAST(round(CAST((dist.d - st.sd / st.n)
              / sqrt((st.sdd - st.sd * st.sd / st.n) / (st.n - 1))
            AS DECIMAL(30,12)), 6) AS DOUBLE) AS z,
       CAST(round(CAST((dist.d - st.sd / st.n)
              / sqrt((st.sdd - st.sd * st.sd / st.n) / (st.n - 1))
            AS DECIMAL(30,12)), 6) AS DOUBLE) > {OUTLIER_Z} AS is_outlier
FROM dist JOIN st USING (label)
ORDER BY vec_id
""",
    description=f"Label-outlier detection over the embedding matrix — "
    "the mislabeled/noisy-vector screen an ML data-cleaning pass runs "
    "before contrastive training: squared L2 distance from every "
    "vector to its OWN label centroid (snapped exact-decimal means, "
    "ordered IEEE distance folds — bit-identical across engines), "
    "per-label distance moments from exact decimal power sums, and a "
    f"z-score flag at z > {OUTLIER_Z}. Degenerate labels (one member, "
    "or identical members with zero distance spread) get NULL z and "
    "NULL flag identically in both engines (try_divide ~ DuckDB NULL "
    "division). Two slim shuffles: |labels|x64 centroid cells and "
    "|labels| moment rows — vectors themselves never shuffle (the "
    "centroid relation broadcasts back).",
    tags=("vectors", "embeddings", "ml-prep", "quality", "aggregate"),
)
def embedding_outlier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "embeddings").filter(
        F.col("label").isNotNull() & F.col("embedding").isNotNull()
    )
    # generate over the RAW column, cast after: a posexplode over the
    # transformed array makes Catalyst infer size(transform(...)) > 0
    # and push the whole per-element cast chain into the FileScan as a
    # DataFilter (the plan-lint trap dedup_jaccard_pairs documents)
    dims = base.select("label", F.posexplode("embedding").alias("dim", "x")).select(
        "label", "dim", F.col("x").cast("double").alias("x")
    )
    emb = base.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda y: y.cast("double")).alias("v"),
    )
    cent = (
        dims.groupBy("label", "dim")
        .agg(
            F.round(
                (F.sum(F.col("x").cast(DEC)).cast("double") / F.count(F.lit(1)))
                .cast("decimal(30,12)"),
                6,
            )
            .cast("double")
            .alias("c")
        )
    )
    centl = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
        ).alias("c")
    )
    d = F.aggregate(
        F.zip_with(F.col("v"), F.col("c"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, y: acc + y,
    )
    dist = emb.join(F.broadcast(centl), "label").select(
        "vec_id", "label", d.alias("d")
    )
    st = dist.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("d").cast("decimal(38,12)")).cast("double").alias("sd"),
        F.sum((F.col("d") * F.col("d")).cast("decimal(38,12)"))
        .cast("double")
        .alias("sdd"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("sd") / nd
    std = F.sqrt(
        F.try_divide(F.col("sdd") - F.col("sd") * F.col("sd") / nd, nd - 1)
    )
    z = F.round(
        F.try_divide(F.col("d") - mean, std).cast("decimal(30,12)"), 6
    ).cast("double")
    return (
        dist.join(F.broadcast(st), "label")
        .select(
            "vec_id",
            "label",
            F.round(F.col("d").cast("decimal(30,12)"), 6)
            .cast("double")
            .alias("dist"),
            z.alias("z"),
            (z > OUTLIER_Z).alias("is_outlier"),
        )
        .orderBy("vec_id")
    )


@register(
    "embedding_quantization_error_report",
    oracle="""
WITH d AS (SELECT unnest(range(1, 65)) AS i),
m AS (
  SELECT vec_id, label,
         127.0 / nullif(list_max(list_transform(embedding,
                                                x -> abs(CAST(x AS DOUBLE)))), 0)
             AS scale
  FROM embeddings
), sums AS (
  SELECT e.vec_id, e.label,
         CAST(sum(CAST((CAST(e.embedding[i] AS DOUBLE)
                        - floor(CAST(e.embedding[i] AS DOUBLE) * m.scale + 0.5)
                          / m.scale)
                       * (CAST(e.embedding[i] AS DOUBLE)
                          - floor(CAST(e.embedding[i] AS DOUBLE) * m.scale + 0.5)
                            / m.scale)
                  AS DECIMAL(30,20))) AS DOUBLE) AS err_sq,
         CAST(sum(CAST(CAST(e.embedding[i] AS DOUBLE)
                       * CAST(e.embedding[i] AS DOUBLE)
                  AS DECIMAL(30,20))) AS DOUBLE) AS nsq
  FROM embeddings e JOIN m USING (vec_id) CROSS JOIN d
  GROUP BY 1, 2
), rel AS (
  SELECT label,
         CAST(round(CAST(err_sq / nullif(nsq, 0) AS DECIMAL(30,12)), 8)
              AS DOUBLE) AS rel_err
  FROM sums
)
SELECT label,
       count(*) AS n_vecs,
       count(rel_err) AS n_quantizable,
       CAST(round(CAST(CAST(sum(CAST(rel_err AS DECIMAL(30,12))) AS DOUBLE)
                       / nullif(count(rel_err), 0) AS DECIMAL(30,12)), 8)
            AS DOUBLE) AS mean_rel_err,
       max(rel_err) AS max_rel_err
FROM rel
GROUP BY label
ORDER BY label
""",
    description="Quantization-loss evaluation for the int8 ANN path: "
    "per-vector relative reconstruction error ‖x−x̂‖²/‖x‖² under the "
    "SAME symmetric int8 scheme knn_quantized_ann searches with "
    "(scale = 127/max|x|, q = floor(x·s+0.5), x̂ = q/s), rolled up per "
    "label as mean and max. The companion to ann_recall_report: recall "
    "measures ranking damage, this measures representation damage — "
    "together they justify (or veto) shipping the 4×-smaller index. "
    "Exact-decimal per-vector sums (order-independent), zero-vector "
    "edge yields NULL and is counted out via n_quantizable; one scan, "
    "one |labels|-row aggregate.",
    tags=("similarity", "quantization", "report", "aggregate"),
)
def embedding_quantization_error_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import DEC20, _fold_sum, norm_sq_exact

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    scale = F.try_divide(
        F.lit(127.0),
        F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))),
    )

    def _err_term(x):
        d = x.cast("double")
        recon = F.floor(d * F.col("scale") + 0.5) / F.col("scale")
        return ((d - recon) * (d - recon)).cast(DEC20)

    sums = emb.withColumn("scale", scale).select(
        "label",
        _fold_sum(F.transform(F.col("embedding"), _err_term)).alias("err_sq"),
        norm_sq_exact("embedding").alias("nsq"),
    )
    rel = sums.select(
        "label",
        F.round(
            F.try_divide(F.col("err_sq"), F.nullif(F.col("nsq"), F.lit(0.0))).cast(
                "decimal(30,12)"
            ),
            8,
        )
        .cast("double")
        .alias("rel_err"),
    )
    return (
        rel.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.count("rel_err").alias("n_quantizable"),
            F.round(
                F.try_divide(
                    F.sum(F.col("rel_err").cast("decimal(30,12)")).cast("double"),
                    F.count("rel_err"),
                ).cast("decimal(30,12)"),
                8,
            )
            .cast("double")
            .alias("mean_rel_err"),
            F.max("rel_err").alias("max_rel_err"),
        )
        .orderBy("label")
    )
