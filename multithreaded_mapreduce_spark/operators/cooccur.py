"""Token co-occurrence statistics with pointwise mutual information
over ``documents`` — the corpus-level association analysis a training-
data pipeline runs to find collocations and template contamination.

The reference counts single tokens only (SURVEY.md §2.1); this is the
pairwise generalization: for every unordered token pair, in how many
documents do both appear, and how much more often than independence
would predict (PMI = ln(N·c_ab / (c_a·c_b))).

Scale notes: the pair space is vocabulary-bounded — the per-document
self-join explodes distinct tokens (≤|vocab| each) and the aggregate
folds to ≤|vocab|²/2 rows, independent of corpus size; the marginal
counts are a |vocab|-row broadcast. On a real heavy-tailed vocabulary
the explode is capped per doc (top-k distinct tokens) before pairing —
here the 31-token corpus needs no cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import snap6
from ..plans.caching import tracked_persist
from ..plans.registry import register
from ..sources.tables import load_table

MIN_PAIR_DOCS = 5


@register(
    "token_cooccurrence_pmi",
    oracle=f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(list_distinct(string_split_regex(text, '\\s+'))) AS token
  FROM documents
), toks_clean AS (
  SELECT doc_id, token FROM toks WHERE length(token) > 0
), marg AS (
  SELECT token, count(*) AS c FROM toks_clean GROUP BY token
), n AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM toks_clean
), pairs AS (
  SELECT a.token AS token_a, b.token AS token_b, count(*) AS c_ab
  FROM toks_clean a JOIN toks_clean b
    ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2
)
SELECT p.token_a, p.token_b, p.c_ab, ma.c AS c_a, mb.c AS c_b,
       CAST(round(CAST(ln((CAST(p.c_ab AS DOUBLE) * CAST(n.n_docs AS DOUBLE))
                          / (CAST(ma.c AS DOUBLE) * CAST(mb.c AS DOUBLE)))
                       AS DECIMAL(30,12)), 6) AS DOUBLE) AS pmi
FROM pairs p
JOIN marg ma ON p.token_a = ma.token
JOIN marg mb ON p.token_b = mb.token
CROSS JOIN n
WHERE p.c_ab >= {MIN_PAIR_DOCS}
ORDER BY token_a, token_b
""",
    description="Document-level co-occurrence counts and PMI for every "
    "unordered token pair seen together in ≥5 docs. The pair aggregate "
    "is vocabulary-bounded (≤|vocab|²/2 rows out regardless of corpus "
    "size); marginals and the doc count are broadcast; PMI is one "
    "identical IEEE expression in both engines, snapped to 6 decimals.",
    tags=("text", "cooccurrence", "pmi", "association"),
)
def token_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.filter(F.split("text", r"\s+"), lambda t: F.length(t) > 0)
                )
            ).alias("token"),
        )
        .distinct()
        # four branches (marginals, doc count, both pair-join sides)
        # consume this; unpersisted, each re-runs the scan + explode +
        # distinct shuffle (4 extra exchanges, measured in the plan sweep)
        .transform(tracked_persist)
    )
    marg = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    n = toks.agg(F.count_distinct("doc_id").alias("n_docs"))
    a = toks.select("doc_id", F.col("token").alias("token_a"))
    b = toks.select(F.col("doc_id").alias("doc_b"), F.col("token").alias("token_b"))
    pairs = (
        a.join(b, (a["doc_id"] == b["doc_b"]) & (a["token_a"] < b["token_b"]))
        .groupBy("token_a", "token_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= MIN_PAIR_DOCS)
    )
    ma = marg.select(F.col("token").alias("token_a"), F.col("c").alias("c_a"))
    mb = marg.select(F.col("token").alias("token_b"), F.col("c").alias("c_b"))
    pmi = F.log(
        (F.col("c_ab").cast("double") * F.col("n_docs").cast("double"))
        / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
    )
    return (
        pairs.join(F.broadcast(ma), "token_a")
        .join(F.broadcast(mb), "token_b")
        .crossJoin(F.broadcast(n))
        .select("token_a", "token_b", "c_ab", "c_a", "c_b", snap6(pmi).alias("pmi"))
        .orderBy("token_a", "token_b")
    )


MIN_PAIR_ORDERS = 20


@register(
    "brand_basket_lift",
    oracle=f"""
WITH baskets AS (
  SELECT DISTINCT l.l_orderkey, p.p_brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
), marg AS (
  SELECT p_brand, count(*) AS c FROM baskets GROUP BY p_brand
), n AS (
  SELECT count(DISTINCT l_orderkey) AS n_orders FROM baskets
), pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS c_ab
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2
)
SELECT p.brand_a, p.brand_b, p.c_ab, ma.c AS c_a, mb.c AS c_b,
       CAST(round(CAST(CAST(p.c_ab AS DOUBLE) / n.n_orders
                       AS DECIMAL(30,12)), 6) AS DOUBLE) AS support,
       CAST(round(CAST((CAST(p.c_ab AS DOUBLE) * n.n_orders) / (ma.c * mb.c)
                       AS DECIMAL(30,12)), 6) AS DOUBLE) AS lift
FROM pairs p
JOIN marg ma ON p.brand_a = ma.p_brand
JOIN marg mb ON p.brand_b = mb.p_brand
CROSS JOIN n
WHERE p.c_ab >= {MIN_PAIR_ORDERS}
ORDER BY brand_a, brand_b
""",
    description="Market-basket association over orders: for every "
    "unordered brand pair co-purchased in ≥20 orders, its support and "
    "lift (observed co-purchase rate over the independence prediction). "
    "The pair aggregate is brand-bounded (≤|brands|²/2 rows out "
    "regardless of order count); marginals and the basket count are "
    "broadcast; support/lift are identical IEEE expressions in both "
    "engines, snapped to 6 decimals.",
    tags=("analytics", "association", "basket", "join"),
)
def brand_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-level market-basket lift — the order-basket twin of
    :func:`token_cooccurrence_pmi`.

    Scale notes: the per-basket self-join's fan-out is basket-size-
    bounded (an order holds ≤7 lineitems in this schema; real baskets
    are human-bounded) — the shuffle is keyed on the order key, so AQE
    splits any hot key and the output aggregate folds to the tiny
    brand-pair space map-side. The part dimension joins in broadcast."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # baskets feeds four branches (marginals, the basket count, both
    # self-join sides) and marg two — persist both so the fact scan and
    # the distinct run once, not per branch
    baskets = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
        .transform(tracked_persist)
    )
    marg = baskets.groupBy("p_brand").agg(F.count(F.lit(1)).alias("c")).transform(tracked_persist)
    n = baskets.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    a = baskets.select("l_orderkey", F.col("p_brand").alias("brand_a"))
    b = baskets.select(
        F.col("l_orderkey").alias("ok_b"), F.col("p_brand").alias("brand_b")
    )
    pairs = (
        a.join(b, (a["l_orderkey"] == b["ok_b"]) & (a["brand_a"] < b["brand_b"]))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= MIN_PAIR_ORDERS)
    )
    ma = marg.select(F.col("p_brand").alias("brand_a"), F.col("c").alias("c_a"))
    mb = marg.select(F.col("p_brand").alias("brand_b"), F.col("c").alias("c_b"))
    support = F.col("c_ab").cast("double") / F.col("n_orders")
    lift = (F.col("c_ab").cast("double") * F.col("n_orders")) / (
        F.col("c_a") * F.col("c_b")
    )
    return (
        pairs.join(F.broadcast(ma), "brand_a")
        .join(F.broadcast(mb), "brand_b")
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a", "brand_b", "c_ab", "c_a", "c_b",
            snap6(support).alias("support"),
            snap6(lift).alias("lift"),
        )
        .orderBy("brand_a", "brand_b")
    )
