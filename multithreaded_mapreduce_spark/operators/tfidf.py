"""TF-IDF term weighting and a PPJoin-style prefix-filtered set-
similarity join over ``documents``.

The reference counts raw term frequency over one corpus-wide bag
(SURVEY.md §2.1); TF-IDF is the canonical refinement (tf × ln(N/df)),
and the prefix-filtered join is the at-scale candidate-generation
strategy for exact-threshold set similarity (Chaudhuri et al.,
"A Primitive Operator for Similarity Joins", ICDE'06; Xiao et al.,
"Efficient Similarity Joins for Near Duplicate Detection", WWW'08).

Scale notes: tf is one (doc, term) partial-aggregated groupBy; df is
|vocab| rows and broadcasts back; the document count is a 1-row
broadcast. The prefix filter sorts each doc's tokens by global rarity
and indexes only the first |set|−⌈t·|set|⌉+1 of them — any pair with
Jaccard ≥ t provably shares a prefix token, so the candidate join
touches the rare tail of the posting lists instead of the full
token×token blowup, and the exact verify runs only on candidates. It
is the ``jaccard`` decision site's over-budget arm in ``dedup.py``
(``_jaccard_cross``); ``dedup_prefix_filter`` runs that arm directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.numeric import snap6
from ..plans.registry import register
from ..sources.tables import load_table
from .dedup import (
    JACCARD_ORACLE,
    _group_relation,
    _jaccard_cross,
    _pairs_from_group_cross,
)

TOP_TERMS = 3


@register(
    "tfidf_top_terms",
    oracle=f"""
WITH toks AS (
  -- TF-IDF is defined per DOCUMENT: a row with no doc_id is not a
  -- document (its terms would get df = 0 — count(DISTINCT) skips
  -- NULL — and ln(N/0) diverges between engines), so unidentified
  -- rows are excluded from terms AND the corpus count in both engines
  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
  FROM documents WHERE doc_id IS NOT NULL
), toks_clean AS (
  SELECT * FROM toks WHERE length(term) > 0
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks_clean GROUP BY 1, 2
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks_clean GROUP BY 1
), n AS (
  SELECT count(*) AS n_docs FROM documents WHERE doc_id IS NOT NULL
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         CAST(tf.tf AS DOUBLE) * ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE))
           AS tfidf_raw
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, tf,
         CAST(round(CAST(tfidf_raw AS DECIMAL(30,12)), 6) AS DOUBLE) AS tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf_raw DESC, term) AS rank
  FROM scored
)
SELECT doc_id, rank, term, tf, tfidf FROM ranked WHERE rank <= {TOP_TERMS}
ORDER BY doc_id, rank
""",
    description="Top-3 TF-IDF terms per document: tf from one (doc, "
    "term) partial-aggregated groupBy, ln(N/df) idf from a broadcast "
    "|vocab|-row table and a 1-row document count, rank via a per-doc "
    "window with (score desc, term) tie-break so results are total-"
    "ordered across engines. Everything stays in whole-stage codegen.",
    tags=("text", "tfidf", "ranking"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL doc_id excluded in both engines — see the oracle comment
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    toks = docs.select(
        "doc_id", F.explode(F.split("text", r"\s+")).alias("term")
    ).filter(F.length("term") > 0)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tfidf_raw = F.col("tf").cast("double") * F.log(
        F.col("n_docs").cast("double") / F.col("df").cast("double")
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", "tf", tfidf_raw.alias("tfidf_raw"))
    )
    rank = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.desc("tfidf_raw"), "term")
    )
    return (
        scored.select(
            "doc_id", rank.alias("rank"), "term", "tf", snap6(F.col("tfidf_raw")).alias("tfidf")
        )
        .filter(F.col("rank") <= TOP_TERMS)
        .orderBy("doc_id", "rank")
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_DOCS = 50
BM25_N_QTERMS = 3


@register(
    "bm25_doc_ranking",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
  FROM documents WHERE doc_id IS NOT NULL
), toks_clean AS (
  SELECT * FROM toks WHERE length(term) > 0
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks_clean GROUP BY 1, 2
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks_clean GROUP BY 1
), dl AS (
  SELECT doc_id, count(*) AS dl FROM toks_clean GROUP BY 1
), n AS (
  SELECT count(*) AS n_docs FROM documents WHERE doc_id IS NOT NULL
), stats AS (
  SELECT CAST(sum(dl) AS DOUBLE) / CAST(n.n_docs AS DOUBLE) AS avgdl,
         n.n_docs AS n_docs
  FROM dl CROSS JOIN n GROUP BY n.n_docs
), qterms AS (
  -- deterministic "query": the {BM25_N_QTERMS} highest-df corpus terms
  SELECT term, df FROM df ORDER BY df DESC, term LIMIT {BM25_N_QTERMS}
), contrib AS (
  SELECT tf.doc_id,
         CAST(round(CAST(
           ln(1 + (CAST(s.n_docs AS DOUBLE) - q.df + 0.5) / (q.df + 0.5))
           * (tf.tf * ({BM25_K1} + 1.0))
           / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl))
         AS DECIMAL(30,12)), 8) AS DECIMAL(30,8)) AS c
  FROM tf
  JOIN qterms q ON tf.term = q.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
), scored AS (
  SELECT doc_id, sum(c) AS score_dec FROM contrib GROUP BY doc_id
), topk AS (
  SELECT doc_id, score_dec FROM scored
  ORDER BY score_dec DESC, doc_id LIMIT {BM25_TOP_DOCS}
)
SELECT row_number() OVER (ORDER BY score_dec DESC, doc_id) AS rank,
       doc_id,
       CAST(round(CAST(score_dec AS DECIMAL(30,12)), 6) AS DOUBLE) AS score
FROM topk ORDER BY rank
""",
    description="Okapi BM25 document ranking (k1=1.2, b=0.75) against "
    "a deterministic query — the corpus's 3 highest-df terms. tf and "
    "per-doc length come from partial-aggregated groupBys; the query "
    "terms, document count, and avgdl are broadcast (3 rows, 1 row, "
    "1 row); the per-(doc, term) contribution is snapped to 8 decimals "
    "and summed as DECIMAL so the per-doc score is exact and "
    "partition-order-independent (a double sum over query terms would "
    "be order-dependent); top-50 via orderBy+limit → "
    "TakeOrderedAndProject (local k per partition, no global sort); "
    "the rank window runs on 50 rows by construction. "
    "Cites the reference's term-counting pipeline (1.cpp:144-158) as "
    "its tf building block, refined per Robertson et al.'s Okapi BM25.",
    tags=("text", "bm25", "ranking", "retrieval"),
)
def bm25_doc_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    toks = docs.select(
        "doc_id", F.explode(F.split("text", r"\s+")).alias("term")
    ).filter(F.length("term") > 0)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    stats = (
        dl.agg(F.sum("dl").alias("sum_dl"))
        .crossJoin(F.broadcast(n))
        .select(
            (F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")).alias(
                "avgdl"
            ),
            "n_docs",
        )
    )
    qterms = df.orderBy(F.desc("df"), "term").limit(BM25_N_QTERMS)
    idf = F.log(
        1.0
        + (F.col("n_docs").cast("double") - F.col("df") + 0.5)
        / (F.col("df") + 0.5)
    )
    # association matches the oracle's left-to-right parse exactly:
    # (idf * num) / den — NOT idf * (num/den), which differs in the
    # last ulp for general doubles and could flip the 8-dp snap
    contrib = F.round(
        (
            (idf * (F.col("tf") * (BM25_K1 + 1.0)))
            / (
                F.col("tf")
                + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
            )
        ).cast("decimal(30,12)"),
        8,
    ).cast("decimal(30,8)")
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", contrib.alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("score_dec"))
    )
    topk = scored.orderBy(F.desc("score_dec"), "doc_id").limit(BM25_TOP_DOCS)
    rank = F.row_number().over(W.orderBy(F.desc("score_dec"), "doc_id"))
    return topk.select(
        rank.alias("rank"),
        "doc_id",
        snap6(F.col("score_dec")).alias("score"),
    ).orderBy("rank")


@register(
    "dedup_prefix_filter",
    oracle=JACCARD_ORACLE,
    description="Exact-threshold Jaccard join via PPJoin-style prefix "
    "filtering — same output as dedup_jaccard_pairs, whose over-budget "
    "arm it always runs: tokens of each collapsed set are ordered by "
    "global rarity, only the first n−⌈t·n⌉+1 are indexed, and "
    "candidates come from equi-joining those prefixes under size-ratio "
    "and positional prunes (any pair with J ≥ t provably shares a "
    "prefix token since the overlap must reach t·max(na,nb)). "
    "Candidates then verify exactly under the measured set-compare "
    "encoding, over shuffled joins. On a heavy-tailed vocabulary this "
    "touches only rare posting lists instead of the full token×token "
    "join.",
    tags=("dedup", "neardup", "jaccard", "prefix-filter"),
)
def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    groups = _group_relation(spark, sf_dir)
    return _pairs_from_group_cross(groups, _jaccard_cross(sf_dir, groups, "", pairwise=False))
