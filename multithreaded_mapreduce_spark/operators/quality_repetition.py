"""Repetition-based quality filtering and unigram language-model
scoring over ``documents`` — the Gopher/MassiveText-style signals a
pretraining pipeline applies after the cheap length/stopword gates
(SURVEY.md §2.3 text-analysis surface; the reference itself stops at
raw counts, reference ``1.cpp`` whole file).

Scale notes:

* ``repetition_metrics`` is computed entirely with per-row array
  expressions — one corpus scan, zero shuffles before the final sort.
  That is deliberate: the naive formulation (explode tokens, groupBy
  (doc_id, token)) shuffles the ENTIRE token stream just to find each
  document's top token, which at 100 TB is the biggest shuffle in the
  whole pipeline. Per-document metrics belong inside the row.
* ``unigram_logprob_scores`` needs corpus-global token frequencies, so
  it scans twice (once to build the vocabulary, once to score) and
  broadcasts the vocabulary to the scoring join — the classic
  small-model-big-corpus shape. At 100 TB the vocabulary of a cleaned
  corpus is millions of rows (MBs) and still broadcasts; if it ever
  outgrows that, the join key is a token → plain shuffle join, no plan
  change.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import snap6
from ..plans.caching import (
    guard_checkpoint_result,
    memoized_result_checkpoint,
    tracked_persist,
)
from ..plans.registry import register
from ..sources.tables import load_table, spread, table_stamp
from .textstats import _sql_tokens, _tokens

#: repetition gates (Gopher-style): a document fails when any single
#: token exceeds TOP_TOKEN_MAX of the stream or its duplicate-bigram
#: share exceeds DUP_BIGRAM_MAX.
TOP_TOKEN_MAX = 0.20
DUP_BIGRAM_MAX = 0.25


# ---- shared gate expressions -------------------------------------
# Single source of truth for the Gopher repetition and char-entropy
# signals: repetition_metrics / char_entropy_quality (the standalone
# operators) and pretraining_funnel_report (their composition) build
# from THESE helpers on both the Spark and the oracle-SQL side, so the
# funnel's stage counts can never drift from the gates they compose.


def rep_top_cnt_expr(ts):
    """Most-frequent-token count, folded inside the row — trades a
    full-corpus token shuffle for per-row work.

    r5 rewrite: sort the array once and take the longest equal-run via
    a single fold, O(n log n) comparisons per doc. The previous
    distinct×filter form was O(distinct·n) AND re-evaluated the whole
    ``ts`` argument expression inside the inner lambda per outer
    element (catastrophic when ts is the raw tokenize chain, not a
    column). Values are unchanged — verified 0 mismatches corpus-wide
    at sf0.1 and by the shared-helper oracles."""
    run_after = lambda acc, s: F.when(  # noqa: E731 - local fold step
        s.eqNullSafe(acc["prev"]), acc["run"] + 1
    ).otherwise(F.lit(1))
    return F.when(
        F.size(ts) > 0,
        F.aggregate(
            F.array_sort(ts),
            F.struct(
                F.lit(None).cast("string").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            lambda acc, s: F.struct(
                s.alias("prev"),
                run_after(acc, s).alias("run"),
                F.greatest(acc["best"], run_after(acc, s)).alias("best"),
            ),
            lambda acc: acc["best"],
        ),
    ).otherwise(F.lit(0))


def rep_bigrams_expr(ts):
    n = F.size(ts)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(ts, i), F.element_at(ts, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def rep_dup_frac_expr(bi):
    n_bi = F.size(bi)
    return F.when(
        n_bi > 0,
        F.lit(1.0) - F.size(F.array_distinct(bi)).cast("double") / n_bi,
    ).otherwise(F.lit(0.0))


def sql_rep_top_cnt(ts: str = "ts") -> str:
    return (
        f"CASE WHEN len({ts}) > 0 THEN "
        f"list_max(list_transform(list_distinct({ts}), "
        f"t -> len(list_filter({ts}, x -> x = t)))) ELSE 0 END"
    )


def sql_rep_bigrams(ts: str = "ts") -> str:
    return (
        f"CASE WHEN len({ts}) >= 2 THEN "
        f"list_transform(range(1, len({ts})), i -> {ts}[i] || ' ' || {ts}[i + 1]) "
        "ELSE CAST([] AS VARCHAR[]) END"
    )


def sql_rep_dup_frac(bi: str = "bi") -> str:
    return (
        f"CASE WHEN len({bi}) > 0 "
        f"THEN 1.0 - CAST(len(list_distinct({bi})) AS DOUBLE) / len({bi}) "
        "ELSE 0.0 END"
    )


@register(
    "repetition_metrics",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_sql_tokens()} AS ts FROM documents
), m AS (
  SELECT doc_id,
         len(ts) AS n_tokens,
         len(list_distinct(ts)) AS n_distinct,
         {sql_rep_top_cnt()} AS top_cnt,
         {sql_rep_bigrams()} AS bi
  FROM t
)
SELECT doc_id, n_tokens,
       CAST(round(CAST(CAST(n_distinct AS DOUBLE) / n_tokens
                       AS DECIMAL(30,12)), 6) AS DOUBLE) AS distinct_token_ratio,
       CAST(round(CAST(CAST(top_cnt AS DOUBLE) / n_tokens
                       AS DECIMAL(30,12)), 6) AS DOUBLE) AS top_token_frac,
       CAST(round(CAST({sql_rep_dup_frac()} AS DECIMAL(30,12)), 6) AS DOUBLE)
         AS dup_bigram_frac,
       CASE WHEN CAST(top_cnt AS DOUBLE) / n_tokens <= {TOP_TOKEN_MAX}
             AND ({sql_rep_dup_frac()}) <= {DUP_BIGRAM_MAX}
            THEN 1 ELSE 0 END AS passes_repetition
FROM m
WHERE n_tokens > 0
ORDER BY doc_id
""",
    description="Gopher-style repetition signals per document: "
    "distinct-token ratio, top-token fraction, duplicate-bigram "
    "fraction, and a pass/fail repetition gate. Computed entirely with "
    "per-row array expressions — one corpus scan, no shuffle of the "
    "token stream (the explode+groupBy formulation would shuffle every "
    "token at 100 TB just to find per-doc maxima).",
    tags=("text", "quality", "repetition", "pipeline"),
)
def repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the n_tokens > 0 gate runs against the raw text (rlike('\\S') ⟺
    # at least one token): filtering on the computed size() would push
    # the whole tokenize chain into the single-task FileScan. spread()
    # parallelizes the O(distinct·n) per-row folds on single-file input.
    docs = spread(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("text").rlike(r"\S"))
    )
    base = docs.select("doc_id", _tokens().alias("ts"))
    ts = F.col("ts")
    m = base.select(
        "doc_id",
        F.size(ts).alias("n_tokens"),
        F.size(F.array_distinct(ts)).alias("n_distinct"),
        rep_top_cnt_expr(ts).alias("top_cnt"),
        rep_bigrams_expr(ts).alias("bi"),
    )  # the rlike prune above already guarantees n_tokens > 0
    dup_bi = rep_dup_frac_expr(F.col("bi"))
    top_frac = F.col("top_cnt").cast("double") / F.col("n_tokens")
    return m.select(
        "doc_id",
        "n_tokens",
        snap6(
            F.col("n_distinct").cast("double") / F.col("n_tokens")
        ).alias("distinct_token_ratio"),
        snap6(top_frac).alias("top_token_frac"),
        snap6(dup_bi).alias("dup_bigram_frac"),
        F.when(
            (top_frac <= TOP_TOKEN_MAX) & (dup_bi <= DUP_BIGRAM_MAX), 1
        )
        .otherwise(0)
        .alias("passes_repetition"),
    ).orderBy("doc_id")


@register(
    "unigram_logprob_scores",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_sql_tokens()} AS ts FROM documents
), tok AS (
  SELECT doc_id, unnest(ts) AS token FROM t
), v AS (
  SELECT token, count(*) AS c FROM tok GROUP BY token
), tot AS (
  SELECT sum(c) AS total FROM v
), scored AS (
  SELECT tok.doc_id,
         count(*) AS n_tokens,
         sum(ln(CAST(v.c AS DOUBLE) / tot.total)) AS lp
  FROM tok JOIN v USING (token) CROSS JOIN tot
  GROUP BY tok.doc_id
)
SELECT doc_id, n_tokens,
       CAST(round(CAST(lp / n_tokens AS DECIMAL(30,12)), 6) AS DOUBLE)
         AS avg_token_logprob
FROM scored
ORDER BY doc_id
""",
    description="Unigram LM score per document: mean ln-probability of "
    "its tokens under the corpus's own unigram distribution — the "
    "cheapest perplexity-style quality signal (gibberish and boilerplate "
    "separate at the two tails). Vocabulary built in one aggregate and "
    "broadcast to the scoring join; the token stream shuffles only into "
    "the per-document mean.",
    tags=("text", "quality", "lm", "pipeline"),
)
def unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(_tokens()).alias("token")
    )
    v = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    tot = v.agg(F.sum("c").alias("total"))
    vocab = F.broadcast(v.crossJoin(F.broadcast(tot)))
    scored = (
        tok.join(vocab, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.log(F.col("c").cast("double") / F.col("total"))
            ).alias("lp"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round(
            (F.col("lp") / F.col("n_tokens")).cast("decimal(30,12)"), 6
        )
        .cast("double")
        .alias("avg_token_logprob"),
    ).orderBy("doc_id")


#: CCNet-style bucketing: per-language LM-score terciles assign each
#: document to head / middle / tail (Wenzek et al., "CCNet: Extracting
#: High Quality Monolingual Datasets from Web Crawl Data", 2020 — the
#: standard recipe for perplexity-stratified corpus curation). The
#: tercile positions as IEEE doubles, shared verbatim with the oracle.
TERCILE_1 = 1 / 3
TERCILE_2 = 2 / 3


@register(
    "ccnet_perplexity_buckets",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, {_sql_tokens()} AS ts FROM documents
), tok AS (
  SELECT doc_id, lang, unnest(ts) AS token FROM t
), v AS (
  SELECT token, count(*) AS c FROM tok GROUP BY token
), tot AS (
  SELECT sum(c) AS total FROM v
), scored AS (
  SELECT tok.doc_id, tok.lang,
         CAST(round(CAST(
           sum(ln(CAST(v.c AS DOUBLE) / tot.total)) / count(*)
         AS DECIMAL(30,12)), 6) AS DOUBLE) AS score
  FROM tok JOIN v USING (token) CROSS JOIN tot
  GROUP BY tok.doc_id, tok.lang
), cuts AS (
  SELECT lang,
         CAST(round(CAST(quantile_cont(score, {TERCILE_1!r}) AS DECIMAL(30,12)), 4)
              AS DOUBLE) AS t1,
         CAST(round(CAST(quantile_cont(score, {TERCILE_2!r}) AS DECIMAL(30,12)), 4)
              AS DOUBLE) AS t2
  FROM scored GROUP BY lang
)
SELECT s.lang,
       CASE WHEN s.score >= c.t2 THEN 'head'
            WHEN s.score >= c.t1 THEN 'middle'
            ELSE 'tail' END AS bucket,
       count(*) AS n_docs,
       CAST(round(CAST(avg(s.score) AS DECIMAL(30,12)), 4) AS DOUBLE) AS avg_score
FROM scored s JOIN cuts c USING (lang)
GROUP BY s.lang, bucket
ORDER BY lang, bucket
""",
    description="CCNet-style corpus stratification: score every document "
    "under the corpus unigram LM (mean token ln-probability), cut each "
    "language's score distribution at its own terciles, and report "
    "head / middle / tail membership counts per language. The adaptive "
    "per-language threshold is the point — an absolute score gate "
    "misclassifies whole languages whose LM is better or worse fit. "
    "Two-pass shape: the scoring pass shuffles tokens into per-doc "
    "means once; the tercile relation is |langs| rows, broadcast back "
    "onto the persisted per-doc scores. Scores and cuts snap to fixed "
    "decimals in BOTH engines so the bucket decision is deterministic "
    "cross-engine (no raw-double boundary comparisons).",
    tags=("text", "quality", "lm", "pipeline", "percentile"),
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # the exploded token stream feeds both the vocabulary aggregate and
    # the scoring join; it is NOT persisted on purpose — at 100 TB the
    # token stream dwarfs memory, and re-running a columnar scan +
    # explode is cheaper than caching it (same call as
    # unigram_logprob_scores above)
    tok = docs.select("doc_id", "lang", F.explode(_tokens()).alias("token"))
    v = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    tot = v.agg(F.sum("c").alias("total"))
    vocab = F.broadcast(v.crossJoin(F.broadcast(tot)))
    scored = (
        tok.join(vocab, "token")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.log(F.col("c").cast("double") / F.col("total"))).alias("lp"),
        )
        .select(
            "doc_id",
            "lang",
            F.round((F.col("lp") / F.col("n")).cast("decimal(30,12)"), 6)
            .cast("double")
            .alias("score"),
        )
        # one row per document; consumed by the tercile aggregate AND
        # the bucket assignment — persist or the whole scoring join
        # (the expensive pass) runs twice
        .transform(tracked_persist)
    )

    def snap4(c):
        return F.round(c.cast("decimal(30,12)"), 4).cast("double")

    cuts = scored.groupBy("lang").agg(
        snap4(F.percentile("score", F.lit(TERCILE_1))).alias("t1"),
        snap4(F.percentile("score", F.lit(TERCILE_2))).alias("t2"),
    )
    bucket = (
        F.when(F.col("score") >= F.col("t2"), "head")
        .when(F.col("score") >= F.col("t1"), "middle")
        .otherwise("tail")
    )
    return (
        scored.join(F.broadcast(cuts), "lang")
        .groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            snap4(F.avg("score")).alias("avg_score"),
        )
        .orderBy("lang", "bucket")
    )


# ------------------------------------------------------------------
# character-entropy quality gate: the compression-ratio-proxy filter
# (low-entropy text — repeated characters, keyboard mashing, padded
# boilerplate — compresses too well and is cut by pretraining
# pipelines; Shannon entropy over a fixed alphabet is the exact,
# SQL-expressible stand-in for the zlib-ratio heuristic).
# ------------------------------------------------------------------

#: fixed scoring alphabet: counting via length-difference after
#: replace() is pure per-row math on BOTH engines — zero shuffles,
#: no explode of the character stream (which would shuffle one row
#: per CHARACTER of the corpus just to build per-doc histograms).
ENTROPY_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "
ENTROPY_MIN = 3.0  # uniform over the 37-char alphabet = log2(37) ≈ 5.21
TOP_CHAR_MAX = 0.30


def entropy_cnt_exprs(s):
    """The 37 length-after-replace counts (zero-shuffle row math)."""
    return [
        (F.length(s) - F.length(F.replace(s, F.lit(ch), F.lit(""))))
        for ch in ENTROPY_ALPHABET
    ]


def entropy_expr(cnts, total):
    """Shannon entropy as a FIXED left-associated chain over the
    alphabet order — both engines produce the identical IEEE double."""

    def term(c):
        p = c.cast("double") / total
        return F.when(c > 0, p * F.log2(p)).otherwise(F.lit(0.0))

    return -reduce(add, [term(c) for c in cnts])


def entropy_top_share(cnts, total):
    return F.greatest(*cnts).cast("double") / total


def sql_entropy_cnt_cols(s: str = "s") -> str:
    return ",\n         ".join(
        f"length({s}) - length(replace({s}, '{ch}', '')) AS c{i}"
        for i, ch in enumerate(ENTROPY_ALPHABET)
    )


def sql_entropy_total() -> str:
    return " + ".join(f"c{i}" for i in range(len(ENTROPY_ALPHABET)))


def sql_entropy_terms() -> str:
    return "\n           + ".join(
        f"(CASE WHEN c{i} > 0 THEN (CAST(c{i} AS DOUBLE) / total) "
        f"* log2(CAST(c{i} AS DOUBLE) / total) ELSE 0.0 END)"
        for i in range(len(ENTROPY_ALPHABET))
    )


def sql_entropy_greatest() -> str:
    return ", ".join(f"c{i}" for i in range(len(ENTROPY_ALPHABET)))


def _entropy_oracle() -> str:
    cnt_cols = sql_entropy_cnt_cols()
    total = sql_entropy_total()
    terms = sql_entropy_terms()
    greatest = sql_entropy_greatest()
    return f"""
WITH s AS (
  SELECT doc_id, lower(text) AS s FROM documents WHERE text IS NOT NULL
), c AS (
  SELECT doc_id, s,
         {cnt_cols}
  FROM s
), t AS (
  SELECT *, {total} AS total FROM c
), e AS (
  SELECT doc_id, total,
         CASE WHEN total > 0 THEN
           CAST(round(CAST(-({terms}) AS DECIMAL(30,12)), 6) AS DOUBLE)
         END AS char_entropy,
         CASE WHEN total > 0 THEN
           CAST(round(CAST(CAST(greatest({greatest}) AS DOUBLE) / total
                           AS DECIMAL(30,12)), 6) AS DOUBLE)
         END AS top_char_share,
         CASE WHEN total > 0 THEN
           CAST(round(CAST(CAST(total AS DOUBLE) / length(s)
                           AS DECIMAL(30,12)), 6) AS DOUBLE)
         END AS alpha_coverage
  FROM t
)
SELECT doc_id, total AS n_alpha, char_entropy, top_char_share, alpha_coverage,
       CASE WHEN char_entropy >= {ENTROPY_MIN} AND top_char_share <= {TOP_CHAR_MAX}
            THEN 1 ELSE 0 END AS passes_entropy
FROM e
ORDER BY doc_id
"""


@register(
    "char_entropy_quality",
    oracle=_entropy_oracle(),
    description="Character-entropy quality gate (the compression-ratio "
    "proxy): per-document Shannon entropy over a fixed 37-char "
    "alphabet (a-z, 0-9, space) of the lowercased text, plus the top "
    "character's share and the alphabet coverage; documents pass when "
    f"entropy >= {ENTROPY_MIN} bits and no character exceeds "
    f"{TOP_CHAR_MAX:.0%} of the stream. Low-entropy documents "
    "(character repetition, mashing, padded boilerplate) compress too "
    "well and are cut by pretraining pipelines — this is the exact, "
    "SQL-expressible stand-in for the zlib-ratio heuristic. Scale "
    "notes: counts come from 37 length-after-replace expressions — "
    "pure per-row math in one corpus scan, ZERO shuffles before the "
    "presentation sort (the naive explode-characters formulation "
    "shuffles one row per character of the corpus); the entropy sum "
    "is a FIXED left-associated chain, so both engines produce the "
    "identical IEEE double before the 6-dp snap. Documents with no "
    "alphabet characters report NULL metrics and fail the gate "
    "(entropy over an empty distribution is undefined) — kept as a "
    "CASE inside the projection rather than a row filter, because a "
    "filter over the count chain would be pushed into the FileScan "
    "as a DataFilter and re-run all 37 replaces per row in the "
    "single-task scan. NULL-text documents are excluded (cheap "
    "raw-column pushdown).",
    tags=("text", "quality", "entropy"),
)
def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.lower("text").alias("s"))
        .filter(F.col("s").isNotNull())
    )
    n = len(ENTROPY_ALPHABET)
    cnts = docs.select(
        "doc_id",
        "s",
        *[c.alias(f"c{i}") for i, c in enumerate(entropy_cnt_exprs(F.col("s")))],
    )
    cnt_cols = [F.col(f"c{i}") for i in range(n)]
    t = cnts.withColumn("total", reduce(add, cnt_cols))

    def gated(c):
        # CASE inside the projection, NOT a row filter (see description);
        # also guards the /total divisions under ANSI semantics
        return F.when(F.col("total") > 0, c)

    ent = entropy_expr(cnt_cols, F.col("total"))
    top_share = entropy_top_share(cnt_cols, F.col("total"))
    e = t.select(
        "doc_id",
        F.col("total").alias("n_alpha"),
        gated(snap6(ent)).alias("char_entropy"),
        gated(snap6(top_share)).alias("top_char_share"),
        gated(snap6(F.col("total").cast("double") / F.length("s"))).alias(
            "alpha_coverage"
        ),
    )
    return e.select(
        "*",
        F.when(
            (F.col("char_entropy") >= ENTROPY_MIN)
            & (F.col("top_char_share") <= TOP_CHAR_MAX),
            1,
        )
        .otherwise(0)
        .alias("passes_entropy"),
    ).orderBy("doc_id")


# ------------------------------------------------------------------
# interpolated bigram LM scoring: the next rung above the unigram
# scorer — a Jelinek-Mercer-interpolated bigram model trained on the
# corpus itself, scoring every document's mean bigram ln-probability.
# Context-aware enough to separate shuffled-token gibberish (high
# unigram score, low bigram score) from natural text.
# ------------------------------------------------------------------

#: Jelinek-Mercer interpolation weight on the bigram estimate;
#: P(w2|w1) = λ·c(w1 w2)/c(w1) + (1-λ)·c(w2)/N. The unigram floor
#: keeps unseen-in-context bigrams finite without Katz/KN backoff
#: machinery (every bigram in scope was seen at least once by the
#: model — it is trained on the same corpus — so λ=1 would still be
#: finite, but interpolation is what a held-out scorer needs).
BIGRAM_LAMBDA = 0.75


@register(
    "bigram_logprob_scores",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_sql_tokens()} AS ts FROM documents
), bg AS (
  SELECT doc_id,
         unnest(list_slice(ts, 1, len(ts) - 1)) AS w1,
         unnest(list_slice(ts, 2, len(ts))) AS w2
  FROM t WHERE len(ts) >= 2
), tok AS (
  SELECT unnest(ts) AS token FROM t
), uni AS (
  SELECT token, count(*) AS c FROM tok GROUP BY token
), tot AS (
  SELECT sum(c) AS total FROM uni
), bi AS (
  SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2
), scored AS (
  SELECT g.doc_id,
         count(*) AS n_bigrams,
         sum(CAST(ln({BIGRAM_LAMBDA} * (CAST(b.cb AS DOUBLE) / u1.c)
                     + {1 - BIGRAM_LAMBDA} * (CAST(u2.c AS DOUBLE) / tot.total))
                  AS DECIMAL(30,12))) AS lp
  FROM bg g
  JOIN bi b ON g.w1 = b.w1 AND g.w2 = b.w2
  JOIN uni u1 ON g.w1 = u1.token
  JOIN uni u2 ON g.w2 = u2.token
  CROSS JOIN tot
  GROUP BY g.doc_id
)
SELECT doc_id, n_bigrams,
       CAST(round(CAST(CAST(lp AS DOUBLE) / n_bigrams AS DECIMAL(30,12)), 6)
            AS DOUBLE) AS avg_bigram_logprob
FROM scored
ORDER BY doc_id
""",
    description="Interpolated bigram LM score per document "
    f"(Jelinek-Mercer, λ={BIGRAM_LAMBDA}): P(w2|w1) = "
    "λ·c(w1w2)/c(w1) + (1-λ)·c(w2)/N with counts from the corpus "
    "itself; each document reports its mean bigram ln-probability. "
    "One rung above unigram_logprob_scores: shuffled-token gibberish "
    "keeps its unigram score but collapses here. Scale notes: the "
    "bigram stream is derived by zipping two slices of the per-row "
    "token array (no self-join of the token stream on position); the "
    "bigram and unigram models are vocabulary-sized aggregates "
    "broadcast to the scoring joins, so the corpus-sized stream "
    "shuffles only once into the per-document mean; per-term "
    "ln-probabilities snap to DECIMAL(30,12) BEFORE the sum, making "
    "the fold order-independent (raw IEEE accumulation would vary "
    "with partitioning). Documents with < 2 tokens have no bigrams "
    "and are absent on both engines (the empty zip happens inside "
    "the projection — no pushable filter over the tokenize chain).",
    tags=("text", "quality", "lm", "pipeline"),
)
def bigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    ts = _tokens()
    n = F.size(ts)
    # both explodes take INLINE expressions, not a projected attribute:
    # exploding an attribute lets InferFiltersFromGenerate add a
    # size(ts) > 0 filter that substitutes the whole tokenize chain
    # into the FileScan (tests/test_plan_lint.py); bg and uni are each
    # consumed by multiple branches, so they persist once
    pairs = F.when(
        n >= 2,
        F.arrays_zip(
            F.slice(ts, 1, n - 1).alias("w1"),
            F.slice(ts, 2, n - 1).alias("w2"),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = (
        docs.select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .transform(tracked_persist)
    )
    tok = docs.select(F.explode(ts).alias("token"))
    uni = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(tracked_persist)
    )
    tot = uni.agg(F.sum("c").alias("total"))
    bi = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    p = F.lit(BIGRAM_LAMBDA) * (F.col("cb").cast("double") / F.col("c1")) + F.lit(
        1 - BIGRAM_LAMBDA
    ) * (F.col("c2").cast("double") / F.col("total"))
    scored = (
        bg.join(F.broadcast(bi), ["w1", "w2"])
        .join(
            F.broadcast(uni.select(F.col("token").alias("w1"), F.col("c").alias("c1"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("token").alias("w2"), F.col("c").alias("c2"))),
            "w2",
        )
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.log(p).cast("decimal(30,12)")).alias("lp"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.round(
            (F.col("lp").cast("double") / F.col("n_bigrams")).cast("decimal(30,12)"), 6
        )
        .cast("double")
        .alias("avg_bigram_logprob"),
    ).orderBy("doc_id")


# ------------------------------------------------------------------
# composite quality score: the "quality classifier lite" a pipeline
# uses for quality-WEIGHTED decisions (sampling temperature, curriculum
# buckets) where the individual gates only give keep/drop. Four
# equally-weighted signals, each already oracle-proven standalone:
# length, repetition, entropy, and corpus-relative LM score.
# ------------------------------------------------------------------

QUALITY_MIN_TOKENS = 10


@register(
    "doc_quality_composite",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_sql_tokens()} AS ts, lower(text) AS s FROM documents
  WHERE text IS NOT NULL
), base AS (
  SELECT doc_id, ts, s, len(ts) AS n_toks,
         {sql_rep_top_cnt()} AS top_cnt,
         {sql_rep_bigrams()} AS bi
  FROM t
  WHERE len(ts) > 0
), cc AS (
  SELECT *, {sql_entropy_cnt_cols()} FROM base
), tt AS (
  SELECT *, {sql_entropy_total()} AS total FROM cc
), tok AS (
  SELECT doc_id, unnest(ts) AS token FROM base
), v AS (
  SELECT token, count(*) AS c FROM tok GROUP BY token
), vt AS (
  SELECT sum(c) AS vtotal FROM v
), lm AS (
  SELECT tok.doc_id,
         CAST(round(CAST(
           sum(ln(CAST(v.c AS DOUBLE) / vt.vtotal)) / count(*)
         AS DECIMAL(30,12)), 6) AS DOUBLE) AS lm_score
  FROM tok JOIN v USING (token) CROSS JOIN vt
  GROUP BY tok.doc_id
), lmmed AS (
  SELECT median(lm_score) AS lm_med FROM lm
), gates AS (
  SELECT b.doc_id,
         CASE WHEN b.n_toks >= {QUALITY_MIN_TOKENS} THEN 1 ELSE 0 END AS g_len,
         CASE WHEN CAST(b.top_cnt AS DOUBLE) / b.n_toks <= {TOP_TOKEN_MAX}
               AND ({sql_rep_dup_frac('b.bi')}) <= {DUP_BIGRAM_MAX}
              THEN 1 ELSE 0 END AS g_rep,
         CASE WHEN b.total > 0
               AND CAST(round(CAST(-({sql_entropy_terms()}) AS DECIMAL(30,12)), 6)
                        AS DOUBLE) >= {ENTROPY_MIN}
               AND CAST(round(CAST(CAST(greatest({sql_entropy_greatest()}) AS DOUBLE)
                              / b.total AS DECIMAL(30,12)), 6) AS DOUBLE)
                   <= {TOP_CHAR_MAX}
              THEN 1 ELSE 0 END AS g_ent,
         CASE WHEN lm.lm_score >= lmmed.lm_med THEN 1 ELSE 0 END AS g_lm
  FROM tt b JOIN lm ON b.doc_id IS NOT DISTINCT FROM lm.doc_id
  CROSS JOIN lmmed
)
SELECT doc_id, g_len, g_rep, g_ent, g_lm,
       CAST(25 * (g_len + g_rep + g_ent + g_lm) AS INTEGER) AS quality_score,
       CASE WHEN 25 * (g_len + g_rep + g_ent + g_lm) >= 75 THEN 'high'
            WHEN 25 * (g_len + g_rep + g_ent + g_lm) >= 50 THEN 'mid'
            ELSE 'low' END AS quality_bucket
FROM gates
ORDER BY doc_id
""",
    description="Composite document quality score — the classifier-lite "
    "a pipeline uses where the binary gates only give keep/drop: four "
    "equally-weighted signals (length >= 10 tokens; the Gopher "
    "repetition gate; the char-entropy gate; unigram-LM score at or "
    "above the corpus median) sum to a 0-100 score with "
    "high/mid/low buckets, ready for quality-weighted sampling or "
    "curriculum mixing. Every signal builds from the SAME shared "
    "helpers as its standalone operator (quality_repetition.py), so "
    "the composite can never drift from the gates it summarizes; the "
    "LM median is a 1-row broadcast. One corpus scan for the row "
    "gates, one token shuffle for the LM — nothing new at 100 TB "
    "beyond the already-audited parts.",
    tags=("text", "quality", "pipeline", "composite"),
)
def doc_quality_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    gates = _quality_gates_memo(spark, sf_dir)
    return guard_checkpoint_result(
        gates.select(
            "*",
            (25 * (F.col("g_len") + F.col("g_rep") + F.col("g_ent") + F.col("g_lm")))
            .cast("int")
            .alias("quality_score"),
        )
        .withColumn(
            "quality_bucket",
            F.when(F.col("quality_score") >= 75, "high")
            .when(F.col("quality_score") >= 50, "mid")
            .otherwise("low"),
        )
        .orderBy("doc_id")
    )


def _quality_gates_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document composite gate flags (doc_id, g_len, g_rep, g_ent,
    g_lm), checkpoint-memoized per corpus (r11, VERDICT r10 task 3 —
    the CC-memo pattern, guide §5): doc_quality_composite,
    quality_gate_agreement and quality_weighted_sample all consume
    exactly this relation, and before r11 each of the three rebuilt the
    full tokenize + 37-count + unigram-LM scan (~2.3-2.9 s apiece at
    sf0.1). The memoized relation is five narrow columns per document —
    never text or token arrays — so residency is label-sized, the same
    budget as the CC label memo; pretraining_funnel_report deliberately
    does NOT share it (its span-dedup stage needs the token arrays of
    surviving docs, so it must rescan regardless — see
    OPTIMIZATION_r11.md). Bench cold runs evict this memo before every
    timed query (release_result_memos), so headline numbers stay cold;
    the warm-trio pipeline cost is stamped separately."""
    def build() -> DataFrame:
        return _quality_gates_build(spark, sf_dir)

    return memoized_result_checkpoint(
        "quality_gates", table_stamp(sf_dir, "documents"), build
    )


def _quality_gates_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull() & F.col("text").rlike(r"\S"))
    )
    # STAGED projections (r5): the 37 length-after-replace counts and
    # the token array become real columns BEFORE the gate expressions
    # consume them. Inlined, each replace is duplicated into every
    # entropy term (~37×), the expression tree blows past janino's
    # method limit, whole-stage codegen fails, and the interpreted
    # fallback re-evaluates subexpressions per row — measured 7.0 s for
    # the entropy alone at sf0.1 vs 0.4 s staged. Attributes are cheap,
    # so CollapseProject will not re-inline them.
    n_alpha = len(ENTROPY_ALPHABET)
    pre = docs.select(
        "doc_id",
        _tokens().alias("ts"),
        *[
            c.alias(f"c{i}")
            for i, c in enumerate(entropy_cnt_exprs(F.lower("text")))
        ],
    )
    cnt_cols = [F.col(f"c{i}") for i in range(n_alpha)]
    pre = pre.withColumn("total", reduce(add, cnt_cols))
    ts = F.col("ts")
    total = F.col("total")
    ent = snap6(entropy_expr(cnt_cols, total))
    top_share = snap6(entropy_top_share(cnt_cols, total))
    n = F.size(ts)
    top_cnt = rep_top_cnt_expr(ts)
    dup_bi = rep_dup_frac_expr(rep_bigrams_expr(ts))
    g_len = F.when(n >= QUALITY_MIN_TOKENS, 1).otherwise(0)
    g_rep = F.when(
        (top_cnt.cast("double") / n <= TOP_TOKEN_MAX) & (dup_bi <= DUP_BIGRAM_MAX), 1
    ).otherwise(0)
    g_ent = F.when(
        (total > 0) & (ent >= ENTROPY_MIN) & (top_share <= TOP_CHAR_MAX), 1
    ).otherwise(0)
    base = pre.select(
        "doc_id",
        "ts",
        g_len.alias("g_len"),
        g_rep.alias("g_rep"),
        g_ent.alias("g_ent"),
    ).transform(tracked_persist)
    # materialize the shared scan ONCE before the consumers fan out
    # (r10 optimization, guide §5): the v/vt/lmmed broadcast exchanges
    # are built as CONCURRENT jobs, and when they race the final job to
    # a cold cache each one re-runs the full tokenize + 37-count + gate
    # scan (profiled: the ~8 exec-s projection executed ~3× per run).
    # One count() barrier fills the cache; every branch then reads it.
    # Wall-neutral at sf0.1 (the redundant jobs back-fill idle cores)
    # but saves ~2/3 of the scan CPU — the win appears when cores are
    # saturated (measured at 10×, see OPTIMIZATION_r10.md).
    base.count()
    tok = base.select("doc_id", F.explode("ts").alias("token"))
    v = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c")).transform(
        tracked_persist
    )
    vt = v.agg(F.sum("c").alias("vtotal"))
    lm = (
        tok.join(F.broadcast(v), "token")
        .crossJoin(F.broadcast(vt))
        .groupBy("doc_id")
        .agg(
            F.round(
                (
                    F.sum(F.log(F.col("c").cast("double") / F.col("vtotal")))
                    / F.count(F.lit(1))
                ).cast("decimal(30,12)"),
                6,
            )
            .cast("double")
            .alias("lm_score")
        )
        .transform(tracked_persist)
    )
    lmmed = lm.agg(F.median("lm_score").alias("lm_med"))
    g_lm = F.when(F.col("lm_score") >= F.col("lm_med"), 1).otherwise(0)
    return (
        base.alias("b")
        .join(lm.alias("l"), F.col("b.doc_id").eqNullSafe(F.col("l.doc_id")))
        .crossJoin(F.broadcast(lmmed))
        .select(
            F.col("b.doc_id").alias("doc_id"),
            "g_len",
            "g_rep",
            "g_ent",
            g_lm.alias("g_lm"),
        )
    )


#: the six unordered pairs of composite gate flags
_GATE_PAIRS = (
    ("g_len", "g_rep"),
    ("g_len", "g_ent"),
    ("g_len", "g_lm"),
    ("g_rep", "g_ent"),
    ("g_rep", "g_lm"),
    ("g_ent", "g_lm"),
)


def _gate_agreement_oracle() -> str:
    """Composes doc_quality_composite's registered oracle verbatim
    (same rule as ann_recall_report / lsh_recall_report), then derives
    Cohen's kappa for every gate pair from one aggregate row."""
    from ..plans.registry import _REGISTRY

    comp = _REGISTRY["doc_quality_composite"].oracle
    sums = ", ".join(
        f"CAST(sum({g}) AS BIGINT) AS s_{g}" for g in ("g_len", "g_rep", "g_ent", "g_lm")
    )
    agrees = ", ".join(
        f"CAST(sum(CASE WHEN {a} = {b} THEN 1 ELSE 0 END) AS BIGINT) AS agree_{a}_{b}"
        for a, b in _GATE_PAIRS
    )
    selects = []
    for a, b in _GATE_PAIRS:
        pa = f"(s_{a} * 1.0 / nullif(n, 0))"
        pb = f"(s_{b} * 1.0 / nullif(n, 0))"
        po = f"(agree_{a}_{b} * 1.0 / nullif(n, 0))"
        pe = f"({pa} * {pb} + (1 - {pa}) * (1 - {pb}))"
        selects.append(
            f"SELECT '{a}' AS gate_a, '{b}' AS gate_b, n AS n_docs,\n"
            f"  CAST(round(CAST({po} AS DECIMAL(30,12)), 6) AS DOUBLE) AS po,\n"
            f"  CAST(round(CAST({pe} AS DECIMAL(30,12)), 6) AS DOUBLE) AS pe,\n"
            f"  CAST(round(CAST(({po} - {pe}) / nullif(1 - {pe}, 0)\n"
            f"       AS DECIMAL(30,12)), 6) AS DOUBLE) AS kappa\n"
            f"FROM a"
        )
    return (
        f"WITH comp AS ({comp}),\n"
        f"a AS (SELECT count(*) AS n, {sums}, {agrees} FROM comp)\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY gate_a, gate_b"
    )


@register(
    "quality_gate_agreement",
    oracle=_gate_agreement_oracle(),
    description="Inter-gate agreement analysis: Cohen's kappa for every "
    "pair of the composite's four quality gates (length, repetition, "
    "entropy, unigram-LM), over doc_quality_composite's registered "
    "builder reused verbatim. Kappa near 1 means two gates are "
    "redundant (drop the costlier one); near 0 means they fire on "
    "independent failure modes (keep both) — the measurement that "
    "justifies a gate set instead of folklore. Observed agreement and "
    "chance agreement come from ONE aggregate row over the per-doc "
    "flags; the six pair rows are constant-width projections of it.",
    tags=("text", "quality", "report", "aggregate"),
)
def quality_gate_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    flags = doc_quality_composite(spark, sf_dir).select(
        "g_len", "g_rep", "g_ent", "g_lm"
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for g in ("g_len", "g_rep", "g_ent", "g_lm"):
        aggs.append(F.sum(g).cast("bigint").alias(f"s_{g}"))
    for a, b in _GATE_PAIRS:
        aggs.append(
            F.sum(F.when(F.col(a) == F.col(b), 1).otherwise(0))
            .cast("bigint")
            .alias(f"agree_{a}_{b}")
        )
    one = flags.agg(*aggs)

    rows = []
    for a, b in _GATE_PAIRS:
        pa = F.try_divide(F.col(f"s_{a}") * 1.0, F.nullif(F.col("n"), F.lit(0)))
        pb = F.try_divide(F.col(f"s_{b}") * 1.0, F.nullif(F.col("n"), F.lit(0)))
        po = F.try_divide(
            F.col(f"agree_{a}_{b}") * 1.0, F.nullif(F.col("n"), F.lit(0))
        )
        pe = pa * pb + (1 - pa) * (1 - pb)
        kappa = F.try_divide(po - pe, F.nullif(1 - pe, F.lit(0.0)))
        rows.append(
            F.struct(
                F.lit(a).alias("gate_a"),
                F.lit(b).alias("gate_b"),
                F.col("n").alias("n_docs"),
                snap6(po).alias("po"),
                snap6(pe).alias("pe"),
                snap6(kappa).alias("kappa"),
            )
        )
    # plan reads the memoized gates checkpoint — stale-handle fail-fast
    return guard_checkpoint_result(
        one.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.*")
        .orderBy("gate_a", "gate_b")
    )
