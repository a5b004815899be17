"""Corpus lifecycle operators: incremental dedup, representative
selection, BPE merge mining, and a one-row dedup funnel report.

The reference pipeline consumes a corpus once and emits word counts
(reference ``1.cpp`` whole file — tokenize → clean → count); a
production training-data pipeline additionally runs the corpus
*lifecycle*: new crawl batches arrive and must dedup against the
established corpus (incremental dedup), duplicate groups need a
deterministic representative (keep-best selection), the tokenizer is
trained from the corpus itself (BPE merge candidates = adjacent-pair
frequencies), and every run publishes dedup-rate observability.

Scale notes (local[32] today, 1000 executors tomorrow):

* Incremental dedup keys the anti-join on an 8-byte-cheap content
  hash projected in the scan — document text never shuffles. The
  new-arrival side is a single crawl batch (tiny vs the corpus), so
  at 100 TB the exchange carries only (hash, id) pairs partitioned by
  hash; AQE broadcasts whichever side fits.
* Keep-best collapses on a canonical bag key (sorted distinct token
  hash). The groupBy is one shuffle of (key, doc_id, n_chars) slim
  rows; the representative is picked with a min(struct(...)) single
  aggregate, not a window — no second shuffle, no per-group sort.
* BPE merge candidates never materialize per-position rows until the
  pair strings are built inside the array (one transform per doc),
  and the count groupBy partial-aggregates map-side, so the shuffle
  carries one row per *distinct* pair per partition. Top-20 is a
  TakeOrderedAndProject, not a global sort.
* The funnel report is a single Expand-based multi-distinct aggregate
  over one scan — at scale this is the same shape as Spark's own
  count-distinct rewrite (partial per-key dedup before the exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.decisions import note
from ..plans.registry import register
from ..sources.tables import load_table
from .textstats import _sql_tokens, _tokens

#: the crawl batch playing "new arrivals" in the incremental dedup.
NEW_BATCH_SOURCE = "src19"

#: number of BPE merge candidates / top n-grams reported.
TOP_PAIRS = 20


def _bag_key() -> F.Column:
    """Canonical bag-of-words key: md5 of the sorted distinct token
    list — identical wording up to order/multiplicity collapses."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(_tokens()))))


# coalesce: DuckDB's array_to_string returns NULL on an empty list
# where Spark's concat_ws returns '' — zero-token documents must land
# in the same (md5 of empty string) group in both engines
_SQL_BAG_KEY = (
    f"md5(coalesce(array_to_string(list_sort(list_distinct({_sql_tokens()})), ' '), ''))"
)


@register(
    "dedup_incremental_batch",
    oracle=f"""
WITH h AS (
  SELECT doc_id, source, md5(text) AS content_hash FROM documents
)
SELECT n.doc_id, n.content_hash
FROM h n
WHERE n.source = '{NEW_BATCH_SOURCE}'
  AND NOT EXISTS (
    SELECT 1 FROM h c
    WHERE c.source <> '{NEW_BATCH_SOURCE}'
      AND c.content_hash = n.content_hash
  )
ORDER BY n.doc_id
""",
    description="Incremental dedup: documents of the newest crawl batch "
    f"(source = {NEW_BATCH_SOURCE!r}) that are NOT exact-content "
    "duplicates of the established corpus — a hash-keyed left-anti join "
    "where text never shuffles, only (hash, id) pairs. The batch-vs-"
    "corpus anti-join is the standard admission gate of a continuously "
    "updated training corpus.",
    tags=("dedup", "incremental", "pipeline"),
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("content_hash")
    )
    new = docs.filter(F.col("source") == NEW_BATCH_SOURCE).select(
        "doc_id", "content_hash"
    )
    corpus = docs.filter(F.col("source") != NEW_BATCH_SOURCE).select("content_hash")
    return new.join(corpus, "content_hash", "left_anti").select(
        "doc_id", "content_hash"
    ).orderBy("doc_id")


@register(
    "dedup_bag_keep_best",
    oracle=f"""
WITH k AS (
  SELECT doc_id, n_chars, {_SQL_BAG_KEY} AS bag_key FROM documents
), r AS (
  SELECT doc_id, n_chars, bag_key,
         row_number() OVER (PARTITION BY bag_key
                            ORDER BY n_chars DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY bag_key) AS n_members
  FROM k
)
SELECT doc_id AS rep_doc_id, CAST(n_members AS BIGINT) AS n_members, bag_key
FROM r WHERE rn = 1
ORDER BY rep_doc_id
""",
    description="Duplicate-group representative selection: documents "
    "collapse on a canonical bag-of-words key and each group keeps its "
    "best member (longest text, then lowest doc_id) via a single "
    "min(struct) aggregate — one shuffle of slim rows, no per-group "
    "window sort. This is the 'which copy survives' half of dedup that "
    "dedup_exact's min-id policy simplifies away.",
    tags=("dedup", "keep-best", "pipeline"),
)
def dedup_bag_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", _bag_key().alias("bag_key")
    )
    # min over (−n_chars, doc_id) ≡ (n_chars DESC, doc_id ASC) winner:
    # a single hash aggregate replaces the row_number window the oracle
    # uses — same result, one shuffle, partial-aggregated map-side.
    # NULL n_chars must lose to every real length (the oracle's DESC
    # default is NULLS LAST), but min(struct) would rank a NULL field
    # FIRST — map it to long-max so NULL-length docs win only all-NULL
    # groups (then the doc_id tiebreak decides, same as the oracle).
    neg = F.coalesce(
        (-F.col("n_chars")).cast("long"), F.lit((1 << 63) - 1)
    )
    best = F.min(F.struct(neg.alias("neg"), F.col("doc_id")))
    return (
        docs.groupBy("bag_key")
        .agg(best.alias("best"), F.count(F.lit(1)).alias("n_members"))
        .select(
            F.col("best.doc_id").alias("rep_doc_id"), "n_members", "bag_key"
        )
        .orderBy("rep_doc_id")
    )


@register(
    "bpe_merge_candidates",
    oracle=f"""
WITH t AS (
  SELECT {_sql_tokens()} AS toks FROM documents
), p AS (
  SELECT toks[i] || ' ' || toks[i + 1] AS pair
  FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
  WHERE len(toks) >= 2
)
SELECT pair, count(*) AS cnt
FROM p GROUP BY pair
ORDER BY cnt DESC, pair
LIMIT {TOP_PAIRS}
""",
    description=f"Tokenizer training step: top-{TOP_PAIRS} adjacent "
    "token pairs by corpus frequency — exactly the first merge-candidate "
    "scan of BPE training. Pairs are built inside the token array (one "
    "transform per document, no per-position rows until the explode), "
    "the count partial-aggregates map-side, and the top-k is a "
    "TakeOrderedAndProject rather than a global sort.",
    tags=("text", "tokenizer", "bpe", "pipeline"),
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ts = F.col("ts")
    # sequence(1, n-1) COUNTS DOWN when n = 1 (sequence(1, 0) →
    # [1, 0]) — guard short docs explicitly, same gotcha as _shingles.
    pairs = F.when(
        F.size(ts) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ts) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(ts, i), F.element_at(ts, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(_tokens().alias("ts"))
        .select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(TOP_PAIRS)
    )


@register(
    "corpus_dedup_report",
    oracle=f"""
WITH t AS (
  SELECT text, md5(text) AS content_hash, {_SQL_BAG_KEY} AS bag_key,
         len({_sql_tokens()}) AS n_toks
  FROM documents
)
SELECT count(*) AS n_docs,
       count(DISTINCT content_hash) AS n_exact_unique,
       count(DISTINCT bag_key) AS n_bag_unique,
       CAST(sum(n_toks) AS BIGINT) AS total_tokens
FROM t
""",
    description="One-row dedup observability report: document count, "
    "exact-content unique count, bag-of-words unique count, and total "
    "token volume — the per-run funnel a corpus pipeline publishes "
    "after each ingest. One scan; the two count-distincts ride Spark's "
    "Expand-based rewrite (per-key partial dedup before the exchange), "
    "so no stage ever holds the full corpus in one task.",
    tags=("dedup", "observability", "pipeline"),
)
def corpus_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        F.md5("text").alias("content_hash"),
        _bag_key().alias("bag_key"),
        F.size(_tokens()).alias("n_toks"),
    )
    return t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("content_hash").alias("n_exact_unique"),
        F.count_distinct("bag_key").alias("n_bag_unique"),
        F.sum("n_toks").alias("total_tokens"),
    )


TOP_NGRAMS_N = 3
TOP_NGRAMS_K = 25


@register(
    "top_ngrams",
    oracle=f"""
WITH t AS (
  SELECT {_sql_tokens()} AS toks FROM documents
), g AS (
  SELECT array_to_string(toks[i:i+{TOP_NGRAMS_N - 1}], ' ') AS ngram
  FROM t, unnest(generate_series(1, len(toks) - {TOP_NGRAMS_N - 1})) AS u(i)
  WHERE len(toks) >= {TOP_NGRAMS_N}
)
SELECT ngram, count(*) AS cnt
FROM g GROUP BY ngram
ORDER BY cnt DESC, ngram
LIMIT {TOP_NGRAMS_K}
""",
    description=f"Global top-{TOP_NGRAMS_K} {TOP_NGRAMS_N}-grams by "
    "corpus frequency — the scan that builds boilerplate blocklists and "
    "contamination watchlists. N-grams are built inside the token array "
    "(no per-position rows before the explode), counts partial-"
    "aggregate map-side, and the top-k is a TakeOrderedAndProject.",
    tags=("text", "ngram", "pipeline"),
)
def top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ts = F.col("ts")
    grams = F.when(
        F.size(ts) >= TOP_NGRAMS_N,
        F.transform(
            F.sequence(F.lit(1), F.size(ts) - (TOP_NGRAMS_N - 1)),
            lambda i: F.concat_ws(" ", F.slice(ts, i, TOP_NGRAMS_N)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(_tokens().alias("ts"))
        .select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "ngram")
        .limit(TOP_NGRAMS_K)
    )


LENGTH_GATE_LO = 0.05
LENGTH_GATE_HI = 0.95


@register(
    "length_gate_survivors",
    oracle=f"""
WITH t AS (
  -- coalesce: NULL text counts as 0 tokens (matching the Spark side),
  -- so a NULL-text doc is gated like an empty one instead of silently
  -- vanishing from both the quantiles and the output
  SELECT doc_id, coalesce(len({_sql_tokens()}), 0) AS n_toks FROM documents
), cuts AS (
  SELECT quantile_cont(n_toks, {LENGTH_GATE_LO}) AS lo,
         quantile_cont(n_toks, {LENGTH_GATE_HI}) AS hi
  FROM t
)
SELECT t.doc_id, CAST(t.n_toks AS BIGINT) AS n_toks
FROM t, cuts
WHERE t.n_toks >= cuts.lo AND t.n_toks <= cuts.hi
ORDER BY t.doc_id
""",
    description="Percentile length gate: keep documents whose token "
    f"count lies inside the [{LENGTH_GATE_LO:.0%}, {LENGTH_GATE_HI:.0%}] "
    "corpus percentile band — the outlier-trimming step of corpus prep "
    "(truncated shards at one end, concatenation bugs at the other). "
    "The exact interpolated percentiles come from ONE tiny aggregate "
    "broadcast back over the scan; two passes over a slim (id, count) "
    "projection, no shuffle of document text.",
    tags=("text", "quality", "percentile", "pipeline"),
)
def length_gate_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # coalesce: size() is null only for null text, and Catalyst infers
    # an isnotnull(<whole tokenize chain>) constraint from the range
    # filter below and pushes it into the single-task FileScan (the
    # plan-lint failure mode) — coalesce makes the column provably
    # non-null so the inferred constraint folds to TRUE and vanishes
    t = docs.select(
        "doc_id", F.coalesce(F.size(_tokens()), F.lit(0)).alias("n_toks")
    )
    cuts = t.agg(
        F.expr(f"percentile(n_toks, {LENGTH_GATE_LO})").alias("lo"),
        F.expr(f"percentile(n_toks, {LENGTH_GATE_HI})").alias("hi"),
    )
    return (
        t.crossJoin(F.broadcast(cuts))
        .filter((F.col("n_toks") >= F.col("lo")) & (F.col("n_toks") <= F.col("hi")))
        .select("doc_id", F.col("n_toks").cast("long").alias("n_toks"))
        .orderBy("doc_id")
    )


# ------------------------------------------------------------------
# the full pretraining curation funnel in ONE plan: every r3/r4 gate
# composed the way a production pipeline actually chains them —
# raw → non-empty → Gopher repetition gate → char-entropy gate →
# exact dedup (canonical per content digest) → span-dedup cut
# (ExactSubstr dup fraction) — with per-stage survivor counts and the
# surviving token budget. The point of the catalog's gates is that
# they COMPOSE into a single Catalyst plan; this is the composition.
# ------------------------------------------------------------------

#: a document is cut when at least half of its 8-token spans are
#: verbatim-duplicated inside the surviving corpus; the comparison is
#: the integer form 2·dup < n (exact on both engines — no division).
SPAN_DUP_CUT_NUM = 2


def _funnel_oracle() -> str:
    from .dedup import sql_span_ds_ctes
    from .quality_repetition import (
        DUP_BIGRAM_MAX,
        ENTROPY_MIN,
        TOP_CHAR_MAX,
        TOP_TOKEN_MAX,
        sql_entropy_cnt_cols,
        sql_entropy_greatest,
        sql_entropy_terms,
        sql_entropy_total,
        sql_rep_bigrams,
        sql_rep_dup_frac,
        sql_rep_top_cnt,
    )

    # every gate fragment is the SAME generator the standalone
    # operators build from — the funnel cannot drift from the gates it
    # composes (review r4)
    cnt_cols = sql_entropy_cnt_cols()
    total = sql_entropy_total()
    terms = sql_entropy_terms()
    greatest = sql_entropy_greatest()
    return rf"""
WITH base AS (
  SELECT doc_id, text, md5(text) AS h,
         {_sql_tokens()} AS ts,
         lower(text) AS s,
         regexp_matches(coalesce(text, ''), '\S') AS f2
  FROM documents
), rep AS (
  SELECT *, len(ts) AS n_toks,
         {sql_rep_top_cnt()} AS top_cnt,
         {sql_rep_bigrams()} AS bi
  FROM base
), cc AS (
  SELECT *, {cnt_cols}
  FROM rep
), tt AS (
  SELECT *, {total} AS total FROM cc
), flags AS (
  SELECT doc_id, text, h, ts, n_toks, f2,
         f2 AND n_toks > 0
            AND CAST(top_cnt AS DOUBLE) / n_toks <= {TOP_TOKEN_MAX}
            AND ({sql_rep_dup_frac()}) <= {DUP_BIGRAM_MAX} AS f3,
         total > 0
            AND CAST(round(CAST(-({terms}) AS DECIMAL(30,12)), 6) AS DOUBLE)
                >= {ENTROPY_MIN}
            AND CAST(round(CAST(CAST(greatest({greatest}) AS DOUBLE) / total
                            AS DECIMAL(30,12)), 6) AS DOUBLE) <= {TOP_CHAR_MAX}
            AS f4e
  FROM tt
), staged AS (
  SELECT *, f3 AND f4e AS f4 FROM flags
), agg1 AS (
  SELECT count(*) AS n_raw,
         CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonempty,
         CAST(sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_repetition,
         CAST(sum(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_entropy
  FROM staged
), kept AS (
  SELECT doc_id, ts, n_toks FROM (
    SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
    FROM staged WHERE f4
  ) WHERE rn = 1
), agg2 AS (
  SELECT count(*) AS n_after_exact_dedup FROM kept
), {sql_span_ds_ctes('kept')}, shared AS (
  SELECT sid FROM ds GROUP BY sid HAVING count(DISTINCT doc_id) >= 2
), spanstats AS (
  SELECT d.doc_id, count(*) AS n_spans,
         sum(CASE WHEN s.sid IS NOT NULL THEN 1 ELSE 0 END) AS dup_spans
  FROM ds d LEFT JOIN shared s USING (sid)
  GROUP BY d.doc_id
), survivors AS (
  SELECT k.doc_id, k.n_toks
  FROM kept k LEFT JOIN spanstats p ON k.doc_id IS NOT DISTINCT FROM p.doc_id
  WHERE p.doc_id IS NULL OR {SPAN_DUP_CUT_NUM} * p.dup_spans < p.n_spans
), agg3 AS (
  SELECT count(*) AS n_after_span_cut,
         CAST(coalesce(sum(n_toks), 0) AS BIGINT) AS surviving_tokens
  FROM survivors
)
SELECT * FROM agg1 CROSS JOIN agg2 CROSS JOIN agg3
"""


@register(
    "pretraining_funnel_report",
    oracle=_funnel_oracle(),
    description="The full pretraining curation funnel as ONE Catalyst "
    "plan, composing the catalog's gates the way a production pipeline "
    "chains them: raw corpus → non-empty → Gopher repetition gate "
    "(top-token and duplicate-bigram shares) → character-entropy gate "
    "(the compression-ratio proxy) → exact dedup keeping the lowest "
    "doc_id per content digest → ExactSubstr span-dedup cut (a "
    "survivor is dropped when >= half of its 8-token spans are "
    "verbatim-duplicated among the survivors, compared in the exact "
    "integer form 2·dup < n). One row out: per-stage survivor counts "
    "plus the surviving token budget. Scale notes: every per-document "
    "gate is row math in one scan (flags, not filters, so nothing "
    "heavy is pushed into the FileScan and every stage is counted in "
    "the same pass); the dedup stage shuffles 32-byte digests; the "
    "span stage shuffles 8-byte span ids of the survivors only; the "
    "final counts are three tiny aggregates cross-joined.",
    tags=("text", "pipeline", "dedup", "quality"),
)
def pretraining_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce
    from operator import add

    from pyspark.sql import Window as W

    from ..plans.caching import tracked_persist
    from ..sources.tables import spread
    from .dedup import span_sid_rows
    from .quality_repetition import (
        DUP_BIGRAM_MAX,
        ENTROPY_ALPHABET,
        ENTROPY_MIN,
        TOP_CHAR_MAX,
        TOP_TOKEN_MAX,
        entropy_cnt_exprs,
        entropy_expr,
        entropy_top_share,
        rep_bigrams_expr,
        rep_dup_frac_expr,
        rep_top_cnt_expr,
        snap6,
    )

    # every gate expression is the SAME helper the standalone operators
    # build from — the funnel cannot drift from the gates it composes.
    # STAGED projections (r5, same fix as doc_quality_composite): the
    # token array and the 37 length-after-replace counts become real
    # columns BEFORE the gate expressions consume them — inlined, the
    # duplicated replaces blow past janino's method limit, codegen
    # falls back to interpreted eval, and the scan re-computes
    # subexpressions per row (measured ~7 s of this query's cost).
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    pre = docs.select(
        "doc_id",
        "text",
        _tokens().alias("ts"),
        *[
            c.alias(f"c{i}")
            for i, c in enumerate(entropy_cnt_exprs(F.lower("text")))
        ],
    )
    cnt_cols = [F.col(f"c{i}") for i in range(len(ENTROPY_ALPHABET))]
    pre = pre.withColumn("total", reduce(add, cnt_cols))
    ts = F.col("ts")
    total = F.col("total")
    n = F.size(ts)
    top_cnt = rep_top_cnt_expr(ts)
    dup_bi = rep_dup_frac_expr(rep_bigrams_expr(ts))
    ent = snap6(entropy_expr(cnt_cols, total))
    top_share = snap6(entropy_top_share(cnt_cols, total))
    f2 = F.coalesce(F.col("text"), F.lit("")).rlike(r"\S")
    # explicit zero-token guard (ADVICE r5): under ANSI mode the bare
    # top_cnt/n would throw DIVIDE_BY_ZERO on an empty doc, and relying
    # on And's left-to-right short-circuit past (n > 0) is evaluation-
    # order trivia, not a contract. Same F.when pattern as
    # char_entropy_quality; n = 0 docs simply fail the gate.
    top_token_ok = F.when(
        n > 0, top_cnt.cast("double") / n <= TOP_TOKEN_MAX
    ).otherwise(F.lit(False))
    f3 = f2 & (n > 0) & top_token_ok & (dup_bi <= DUP_BIGRAM_MAX)
    f4 = f3 & (total > 0) & (ent >= ENTROPY_MIN) & (top_share <= TOP_CHAR_MAX)
    staged = pre.select(
        "doc_id",
        "ts",
        n.alias("n_toks"),
        F.md5("text").alias("h"),
        f2.alias("f2"),
        f3.alias("f3"),
        f4.alias("f4"),
    ).transform(tracked_persist)
    # materialize the shared gate scan ONCE before the stage aggregates
    # fan out (r10 optimization, guide §5): the per-stage count
    # aggregates become concurrent broadcast-exchange jobs that raced
    # this cache cold and re-ran the tokenize + 37-count + md5 + bigram
    # scan ~3× per run (profiled ~26 of 48 exec-s redundant). Wall-
    # neutral at sf0.1 (redundant jobs back-fill idle cores), CPU-saving
    # at saturation — same barrier as doc_quality_composite's.
    staged.count()
    agg1 = staged.agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.col("f2").cast("int")).alias("n_nonempty"),
        F.sum(F.col("f3").cast("int")).alias("n_pass_repetition"),
        F.sum(F.col("f4").cast("int")).alias("n_pass_entropy"),
    )
    kept = (
        staged.filter("f4")
        .withColumn("rn", F.row_number().over(W.partitionBy("h").orderBy("doc_id")))
        .filter(F.col("rn") == 1)
        .select("doc_id", "ts", "n_toks")
        .transform(tracked_persist)
    )
    agg2 = kept.agg(F.count(F.lit(1)).alias("n_after_exact_dedup"))
    ds = span_sid_rows(kept).transform(tracked_persist)
    shared = (
        ds.groupBy("sid")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("sid", F.lit(1).alias("is_shared"))
    )
    spanstats = (
        ds.join(shared, "sid", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.coalesce("is_shared", F.lit(0))).alias("dup_spans"),
        )
    )
    survivors = (
        kept.alias("k")
        .join(
            spanstats.alias("p"),
            F.col("k.doc_id").eqNullSafe(F.col("p.doc_id")),
            "left",
        )
        .filter(
            F.col("p.doc_id").isNull()
            | (F.lit(SPAN_DUP_CUT_NUM) * F.col("p.dup_spans") < F.col("p.n_spans"))
        )
        .select(F.col("k.n_toks").alias("n_toks"))
    )
    agg3 = survivors.agg(
        F.count(F.lit(1)).alias("n_after_span_cut"),
        F.coalesce(F.sum("n_toks"), F.lit(0)).cast("bigint").alias("surviving_tokens"),
    )
    return agg1.crossJoin(agg2).crossJoin(agg3)


# ------------------------------------------------------------------
# iterative BPE tokenizer training (VERDICT r4 task 4): the catalog
# already mines the FIRST merge candidates (bpe_merge_candidates) and
# consumes a TRAINED vocabulary (vocab_oov_rates); this operator is the
# loop between them — N fixed merge rounds over the corpus word
# distribution, emitting the learned merge table. Classic BPE
# (Sennrich et al. 2016): symbols start as characters, each round
# merges the corpus-wide most frequent adjacent symbol pair, and the
# next round's pair counts reflect every earlier merge.
#
# Scale design: after one corpus scan the training state is the
# DISTINCT-WORD distribution (vocab-sized, zipf-truncated — orders of
# magnitude smaller than the corpus). Each round is ONE shuffle (pair
# groupBy, partial-aggregated map-side, weighted by word count) plus a
# shuffle-free projection applying the merge as a per-word array fold.
# The only driver traffic is the 1-row argmax per round — the same
# bounded round-trip pattern as kmeans_lloyd / embedding_top_pc.
# Greedy left-to-right non-overlapping application falls out of the
# fold naturally; the oracle reproduces it positionally (odd positions
# within each run of consecutive matches — runs only arise when the
# merged pair is a self-pair l = r).
# ------------------------------------------------------------------

BPE_MERGE_ROUNDS = 5
#: training-state rows per partition for the per-round jobs — the
#: measured vocab count divided by this picks the state width (≥1,
#: ≤32)
_BPE_ROWS_PER_STATE_PART = 300_000
#: largest measured vocabulary the driver-side merge loop takes
BPE_DRIVER_VOCAB_MAX = 65536
#: only lowercase-ASCII alphanumeric words enter training: the char-
#: level symbol split must be byte-identical across engines (Spark
#: splits UTF-16 code units, DuckDB splits UTF-8 graphemes — ASCII is
#: the intersection), and real tokenizer prep normalizes similarly.
_BPE_WORD_RE = "^[a-z0-9]+$"


def _bpe_oracle() -> str:
    rounds = []
    finals = []
    for k in range(1, BPE_MERGE_ROUNDS + 1):
        rounds.append(
            f"""pc{k} AS (
  SELECT syms[i] AS l, syms[i + 1] AS r, CAST(sum(cnt) AS BIGINT) AS c
  FROM w{k - 1}, unnest(generate_series(1, len(syms) - 1)) AS u(i)
  WHERE len(syms) >= 2
  GROUP BY 1, 2
), m{k} AS (
  SELECT l, r, c FROM pc{k} ORDER BY c DESC, l, r LIMIT 1
), pos{k} AS (
  -- LEFT JOIN ON TRUE: an exhausted corpus (no pairs left) leaves the
  -- word relation unchanged instead of emptying it
  SELECT w.word, w.cnt, u.i, w.syms[u.i] AS sym,
         coalesce(u.i < len(w.syms)
                  AND w.syms[u.i] = m.l AND w.syms[u.i + 1] = m.r,
                  FALSE) AS is_match
  FROM w{k - 1} w LEFT JOIN m{k} m ON TRUE,
       unnest(generate_series(1, len(w.syms))) AS u(i)
), sel{k} AS (
  -- greedy left-to-right non-overlap = odd positions within each run
  -- of consecutive matches
  SELECT word, cnt, i, sym, is_match,
         is_match AND (row_number() OVER (
             PARTITION BY word, is_match, grp ORDER BY i)) % 2 = 1
           AS selected
  FROM (
    SELECT word, cnt, i, sym, is_match,
           i - row_number() OVER (PARTITION BY word, is_match ORDER BY i)
             AS grp
    FROM pos{k}
  )
), w{k} AS (
  SELECT word, cnt,
         list(CASE WHEN selected THEN merged ELSE sym END ORDER BY i) AS syms
  FROM (
    SELECT word, cnt, i, sym, selected,
           sym || lead(sym) OVER (PARTITION BY word ORDER BY i) AS merged,
           lag(selected, 1, FALSE) OVER (PARTITION BY word ORDER BY i)
             AS prev_sel
    FROM sel{k}
  )
  WHERE NOT prev_sel
  GROUP BY word, cnt
)"""
        )
        finals.append(
            f"SELECT {k} AS round, l AS lhs, r AS rhs, c AS pair_cnt FROM m{k}"
        )
    chained = ",\n".join(rounds)
    unioned = "\nUNION ALL ".join(finals)
    return rf"""
WITH w0 AS (
  SELECT w AS word, count(*) AS cnt, string_split(w, '') AS syms
  FROM (
    SELECT unnest({_sql_tokens("lower(text)")}) AS w FROM documents
  )
  WHERE regexp_matches(w, '{_BPE_WORD_RE}')
  GROUP BY w
),
{chained}
SELECT * FROM ({unioned})
ORDER BY round
"""


def _bpe_apply_merge(syms: F.Column, lhs: str, rhs: str) -> F.Column:
    """Greedy left-to-right non-overlapping merge of (lhs, rhs) as an
    array fold: append each symbol, or replace the just-appended lhs
    when the incoming symbol completes the pair. The merged symbol
    (lhs||rhs, strictly longer than lhs) can never re-match as a left
    element within the same round, which is exactly the non-overlap
    rule the oracle's odd-position selection encodes."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(lhs))
            & (s == F.lit(rhs)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(lhs + rhs))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


@register(
    "bpe_learn_merges",
    oracle=_bpe_oracle(),
    description=f"Iterative BPE tokenizer training: {BPE_MERGE_ROUNDS} "
    "merge rounds over the corpus word distribution (symbols start as "
    "characters), emitting the learned merge table (round, lhs, rhs, "
    "corpus pair count). Training state is the vocab-sized distinct-word "
    "relation; each round costs one map-side-combined pair shuffle plus "
    "a shuffle-free fold projection, with a 1-row driver argmax — the "
    "kmeans_lloyd round-trip pattern. Oracle: the same rounds unrolled "
    "as chained CTEs, greedy non-overlap reproduced positionally.",
    tags=("text", "tokenizer", "bpe", "pipeline", "iterative"),
)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.rows import literal_rows_df

    merges, _ = _bpe_train(spark, sf_dir)
    # literal-values plan instead of createDataFrame: the Python-RDD
    # parallelize cost ~6 exec-s × 2 stages at 32 cores for 5 rows
    # (r10 optimization, guide §4 — no Python workers for JVM work)
    return literal_rows_df(
        spark, merges, "round int, lhs string, rhs string, pair_cnt bigint"
    ).orderBy("round")


def _bpe_train(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Shared BPE training loop: returns (merge table, final word
    relation with post-merge symbol arrays + counts + original word)."""
    from ..plans.caching import tracked_persist

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(_tokens(F.lower(F.col("text")))).alias("w"))
        .filter(F.col("w").rlike(_BPE_WORD_RE))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("w", F.split("w", "").alias("syms"), "cnt")
        .transform(tracked_persist)
    )
    # Measured state-width decision (same memoized-knob pattern as the
    # LSH hot-bucket and zscore chunk width): the expensive corpus scan
    # materializes the persist at full parallelism via this count, then
    # the 5 training rounds iterate on a state coalesced to match its
    # MEASURED vocab size — a 31-word synthetic vocab collapses to one
    # task per round (4.2 → ~1 s at sf0.1), a real 10M-word vocab keeps
    # 32-way parallelism. coalesce reads cached partitions, no shuffle.
    n_vocab = words.count()
    state_parts = max(1, min(32, n_vocab // _BPE_ROWS_PER_STATE_PART))
    if state_parts < 32:
        wide = words
        words = words.coalesce(state_parts).transform(tracked_persist)
        # materialize the coalesced copy from the cached wide partitions
        # (a cache-read pass, not a rescan), then drop the wide copy —
        # otherwise BOTH vocab-relation caches stay resident for the
        # rest of the build (ADVICE r6)
        words.count()
        wide.unpersist()
    # Driver-side merge loop under a measured vocab ceiling (r10
    # optimization, guide §1.2). The distributed loop is one shuffle +
    # one 1-row argmax collect + one persist PER ROUND — 5 sequential
    # job barriers that dominate every BPE query's wall clock when the
    # training state is vocab-sized-tiny (profiled: the rounds are
    # ~0.15-0.2 s of scheduling each over a 31-row cached state). Under
    # the ceiling the whole distinct-word distribution is collected
    # ONCE (bounded driver state — the kmeans/PQ/top-pc pattern, here
    # vocab-bounded) and the rounds run in plain Python: identical
    # argmax tie-break (max count, then lexicographic l, r — Python str
    # comparison and Spark's UTF8 binary order agree on valid UTF-8)
    # and the same greedy left-to-right fold. The FINAL word relation
    # stays distributed: the learned merges are re-applied to the
    # persisted words as one chained fold projection, so downstream
    # aggregates (encode/pack/fertility) read cluster-side data. Above
    # the ceiling (a real corpus vocabulary) the distributed loop runs
    # unchanged. Decision site ``bpe_driver``; parity pytest-pinned.
    d = note(
        "bpe_driver",
        {
            "n_vocab": n_vocab,
            "driver_vocab_max": BPE_DRIVER_VOCAB_MAX,
            "driver_loop": n_vocab <= BPE_DRIVER_VOCAB_MAX,
        },
    )
    merges: list[tuple[int, str, str, int]] = []
    if d["driver_loop"]:
        state = [
            (list(r["syms"]), int(r["cnt"])) for r in words.select("syms", "cnt").collect()
        ]
        for k in range(1, BPE_MERGE_ROUNDS + 1):
            counts: dict[tuple[str, str], int] = {}
            for syms, cnt in state:
                for i in range(len(syms) - 1):
                    p = (syms[i], syms[i + 1])
                    counts[p] = counts.get(p, 0) + cnt
            if not counts:
                break  # corpus exhausted (no adjacent pairs remain)
            (l, r), c = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((k, l, r, int(c)))
            merged = l + r
            for syms, _cnt in state:
                out = []
                for s in syms:
                    if out and out[-1] == l and s == r:
                        out[-1] = merged
                    else:
                        out.append(s)
                syms[:] = out
        final = words
        for _k, l, r, _c in merges:
            final = final.withColumn("syms", _bpe_apply_merge(F.col("syms"), l, r))
        return merges, final
    for k in range(1, BPE_MERGE_ROUNDS + 1):
        pair_arr = F.when(
            F.size("syms") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("syms") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("syms"), i).alias("l"),
                    F.element_at(F.col("syms"), i + 1).alias("r"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
        best = (
            words.select(F.explode(pair_arr).alias("p"), "cnt")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), "l", "r")
            .limit(1)
            .collect()
        )
        if not best:
            break  # corpus exhausted (no adjacent pairs remain)
        row = best[0]
        merges.append((k, row["l"], row["r"], int(row["c"])))
        words = words.withColumn(
            "syms", _bpe_apply_merge(F.col("syms"), row["l"], row["r"])
        ).transform(tracked_persist)
    return merges, words


def _bpe_encode_oracle() -> str:
    """The training rounds of ``_bpe_oracle`` with an encoding summary
    as the final select (w0 carries the word string, so per-word char
    counts come for free)."""
    full = _bpe_oracle()
    head, _tail = full.rsplit("SELECT * FROM", 1)
    n = BPE_MERGE_ROUNDS
    return (
        head.rstrip().rstrip(",")
        + f""",
base AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n_words,
         CAST(sum(cnt * length(word)) AS BIGINT) AS n_chars
  FROM w0
), enc AS (
  SELECT CAST(sum(cnt * len(syms)) AS BIGINT) AS n_symbols
  FROM w{n}
), voc AS (
  SELECT count(DISTINCT s) AS n_vocab
  FROM (SELECT unnest(syms) AS s FROM w{n})
)
SELECT b.n_words, b.n_chars, e.n_symbols, CAST(v.n_vocab AS BIGINT) AS n_vocab,
       CAST(e.n_symbols AS DOUBLE) / b.n_chars AS symbols_per_char
FROM base b, enc e, voc v
"""
    )


@register(
    "bpe_encode_corpus",
    oracle=_bpe_encode_oracle(),
    description="Corpus encoding summary under the learned BPE merges — "
    "the 'resulting token counts' half of tokenizer training: total "
    "word instances, total characters, total symbols after the "
    f"{BPE_MERGE_ROUNDS} learned merges, surviving vocabulary size, and "
    "symbols-per-char (the compression the tokenizer buys). Reuses the "
    "shared training loop, then three one-row aggregates over the "
    "vocab-sized word relation; the ratio is an exact integer division "
    "in both engines. Oracle: the same unrolled training CTEs with an "
    "encoding-summary final select.",
    tags=("text", "tokenizer", "bpe", "pipeline"),
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    _merges, words = _bpe_train(spark, sf_dir)
    base = words.agg(
        F.sum("cnt").alias("n_words"),
        F.sum(F.col("cnt") * F.length("w")).alias("n_chars"),
    )
    enc = words.agg(F.sum(F.col("cnt") * F.size("syms")).alias("n_symbols"))
    voc = (
        words.select(F.explode("syms").alias("s"))
        .agg(F.count_distinct("s").alias("n_vocab"))
    )
    return (
        base.crossJoin(enc)
        .crossJoin(voc)
        .select(
            "n_words",
            "n_chars",
            "n_symbols",
            "n_vocab",
            (F.col("n_symbols").cast("double") / F.col("n_chars")).alias(
                "symbols_per_char"
            ),
        )
    )


# ------------------------------------------------------------------
# tokenizer → packing loop closure (VERDICT r6 task 2): the two
# operators above learn merges and summarize the corpus-level result;
# a packing pipeline consumes PER-DOCUMENT encoded sequences. These
# close the last missing stage of the pretraining funnel: encode every
# document under the learned merges, then pack the real BPE token
# counts into fixed training sequences (instead of whitespace counts).
#
# Scale design: encoding is a broadcast join of the corpus token
# stream against the VOCAB-SIZED trained word relation (distinct
# eligible words with their post-merge symbol arrays) — the corpus is
# scanned once, text never shuffles, and the only exchange is the
# per-doc aggregate of (doc_id, pos, enc) slim rows. At 100 TB the
# distinct-word relation is still vocab-scale (zipf-truncated, orders
# of magnitude under the corpus); if it ever outgrew the broadcast
# budget the join degrades to a hash shuffle on the 8-byte-ish word
# key, not on text. Packing reuses the distributed prefix-sum
# (pipeline_prep.pack_prefix_sum) — no single-partition window.
# ------------------------------------------------------------------


def _bpe_training_ctes() -> str:
    """The unrolled training rounds of ``_bpe_oracle`` as a reusable
    ``WITH`` prefix ending at the final word relation w{N} (shared by
    the encoding-summary, per-document encoding, and BPE packing
    oracles)."""
    head, _tail = _bpe_oracle().rsplit("SELECT * FROM", 1)
    return head.rstrip().rstrip(",")


def _bpe_doc_ctes() -> str:
    """Doc-side encoding CTEs appended to the training prefix:
    ``ids`` (every non-NULL doc_id) and ``de`` (per-doc encoded
    aggregates). The tie-break on the encoded string in the ORDER BY
    is deterministic across engines because eligible words are
    lowercase-ASCII (binary == lexicographic collation there)."""
    n = BPE_MERGE_ROUNDS
    return f""",
d AS (
  -- per-document emission is keyed by doc_id: the NULL-id orphan row
  -- has no identity to emit under and is excluded identically in both
  -- engines (same contract as pack_training_sequences)
  SELECT doc_id, {_sql_tokens('lower(text)')} AS toks
  FROM documents WHERE doc_id IS NOT NULL
),
dt AS (
  SELECT doc_id, i AS pos, toks[i] AS tok
  FROM d, unnest(generate_series(1, len(toks))) AS u(i)
  WHERE regexp_matches(toks[i], '{_BPE_WORD_RE}')
),
de AS (
  SELECT dt.doc_id,
         count(*) AS n_words,
         CAST(sum(len(w.syms)) AS BIGINT) AS n_bpe_tokens,
         md5(string_agg(array_to_string(w.syms, ' '), ' '
             ORDER BY dt.pos, array_to_string(w.syms, ' '))) AS sequence_md5
  FROM dt JOIN w{n} w ON dt.tok = w.word
  GROUP BY dt.doc_id
),
ids AS (SELECT DISTINCT doc_id FROM d)
"""


def _bpe_doc_encoded(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared doc-side encoding: returns (ids, per_doc) where ``ids``
    is every non-NULL doc_id and ``per_doc`` carries (doc_id, n_words,
    n_bpe_tokens, sequence_md5) for docs with ≥1 training-eligible
    word. Docs full of ineligible tokens (unicode, empty, NULL text)
    surface via the caller's LEFT join with zero counts."""
    _merges, words = _bpe_train(spark, sf_dir)
    vocab = words.select(
        F.col("w").alias("tok"),
        F.concat_ws(" ", "syms").alias("enc"),
        F.size("syms").alias("n_syms"),
    )
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    toks = docs.select(
        "doc_id",
        F.posexplode(_tokens(F.lower(F.col("text")))).alias("pos", "tok"),
    ).filter(F.col("tok").rlike(_BPE_WORD_RE))
    per_doc = (
        toks.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").cast("bigint").alias("n_bpe_tokens"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        # sort key (pos, enc): pos collisions only arise
                        # from duplicate doc_ids; the enc tie-break makes
                        # the concatenation order engine-identical
                        F.sort_array(F.collect_list(F.struct("pos", "enc"))),
                        lambda x: x["enc"],
                    ),
                )
            ).alias("sequence_md5"),
        )
    )
    return docs.select("doc_id").distinct(), per_doc


@register(
    "bpe_encode_documents",
    oracle=_bpe_training_ctes()
    + _bpe_doc_ctes()
    + """
SELECT ids.doc_id,
       coalesce(de.n_words, 0) AS n_words,
       coalesce(de.n_bpe_tokens, 0) AS n_bpe_tokens,
       coalesce(de.sequence_md5, md5('')) AS sequence_md5
FROM ids LEFT JOIN de USING (doc_id)
ORDER BY doc_id
""",
    description="Per-document BPE encoding under the learned merges — "
    "the sequences a packing pipeline consumes: eligible word count, "
    "encoded token count, and an md5 certificate of the full encoded "
    "symbol sequence in document token order. One corpus scan "
    "broadcast-joined against the vocab-sized trained word relation; "
    "text never shuffles. Oracle: the unrolled training CTEs plus a "
    "positional re-encoding join.",
    tags=("text", "tokenizer", "bpe", "pipeline"),
)
def bpe_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids, per_doc = _bpe_doc_encoded(spark, sf_dir)
    return (
        ids.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("bigint").alias("n_words"),
            F.coalesce("n_bpe_tokens", F.lit(0))
            .cast("bigint")
            .alias("n_bpe_tokens"),
            F.coalesce("sequence_md5", F.md5(F.lit(""))).alias("sequence_md5"),
        )
        .orderBy("doc_id")
    )


def _pack_bpe_oracle() -> str:
    from .pipeline_prep import pack_oracle_tail

    return (
        _bpe_training_ctes()
        + _bpe_doc_ctes()
        + """, t AS (
  SELECT ids.doc_id, coalesce(de.n_bpe_tokens, 0) AS n_tokens
  FROM ids LEFT JOIN de USING (doc_id)
)"""
        + pack_oracle_tail()
    )


@register(
    "pack_bpe_sequences",
    oracle=_pack_bpe_oracle(),
    description="Pack documents (in doc_id order) into fixed "
    "2048-token training sequences where tokens are the REAL encoded "
    "BPE token counts from the learned tokenizer (not whitespace "
    "counts) — the tokenize→encode→pack stage a pretraining pipeline "
    "actually runs. Duplicate doc_ids collapse to one grouped count "
    "(deterministic, unlike per-row packing of ambiguous id order). "
    "Reuses the distributed prefix-sum packer; no single-partition "
    "window. Oracle: training + encoding CTEs feeding the shared "
    "cumsum packing tail.",
    tags=("pipeline", "packing", "tokenizer", "bpe"),
)
def pack_bpe_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline_prep import pack_prefix_sum

    ids, per_doc = _bpe_doc_encoded(spark, sf_dir)
    toks = ids.join(
        per_doc.select("doc_id", "n_bpe_tokens"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("n_bpe_tokens", F.lit(0)).alias("n_tokens")
    )
    return pack_prefix_sum(toks)


@register(
    "tokenizer_fertility_report",
    oracle=_bpe_training_ctes()
    + _bpe_doc_ctes()
    + """,
src AS (
  SELECT DISTINCT doc_id, source FROM documents WHERE doc_id IS NOT NULL
)
SELECT s.source,
       count(*) AS n_docs,
       CAST(sum(coalesce(de.n_words, 0)) AS BIGINT) AS n_words,
       CAST(sum(coalesce(de.n_bpe_tokens, 0)) AS BIGINT) AS n_bpe_tokens,
       CAST(round(CAST(
         CAST(sum(coalesce(de.n_bpe_tokens, 0)) AS DOUBLE)
           / nullif(sum(coalesce(de.n_words, 0)), 0)
         AS DECIMAL(30,12)), 6) AS DOUBLE) AS fertility
FROM src s LEFT JOIN de USING (doc_id)
GROUP BY s.source
ORDER BY s.source
""",
    description="Tokenizer fertility per source under the learned BPE "
    "merges: eligible-word and encoded-token totals plus fertility = "
    "tokens/word — the number every tokenizer evaluation reports "
    "(high-fertility sources burn context budget; the signal behind "
    "'train a bigger vocab' or 'drop this source' calls). Composes "
    "the shared per-document encoding (one corpus scan broadcast-"
    "joined against the vocab-sized trained relation) with a "
    "source-level rollup; docs with zero eligible words still count "
    "toward n_docs, and an all-ineligible source reports NULL "
    "fertility identically in both engines. NULL-id docs are excluded "
    "(no identity), NULL source is its own group.",
    tags=("text", "tokenizer", "bpe", "report", "pipeline"),
)
def tokenizer_fertility_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ids, per_doc = _bpe_doc_encoded(spark, sf_dir)
    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", "source")
        .distinct()
    )
    sum_w = F.sum(F.coalesce("n_words", F.lit(0)))
    sum_t = F.sum(F.coalesce("n_bpe_tokens", F.lit(0)))
    return (
        base.join(per_doc.select("doc_id", "n_words", "n_bpe_tokens"), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            sum_w.cast("bigint").alias("n_words"),
            sum_t.cast("bigint").alias("n_bpe_tokens"),
            F.round(
                F.try_divide(
                    sum_t.cast("double"),
                    F.when(sum_w == 0, F.lit(None)).otherwise(sum_w),
                ).cast("decimal(30,12)"),
                6,
            )
            .cast("double")
            .alias("fertility"),
        )
        .orderBy("source")
    )
