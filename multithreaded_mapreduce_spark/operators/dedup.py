"""Deduplication operators for a training-data pipeline, at five levels
of fuzziness (SURVEY.md §2.3 extension surface):

* exact          — hash-groupBy on content digest (oracle: md5 group)
* token Jaccard  — set-similarity pairs via exploded token equi-join
                   (oracle-able; this is the correctness bearer)
* MinHash + LSH  — banded signature blocking, the scale path for the
                   Jaccard semantics (engine-hash dependent → rows-only)
* SimHash        — 64-bit fingerprint + banded Hamming blocking
                   (rows-only)
* embedding cos  — near-dup by exact-sum cosine within a label block
                   (oracle-able)

Scale design: every pairwise step is *blocked* — token join, LSH band
buckets, SimHash chunks, label partitions — so no O(n²) cross join ever
materializes. At 100 TB the candidate sets stay proportional to true
near-dup density, and every join key is a fixed-width hash, never the
document text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import cosine_exact
from ..plans.caching import (
    guard_checkpoint_result,
    memoized_result_checkpoint,
    peek_result_memo,
    tracked_local_checkpoint,
    tracked_persist,
)
from ..plans.decisions import decide, note
from ..plans.registry import register
from ..sources.tables import load_table, spread, table_stamp

JACCARD_THRESHOLD = 0.8
#: shingle width shared by the ngram-jaccard family and the novelty
#: scorer (defined up here: both sections' oracles interpolate it)
NGRAM_N = 3
COSINE_THRESHOLD = 0.4  # synthetic embeddings are near-orthogonal; max ≈ 0.47


def _oracle_hex_id(col: str, digits: int) -> str:
    """DuckDB expression for the md5-prefix id: parse the hex prefix
    with a fixed 16-way strpos fold (hex digits are ASCII — no unicode
    risk)."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split(substr(md5({col}), 1, {digits}), ''), "
        "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))), "
        "(a, b) -> a * 16 + b)"
    )


def _spark_hex_id(col: str, digits: int):
    """Spark twin of :func:`_oracle_hex_id` — plain row math in the
    scan projection (conv(hex, 16, 10)); no vocabulary relation, no
    global window, no join back."""
    return F.conv(F.substring(F.md5(col), 1, digits), 16, 10).cast("long")

# ------------------------------------------------------------------
# exact dedup
# ------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
SELECT min(doc_id) AS keep_doc_id,
       count(*) AS n_copies,
       md5(text) AS content_hash
FROM documents
GROUP BY md5(text)
ORDER BY keep_doc_id
""",
    description="Exact dedup by content digest: group on md5(text), keep "
    "the smallest doc_id. Hashing first means the shuffle carries 32-byte "
    "digests, not document bodies — the difference between feasible and "
    "not at 100 TB.",
    tags=("dedup", "exact"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.col("doc_id"), F.md5("text").alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_doc_id", "n_copies", "content_hash")
        .orderBy("keep_doc_id")
    )


# ------------------------------------------------------------------
# token-set Jaccard near-dup (the oracle-able correctness bearer)
# ------------------------------------------------------------------


def _doc_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, source, token) with distinct tokens per doc."""
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.array_distinct(F.split("text", r"\s+"))).alias("token"),
    ).filter(F.length("token") > 0)


def _jaccard_pairs_oracle(doc_rel: str = "documents") -> str:
    """Exact pair-relation oracle over ``doc_rel`` — ``documents`` for
    the registered query, ``sampled_documents`` when composed under the
    eval-sample CTEs by the recall report."""
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(text, '\\s+'))) AS token
  FROM {doc_rel}
), toks_clean AS (
  SELECT * FROM toks WHERE length(token) > 0
), sizes AS (
  SELECT doc_id, count(*) AS n FROM toks_clean GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM toks_clean a
  JOIN toks_clean b
    ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT s.doc_a, s.doc_b,
       CAST(s.c AS DOUBLE) / (sa.n + sb.n - s.c) AS jaccard
FROM shared s
JOIN sizes sa ON s.doc_a = sa.doc_id
JOIN sizes sb ON s.doc_b = sb.doc_id
WHERE CAST(s.c AS DOUBLE) / (sa.n + sb.n - s.c) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


JACCARD_ORACLE = _jaccard_pairs_oracle()


def _group_relation(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """The collapsed distinct-token-set relation (gid = min member
    doc_id, member list, hashed token array, set size) — the CHEAP half
    of the jaccard graph (scan + one groupBy), shared by both jaccard
    arms, dedup_prefix_filter, dedup_containment, the memo-seeded CC
    path and dedup_minhash_lsh (whose signatures, bands and verify read
    ``toks_h``). Documents without a token (empty, whitespace-only or
    NULL text) form no group, so no consumer pairs them."""
    # the no-token filter runs against the RAW text (any non-whitespace
    # char ⟺ non-empty token set): a predicate over the computed token
    # array would be pushed into the FileScan and re-run the whole
    # split/distinct/sort chain inside the single-task scan, while
    # rlike('\\S') is a cheap early prune there
    if docs is None:
        docs = load_table(spark, sf_dir, "documents")
    docs = spread(
        docs.select("doc_id", "text").filter(F.col("text").rlike(r"\S"))
    )
    tokset = docs.select(
        "doc_id",
        F.array_sort(
            F.array_distinct(F.filter(F.split("text", r"\s+"), lambda t: F.length(t) > 0))
        ).alias("toks"),
    )
    # the pairwise verify compares HASHED token arrays (8-byte longs):
    # intersecting string arrays re-hashes every variable-length token
    # per candidate pair, while the long arrays hash once here (same
    # counts absent 64-bit collisions — odds ~|vocab|²/2⁶⁴, nil)
    return (
        tokset.groupBy("toks")
        .agg(F.min("doc_id").alias("gid"), F.collect_list("doc_id").alias("members"))
        .select(
            "gid",
            "members",
            F.transform("toks", lambda t: F.xxhash64(t)).alias("toks_h"),
            F.size("toks").alias("n"),
        )
        .transform(tracked_persist)
    )


def _rarity_prefixes(groups: DataFrame, plen):
    """PPJoin's prefix filter over the collapsed groups, shared by the
    jaccard prefix arm and dedup_containment: returns ``(tok, freq,
    prefixes)`` — the persisted (gid, n, token) postings, each token's
    group frequency, and the (gid, n, token, pos) rows of each set's
    first ``plen`` tokens in global rarity order (freq asc, token-hash
    asc: arbitrary but consistent across sets). ``plen`` is a column
    over ``n`` short enough that any pair reaching the site's threshold
    provably shares a prefix token, so the candidate join touches the
    rare tail of the posting lists instead of the full token×token
    blowup."""
    from pyspark.sql import Window as W

    tok = groups.select("gid", "n", F.explode("toks_h").alias("token")).transform(
        tracked_persist
    )
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    pos = F.row_number().over(W.partitionBy("gid").orderBy("freq", "token"))
    prefixes = (
        tok.join(F.broadcast(freq), "token")
        .select("gid", "n", "token", pos.alias("pos"), plen.alias("plen"))
        .filter(F.col("pos") <= F.col("plen"))
        .select("gid", "n", "token", "pos")
    )
    return tok, freq, prefixes


# ------------------------------------------------------------------
# Set-compare encoding: ONE bitmap helper behind the five verify sites:
# the group cross of both jaccard arms (_jaccard_cross), containment and
# the LSH verify, all three over _group_relation's hashed token arrays,
# plus the minhash and incremental banding verifies, which share one
# builder (_minhash_bands) and one verify tail (_banded_verified_pairs)
# over per-doc cross-engine token ids. Every site
# reduces to |A∩B| over two distinct-token-id sets; Spark's
# array_intersect builds a hash set per ROW PAIR (profiled ~93
# executor-seconds on the pairwise group compare at sf0.1), while a
# fixed-width bitmap turns each pair into W AND/OR+popcounts.
#
# One memoized decision per (corpus, site) runs ONE action — the
# distinct ids, limited to SETMASK_MAX_VOCAB + 1 — and picks a branch:
#
# * exact (0 < n <= SETMASK_MAX_VOCAB): bit position = the id's dense
#   rank in the collected vocabulary, looked up in one array literal, so
#   each set packs into ceil(n/64) longs and c = popcount(a & b) is
#   bit-identical to the array intersect. A pure projection — no extra
#   join/window/aggregate stage enters any consumer plan. An id outside
#   the collected vocabulary raises (never a silently missing bit).
# * hashed (n above the cap, any real corpus vocabulary, or forced
#   with encoding={"exact": False}): the exact array_intersect stays the
#   verify. At the |G|²-candidate sites (nested cross, containment,
#   LSH) each side also carries a lossy BITMAP_WORDS-long bitmap (bit =
#   pmod(id, 64·W), collisions allowed). popcount(bm_a | bm_b) <=
#   |A ∪ B| — every set bit needs at least one distinct member, and
#   each member sets exactly one bit — so
#
#       ub = na + nb − popcount(bm_a | bm_b)  >=  |A ∩ B|
#
#   is an upper bound no matter how ids collide, and _bitmap_guard
#   skips the intersect of every pair whose ub cannot reach the
#   threshold (dedup_components 173 → 27.6 s at the 10× corpus). The
#   banding-survivor sites (minhash and incremental verify) see
#   candidates that are mostly true near-dups, where the bitmap build
#   measured net-negative, so they run the plain intersect.
# ------------------------------------------------------------------

#: longs per bitmap in the hashed branch; the exact branch's cap is the
#: same 1024 bit positions
BITMAP_WORDS = 16
SETMASK_MAX_VOCAB = 64 * BITMAP_WORDS


def _encoding_decision(sf_dir: str, ids: DataFrame, site: str) -> dict:
    """Measured per-(corpus, site) branch choice (decision site
    ``encoding``): collect at most SETMASK_MAX_VOCAB + 1 distinct ids
    of ``ids`` in one action; at or under the cap the sorted ids are
    the exact branch's vocabulary. ``n_vocab`` of SETMASK_MAX_VOCAB + 1
    means "over the cap". Both branches yield identical values
    (pytest-asserted), so the memoized choice only affects the physical
    plan. A site that builds over a sample carries the sample modulus
    in ``site`` (ADVICE r10): two samples never share a vocabulary."""

    def measure() -> dict:
        vocab = sorted(
            r["id"] for r in ids.distinct().limit(SETMASK_MAX_VOCAB + 1).collect()
        )
        exact = 0 < len(vocab) <= SETMASK_MAX_VOCAB
        return {
            "site": site,
            "n_vocab": len(vocab),
            "exact": exact,
            "n_words": (len(vocab) + 63) // 64 if exact else BITMAP_WORDS,
            "vocab": vocab if exact else None,
        }

    return decide("encoding", (table_stamp(sf_dir, "documents"), site), measure)


def _bitmap_cols(arr_col: str, prefix: str, n_words: int = BITMAP_WORDS, bit=None) -> list:
    """Bitmap word columns {prefix}0..{prefix}{W-1} over a long-array
    column: element t sets bit ``bit(t)`` (default pmod(t, 64·W), the
    hashed branch; the exact branch passes dense positions through),
    one aggregate fold per word — O(W·|set|) per ROW, once, vs per
    candidate pair downstream."""
    if bit is None:
        def bit(t):
            return F.pmod(t, F.lit(64 * n_words))

    def _step_for(w: int):
        # the fold lambda must take EXACTLY (acc, t): PySpark reads the
        # callable's arity to build the higher-order function
        def step(acc, t):
            b = bit(t)
            return acc.bitwiseOR(
                F.when(
                    (b >= F.lit(w * 64)) & (b < F.lit((w + 1) * 64)),
                    # pmod(t, 64) == pmod(bit(t), 64): 64 | 64·W, and a
                    # dense position is its own bit
                    F.call_function(
                        "shiftleft",
                        F.lit(1).cast("long"),
                        F.pmod(t, F.lit(64)).cast("int"),
                    ),
                ).otherwise(F.lit(0).cast("long"))
            )

        return step

    return [
        F.aggregate(F.col(arr_col), F.lit(0).cast("long"), _step_for(w)).alias(
            f"{prefix}{w}"
        )
        for w in range(n_words)
    ]


def _popcount_sum(n_words: int, a_prefix: str, b_prefix: str, op: str):
    """Σ_w popcount(a_w ``op`` b_w) over the two sides' bitmap words."""
    from functools import reduce
    from operator import add

    return reduce(
        add,
        [
            F.bit_count(getattr(F.col(f"{a_prefix}{w}"), op)(F.col(f"{b_prefix}{w}")))
            for w in range(n_words)
        ],
    )


def _bitmap_intersect_ub(a_prefix: str, b_prefix: str):
    """na + nb − popcount(bm_a | bm_b) — exact upper bound on |A∩B|."""
    return F.col("na") + F.col("nb") - _popcount_sum(BITMAP_WORDS, a_prefix, b_prefix, "bitwiseOR")


def _bitmap_keep_jaccard(ub, threshold: float):
    """Keep condition for jaccard >= t: a true pair has
    c >= t·(na+nb)/(1+t), and ub >= c, so (ub+1)·(1+t) >= t·(na+nb)
    (the +1 is double-rounding slack; the exact filter still decides)."""
    return (ub + F.lit(1)).cast("double") * F.lit(1.0 + threshold) >= F.lit(
        threshold
    ) * (F.col("na") + F.col("nb"))


def _bitmap_keep_containment(ub, threshold: float):
    """Keep condition for containment c/na >= t: (ub+1) >= t·na."""
    return (ub + F.lit(1)).cast("double") >= F.lit(threshold) * F.col("na")


def _ratio_ge_int(c_col: str, denom, threshold: float):
    """Integer-exact form of ``cast(c as double) / denom >= threshold``
    that references ``c`` ONCE: with threshold = p/q (exact decimal),
    ``q·c >= p·denom``.

    Why (r11, guide §1.2 per-pair work): Catalyst pushes the
    ratio-threshold filter into the verify join's condition, and a
    filter that references the intersect twice (numerator and inside
    the denominator) gets the whole intersect expression DUPLICATED
    there — every candidate paid array_intersect (or the mask/bitmap
    fold) twice (visible in plans/r11/*_before.txt join conditions).
    The single-reference integer form halves that.

    Equivalence with the double compare is exact, not approximate: c
    and the denominator are integers, so the rational c/denom either
    equals p/q — where IEEE division yields the correctly-rounded
    double of p/q, which is bit-identical to the literal double
    threshold, and both forms pass — or differs from p/q by at least
    1/(q·denom), which dwarfs the 2⁻⁵³ relative division error for any
    denom below ~2⁵⁰, so both forms agree on every realistic set size.
    The oracle keeps the double form; the survivor multiset is
    identical (re-verified against DuckDB at sf0.01/sf0.1)."""
    from fractions import Fraction

    fr = Fraction(str(threshold))
    return F.col(c_col) * F.lit(fr.denominator) >= denom * F.lit(fr.numerator)


def _jaccard_ge_int(threshold: float, c="c", na: str = "na", nb: str = "nb"):
    """c·(p+q) >= p·(na+nb) ⟺ q·c >= p·(na+nb−c) ⟺ jaccard >= p/q —
    the rearranged form references c exactly ONCE (the union-size form
    would smuggle a second reference back in); see _ratio_ge_int. ``c``
    is a column name or an integer overlap expression (the prefix arm's
    positional bound)."""
    from fractions import Fraction

    fr = Fraction(str(threshold))
    p, q = fr.numerator, fr.denominator
    c = F.col(c) if isinstance(c, str) else c
    return c * F.lit(p + q) >= (F.col(na) + F.col(nb)) * F.lit(p)


def _bitmap_guard(keep_cond, exact_intersect):
    """CASE-guard the exact per-pair intersect by the lossy-bitmap keep
    condition: ``CASE WHEN keep THEN size(array_intersect(..)) ELSE -1``.

    Why a CASE instead of a separate ``.filter(keep)``: Catalyst pushes
    the downstream ratio-threshold filter (which references the
    intersect through the projection) all the way into the verify
    JOIN's condition — and PushPredicateThroughJoin prepends it, so the
    pushed exact filter evaluated BEFORE the prune conjunct and every
    candidate pair still paid the array_intersect (measured at the 10×
    corpus on the hashed branch: dedup_components' pairwise stage only
    5084 → 4304 exec-s). SQL CASE semantics guarantee the THEN branch
    is only evaluated when the guard holds, no matter where the
    optimizer moves the enclosing expression. The −1 sentinel yields a
    negative jaccard/containment, which the unchanged exact threshold
    filter (t > 0) drops — exactly the pairs the upper bound proves
    sub-threshold — so the survivor set is bit-identical."""
    return F.when(keep_cond, exact_intersect).otherwise(F.lit(-1))


def _set_compare(sf_dir: str, rel: DataFrame, arr: str, site: str, cols: dict, keep=None):
    """The two verify-join sides over ``rel`` and the intersection-size
    expression ``c`` between them, under the site's measured encoding.

    ``cols`` maps each source column to its side alias with ``{}`` for
    the side letter (key first, e.g. ``{"gid": "g{}", "n": "n{}"}``).
    ``keep`` maps the hashed branch's union bound to the condition that
    guards the exact intersect; None (the banding-survivor sites) runs
    the plain intersect."""
    d = _encoding_decision(sf_dir, rel.select(F.explode(arr).alias("id")), site)

    def side(s: str) -> list:
        return [F.col(src).alias(fmt.format(s)) for src, fmt in cols.items()]

    if d["exact"]:
        nw = d["n_words"]
        vocab = F.lit(d["vocab"]).cast("array<bigint>")

        # positions once per row (array_position is 1-based, 0 = absent),
        # then one fold per word over them
        ranked = rel.withColumn(
            "_pos", F.transform(arr, lambda t: F.array_position(vocab, t) - 1)
        ).withColumn(
            "_pos",
            F.when(
                F.exists("_pos", lambda p: p < 0),
                F.raise_error(
                    F.lit(
                        f"set-compare site {site}: a token id is outside the "
                        "vocabulary collected for this corpus"
                    )
                ),
            ).otherwise(F.col("_pos")),
        )

        def bitmap(s: str) -> list:
            return _bitmap_cols("_pos", f"_p{s}", nw, bit=lambda t: t)

        c = _popcount_sum(nw, "_pa", "_pb", "bitwiseAND").cast("int")
        return ranked.select(*side("a"), *bitmap("a")), ranked.select(*side("b"), *bitmap("b")), c

    def hashed(s: str):
        key, *rest = side(s)
        bits = _bitmap_cols(arr, f"_p{s}") if keep is not None else []
        return rel.select(key, F.col(arr).alias(f"t{s}"), *rest, *bits)

    c = F.size(F.array_intersect("ta", "tb"))
    if keep is not None:
        c = _bitmap_guard(keep(_bitmap_intersect_ub("_pa", "_pb")), c)
    return hashed("a"), hashed("b"), c


def _jaccard_group_cross(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame | None = None,
    decision_tag: str = "",
):
    """Collapsed-group jaccard graph shared by dedup_jaccard_pairs and
    dedup_components: returns ``(groups, cross)`` where ``groups`` is
    the distinct-token-set relation (gid = min member doc_id) and
    ``cross`` carries (ga, gb, m_a, m_b, jaccard) for distinct group
    pairs at or over the threshold. Under the byte budget the groups
    compare pairwise over a broadcast; above it through the prefix
    filter (see _jaccard_cross).

    ``docs`` (optional) restricts the graph to a pre-filtered document
    relation (the md5-uniform eval sample); ``decision_tag`` keys the
    pairwise-vs-prefix path memo separately for such variants."""
    groups = _group_relation(spark, sf_dir, docs)
    pairwise = _jaccard_path_decision(groups, sf_dir, tag=decision_tag)["use_broadcast"]
    return groups, _jaccard_cross(sf_dir, groups, decision_tag, pairwise)


def _size_ratio_prune(na, nb):
    """Size-ratio prune: |A∩B| <= min(na,nb), so jaccard can only reach
    the threshold when the smaller set is >= t × the larger. Removes
    only sub-threshold pairs, so every verified output is unchanged."""
    return (na <= F.floor(nb / JACCARD_THRESHOLD)) & (nb <= F.floor(na / JACCARD_THRESHOLD))


def _jaccard_cross(sf_dir: str, groups: DataFrame, tag: str, pairwise: bool) -> DataFrame:
    """(ga, gb, m_a, m_b, jaccard) for the group pairs of ``groups`` at
    or over the threshold, from one of two candidate generators feeding
    one verify under the measured set-compare encoding (``tag`` keys
    that encoding per variant).

    The oracle's shape (exploded token equi-join) materializes
    Σ_token freq² rows — ~400M at sf0.1 on its 31-token vocabulary.
    Both arms instead compare collapsed distinct-token sets under a
    size-ratio prune (jaccard >= t needs min(na,nb)/max >= t) and then
    expand members. All counts are integers, so the jaccard doubles are
    bit-identical to the oracle's c/(na+nb-c)."""
    ratio_prune = _size_ratio_prune(F.col("na"), F.col("nb"))
    # Exact branch: W AND+popcounts per pair (profiled 93 → ~8 exec-s
    # on the components edge stage at sf0.1). Hashed branch: the
    # intersect is CASE-guarded by the cheap conjuncts — gid order,
    # size-ratio prune, union bound — so a sub-threshold pair never
    # evaluates array_intersect, even after Catalyst pushes the
    # threshold filter into the join condition (see _bitmap_guard)
    a, b, c = _set_compare(
        sf_dir, groups, "toks_h", f"jaccard_groups{tag}",
        {"gid": "g{}", "members": "m_{}", "n": "n{}"},
        keep=lambda ub: (F.col("ga") < F.col("gb"))
        & ratio_prune
        & _bitmap_keep_jaccard(ub, JACCARD_THRESHOLD),
    )
    if pairwise:
        # broadcast the collapsed-group relation (byte-guarded by the
        # caller — a measured bytes estimate, not a row count) and
        # compare every gid-ordered pair under the size-ratio prune
        cand = F.broadcast(a).join(b, (F.col("ga") < F.col("gb")) & ratio_prune)
    else:
        # PPJoin prefix filter (Xiao et al., WWW'08): a pair with
        # J >= t shares >= t/(1+t)·(na+nb) tokens, so its first shared
        # token lies in each side's first n−⌈t·n⌉+1 rarest. Candidates
        # equi-join the prefixes under the size-ratio prune and PPJoin's
        # positional prune: the first shared token at (pos_a, pos_b)
        # caps the overlap at 1 + min(na−pos_a, nb−pos_b), which must
        # reach that bound — a JOIN residual, so the failing witnesses
        # never shuffle. The bound is compared in _jaccard_ge_int's
        # integer form: as a double, t/(1+t)·(na+nb) rounds up past the
        # integer at na+nb = 63, 117, … and would prune pairs at exactly
        # J = t. Only slim (gid, n, token, pos) rows move before the
        # verify, whose joins stay plain shuffles: this arm is the
        # memory guard past the broadcast budget.
        _, _, prefixes = _rarity_prefixes(
            groups,
            (F.col("n") - F.ceil(F.col("n") * F.lit(JACCARD_THRESHOLD)) + 1).cast("int"),
        )
        pa = prefixes.select(
            F.col("gid").alias("ga"), F.col("n").alias("na"),
            "token", F.col("pos").alias("pos_a"),
        )
        pb = prefixes.select(
            F.col("gid").alias("gb"), F.col("n").alias("nb"),
            "token", F.col("pos").alias("pos_b"),
        )
        ubound = 1 + F.least(F.col("na") - F.col("pos_a"), F.col("nb") - F.col("pos_b"))
        cand = (
            pa.join(
                pb,
                (pa["token"] == pb["token"])
                & (F.col("ga") < F.col("gb"))
                & ratio_prune
                & _jaccard_ge_int(JACCARD_THRESHOLD, c=ubound),
            )
            .select("ga", "gb")
            .distinct()
            .join(a, "ga")
            .join(b, "gb")
        )
    return (
        cand.select("ga", "gb", "m_a", "m_b", "na", "nb", c.alias("c"))
        # threshold filter in the single-c integer form BEFORE the
        # ratio projection: the pushed-down join-condition copy then
        # evaluates the intersect once per pair, not twice
        # (_ratio_ge_int; survivors re-evaluate c for the output)
        .filter(_jaccard_ge_int(JACCARD_THRESHOLD))
        .select(
            "ga",
            "gb",
            "m_a",
            "m_b",
            (F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))).alias(
                "jaccard"
            ),
        )
    )


@register(
    "dedup_jaccard_pairs",
    oracle=JACCARD_ORACLE,
    description="Near-dup pairs by distinct-token Jaccard >= 0.8. Exact "
    "and global — the ground truth the MinHash/SimHash scale paths "
    "approximate: docs collapse to unique token sets, set pairs compare "
    "via array_intersect under a size-ratio prune, members expand back. "
    "Bit-identical to the oracle's token equi-join at ~10× less work on "
    "this low-vocabulary corpus; at 100 TB the LSH variant is the "
    "production path and this one the auditor.",
    tags=("dedup", "neardup", "jaccard"),
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    groups, cross = _jaccard_group_cross(spark, sf_dir)
    return _pairs_from_group_cross(groups, cross)


def _pairs_from_group_cross(groups: DataFrame, cross: DataFrame) -> DataFrame:
    """Expand the collapsed-group jaccard graph back to document pairs:
    cross-group members at their measured jaccard plus within-group
    pairs at 1.0 (identical distinct-token sets)."""
    pairs = (
        cross.select(F.explode("m_a").alias("da"), "m_b", "jaccard")
        .select("da", F.explode("m_b").alias("db"), "jaccard")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "jaccard",
        )
    )
    within = (
        groups.filter(F.size("members") >= 2)
        .select(F.explode("members").alias("da"), "members")
        .select("da", F.explode("members").alias("db"))
        .filter(F.col("da") < F.col("db"))
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    # no global output sort (driver compare is order-insensitive and
    # this is the query's largest relation — same policy as the other
    # pair producers since r4)
    return pairs.unionByName(within)


# ------------------------------------------------------------------
# md5-uniform document sample for the ground-truth-bound eval queries
# (VERDICT r7 task 1). The exact jaccard pair relation is by
# construction quadratic in near-dup density — fine as the auditor at
# sf scale, unpayable at 100 TB. SCALE.md prescribes running the
# calibration/eval reports (dedup_threshold_sweep, lsh_recall_report,
# kfold_leakage_report) on a document SAMPLE; this section implements
# that knob, mirrored verbatim in both engines:
#
#   k = max(1, ceil(n_docs / EVAL_SAMPLE_TARGET_DOCS))   (integer math)
#   keep doc  ⟺  k == 1  OR  md5_prefix('evalsample:'||doc_id) % k == 0
#
# so the ground-truth side is capped at ~EVAL_SAMPLE_TARGET_DOCS
# documents no matter the corpus size, and on small corpora (k == 1,
# every driver/test fixture) the predicate is the identity — the
# sampled queries are bit-identical to their full-relation r7 shapes.
# The modulus is a MEASURED probe (one count per corpus, memoized like
# the other decision sites) on the Spark side and an inline aggregate in
# the oracle CTE; both compute the same integer, so the sample sets
# agree document-for-document. NULL-id docs are dropped when sampling
# engages (no identity to hash) — they never form pairs anyway
# (doc_a < doc_b is NULL-false in both engines).
# ------------------------------------------------------------------

#: cap on ground-truth documents for the pair-relation-bound eval
#: queries. 2000 keeps ~2M candidate token-set pairs worst-case —
#: bounded eval cost at ANY corpus size — while pair/recall estimates
#: keep two-digit precision (the reports estimate rates, not inventory)
EVAL_SAMPLE_TARGET_DOCS = 2000
EVAL_SAMPLE_HEX_DIGITS = 8


def _eval_sample_decision(spark: SparkSession, sf_dir: str, target: int | None = None) -> dict:
    """Measured per-corpus sampling decision (decision site
    ``eval_sample``): one count of the documents table fixes the
    modulus ``k = ceil(n / target)`` by pure integer math — exactly the
    arithmetic the oracle CTE runs inline, so both engines draw the
    same sample. The oracle recomputes k from the CURRENT table on
    every run, so the table stamp in the key re-probes a fixture
    rewritten in-process (ADVICE r9)."""
    t = EVAL_SAMPLE_TARGET_DOCS if target is None else target

    def measure() -> dict:
        n = load_table(spark, sf_dir, "documents").count()
        k = max(1, (n + t - 1) // t)
        return {"n_docs": int(n), "target_docs": t, "modulus": int(k), "engaged": k > 1}

    return decide("eval_sample", (table_stamp(sf_dir, "documents"), t), measure)


def _eval_sampled_docs(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """The documents relation restricted to the deterministic
    md5-uniform 1-in-k sample (identity at k == 1)."""
    docs = load_table(spark, sf_dir, "documents")
    if k <= 1:
        return docs
    u = _spark_hex_id(
        F.concat(F.lit("evalsample:"), F.col("doc_id").cast("string")),
        EVAL_SAMPLE_HEX_DIGITS,
    )
    return docs.filter(F.pmod(u, F.lit(k)) == 0)


def _eval_sample_ctes(target: int | None = None) -> str:
    """Oracle CTE pair ``eval_k, sampled_documents`` mirroring
    :func:`_eval_sample_decision` + :func:`_eval_sampled_docs`:
    the modulus is the same integer-ceil aggregate, the predicate the
    same md5-prefix draw. Composable as the head of any WITH list."""
    t = EVAL_SAMPLE_TARGET_DOCS if target is None else target
    u = _oracle_hex_id(
        "'evalsample:' || CAST(d.doc_id AS VARCHAR)", EVAL_SAMPLE_HEX_DIGITS
    )
    return f"""eval_k AS (
  SELECT greatest(1, (count(*) + {t} - 1) // {t}) AS k FROM documents
), sampled_documents AS (
  SELECT d.* FROM documents d, eval_k
  WHERE eval_k.k = 1 OR ({u}) % eval_k.k = 0
)"""


def _pairs_memo_key(sf_dir: str, k: int) -> str:
    """Memo key of a pair relation over the 1-in-k eval sample of the
    corpus (k = 1: the full corpus) — seeds and peeks must agree on it."""
    return f"{table_stamp(sf_dir, 'documents')}|k={k}"


def _jaccard_pairs_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL exact pair relation, checkpoint-memoized per corpus
    (VERDICT r7 task 3): the sweep/eval consumers share one build in a
    pipeline-shaped session instead of each re-deriving it. Both
    jaccard paths return the same rows (pytest-asserted), so the key
    is the corpus alone."""
    def build() -> DataFrame:
        groups, cross = _jaccard_group_cross(spark, sf_dir)
        return _pairs_from_group_cross(groups, cross)

    return memoized_result_checkpoint("jaccard_pairs", _pairs_memo_key(sf_dir, 1), build)


def _eval_pairs(spark: SparkSession, sf_dir: str, target: int | None = None) -> DataFrame:
    """Exact jaccard>=0.8 pairs over the eval sample — the shared
    ground-truth side of dedup_threshold_sweep, kfold_leakage_report
    and lsh_recall_report. Identity (the full memoized relation) when
    the corpus is at or under the target; a bounded 1-in-k sample past
    it."""
    d = _eval_sample_decision(spark, sf_dir, target)
    k = d["modulus"]
    if k <= 1:
        return _jaccard_pairs_memo(spark, sf_dir)

    def build() -> DataFrame:
        docs = _eval_sampled_docs(spark, sf_dir, k)
        groups, cross = _jaccard_group_cross(
            spark, sf_dir, docs=docs, decision_tag=f"sample{k}"
        )
        return _pairs_from_group_cross(groups, cross)

    return memoized_result_checkpoint("jaccard_pairs", _pairs_memo_key(sf_dir, k), build)


# ------------------------------------------------------------------
# threshold sweep: the "which dedup threshold?" calibration report
# ------------------------------------------------------------------

#: sweep grid over the jaccard pair relation — bounded below by the
#: base JACCARD_THRESHOLD (pairs under it are never materialized)
SWEEP_THRESHOLDS = (0.80, 0.85, 0.90, 0.95, 1.00)

def _sweep_pairs_cte(doc_rel: str = "documents", lead_ctes: str = "") -> str:
    """WITH-list producing the exact >=threshold ``pairs`` relation from
    ``doc_rel`` (optionally preceded by ``lead_ctes`` — the eval-sample
    CTEs). Shared by the threshold sweep and the k-fold leakage oracle;
    both now read the SAMPLED document relation so their cost is
    bounded at any corpus size (identity sample under the target)."""
    return f"""
WITH {lead_ctes}toks AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(text, '\\s+'))) AS token
  FROM {doc_rel}
), toks_clean AS (
  SELECT * FROM toks WHERE length(token) > 0
), sizes AS (
  SELECT doc_id, count(*) AS n FROM toks_clean GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM toks_clean a
  JOIN toks_clean b
    ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT s.doc_a, s.doc_b,
         CAST(s.c AS DOUBLE) / (sa.n + sb.n - s.c) AS jaccard
  FROM shared s
  JOIN sizes sa ON s.doc_a = sa.doc_id
  JOIN sizes sb ON s.doc_b = sb.doc_id
  WHERE CAST(s.c AS DOUBLE) / (sa.n + sb.n - s.c) >= {JACCARD_THRESHOLD}
)
"""


#: sampled-pairs WITH list shared by the sweep + k-fold leakage oracles
_SAMPLED_PAIRS_CTE = _sweep_pairs_cte(
    doc_rel="sampled_documents", lead_ctes=_eval_sample_ctes() + ", "
)


@register(
    "dedup_threshold_sweep",
    oracle=_SAMPLED_PAIRS_CTE
    + f""", thr AS (
  SELECT unnest([{", ".join(f"CAST({t} AS DOUBLE)" for t in SWEEP_THRESHOLDS)}])
         AS threshold
), melt AS (
  SELECT jaccard, doc_a AS d FROM pairs
  UNION ALL
  SELECT jaccard, doc_b AS d FROM pairs
)
SELECT t.threshold,
       (SELECT count(*) FROM pairs p
         WHERE p.jaccard >= t.threshold) AS n_pairs,
       (SELECT count(DISTINCT m.d) FROM melt m
         WHERE m.jaccard >= t.threshold) AS n_docs
FROM thr t
ORDER BY t.threshold
""",
    description="Dedup-threshold calibration sweep: pair and affected-"
    "document counts at every candidate jaccard cut in ONE pass over "
    "the >= 0.8 pair relation — the report a curation team reads "
    "before committing to a near-dup threshold (too low deletes "
    "paraphrases, too high keeps boilerplate). The pair relation is "
    "checkpoint-memoized (shared with the other eval consumers) and "
    "each count is a conditional aggregate, so the sweep costs one "
    "pair materialization plus two tiny aggregation passes regardless "
    "of how many thresholds are graded. Past "
    "EVAL_SAMPLE_TARGET_DOCS documents the relation is computed over "
    "the deterministic md5-uniform eval sample (mirrored in the "
    "oracle's sampled_documents CTE) — counts become sample counts, "
    "the threshold-choice signal survives, and the cost stays bounded "
    "at any corpus size; under the target the sample is the identity "
    "and the report is exact.",
    tags=("dedup", "neardup", "jaccard", "report"),
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _eval_pairs(spark, sf_dir)
    np_cols = [
        F.coalesce(
            F.sum(F.when(F.col("jaccard") >= F.lit(t), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias(f"np_{i}")
        for i, t in enumerate(SWEEP_THRESHOLDS)
    ]
    nd_cols = [
        F.count_distinct(
            F.when(F.col("jaccard") >= F.lit(t), F.col("d"))
        ).alias(f"nd_{i}")
        for i, t in enumerate(SWEEP_THRESHOLDS)
    ]
    agg_pairs = pairs.agg(*np_cols)
    melted = pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias("d"), "jaccard"
    )
    agg_docs = melted.agg(*nd_cols)
    one = agg_pairs.crossJoin(agg_docs)
    stack = ", ".join(
        f"{t}D, np_{i}, nd_{i}" for i, t in enumerate(SWEEP_THRESHOLDS)
    )
    out = one.select(
        F.expr(
            f"stack({len(SWEEP_THRESHOLDS)}, {stack}) "
            "AS (threshold, n_pairs, n_docs)"
        )
    ).orderBy("threshold")
    # the plan reads the memoized pair checkpoint (fail fast on a
    # stale handle, same contract as the components consumers)
    return guard_checkpoint_result(out)


# ------------------------------------------------------------------
# shingle novelty: how much of each doc is first-seen content?
# ------------------------------------------------------------------


def _shingle_hashes(ts):
    """The distinct NGRAM_N-token shingles of the token array ``ts`` as
    an xxhash64 array (empty under NGRAM_N tokens), shared by
    dedup_ngram_jaccard and shingle_novelty_scores: positions
    1..len-(N-1), each a 1-based slice of N tokens joined by space.
    Shingles hash to 64-bit inside the transform so the exploded rows
    and the join shuffle carry 8-byte longs instead of ~60-byte strings
    (collision odds ~|shingles|²/2⁶⁴ — nil)."""
    return F.when(
        F.size(ts) >= NGRAM_N,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(ts) - (NGRAM_N - 1)),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice(ts, i, NGRAM_N))),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))


@register(
    "shingle_novelty_scores",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), t -> length(t) > 0) AS ts
  FROM documents WHERE doc_id IS NOT NULL
), sh_raw AS (
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN len(ts) >= {NGRAM_N}
                THEN list_transform(range(1, len(ts) - {NGRAM_N - 2}),
                                    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
                ELSE CAST([] AS VARCHAR[]) END)) AS shingle
  FROM toks
), sh AS (
  SELECT DISTINCT doc_id, shingle FROM sh_raw
), first_seen AS (
  SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle
)
SELECT s.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       CAST(round(CAST(
         CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
           / count(*) AS DECIMAL(30,12)), 6) AS DOUBLE) AS novelty
FROM sh s JOIN first_seen f USING (shingle)
GROUP BY s.doc_id
ORDER BY s.doc_id
""",
    description=f"Per-document novelty against the whole corpus: the "
    f"fraction of a doc's distinct {NGRAM_N}-token shingles whose "
    "FIRST occurrence (smallest doc_id — ingestion order on this "
    "corpus) is this document. Boilerplate-heavy docs score near 0, "
    "fresh content near 1 — the per-doc signal behind 'keep the "
    "earliest, drop re-crawls' retention policies, and the document-"
    "level view of what decontaminate/ExactSubstr decide span-by-"
    "span. Shingles hash to 8-byte longs before the shuffle (text "
    "never shuffles); the novelty join is shingle-hash equi-keyed, "
    "so the plan is two map-side-combinable aggregates on the same "
    "key. NULL-id docs have no identity to attribute novelty to and "
    "are excluded identically in both engines (splitter contract).",
    tags=("dedup", "ngram", "text", "quality"),
)
def shingle_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", "text")
    )
    # same tokenize-in-own-projection rule as dedup_ngram_jaccard: a
    # bound column evaluates the split once per row
    tok_df = docs.select(
        "doc_id",
        F.filter(F.split("text", r"\s+"), lambda t: F.length(t) > 0).alias("ts"),
    )
    shingle_arr = _shingle_hashes(F.col("ts"))
    # distinct collapses the duplicate-id fixture's repeated rows the
    # same way the oracle's SELECT DISTINCT does
    sh = (
        tok_df.select("doc_id", F.explode(shingle_arr).alias("shingle"))
        .distinct()
        .transform(tracked_persist)
    )
    first_seen = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        sh.join(first_seen, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            novel.alias("n_novel"),
            F.round(
                (novel.cast("double") / F.count(F.lit(1))).cast(
                    "decimal(30,12)"
                ),
                6,
            )
            .cast("double")
            .alias("novelty"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------------------------
# asymmetric containment dedup: near-SUPERSET detection. Jaccard is
# blind to a small document embedded in a much larger one (the union
# term dilutes it); containment C(A→B) = |A∩B| / |A| is the standard
# complementary signal a curation pipeline uses to drop quoted /
# wrapped / concatenated copies while keeping the container.
# ------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.9

CONTAINMENT_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(text, '\\s+'))) AS token
  FROM documents
), toks_clean AS (
  SELECT * FROM toks WHERE length(token) > 0
), sizes AS (
  SELECT doc_id, count(*) AS n FROM toks_clean GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS contained_id, b.doc_id AS container_id, count(*) AS c
  FROM toks_clean a
  JOIN toks_clean b
    ON a.token = b.token AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT s.contained_id, s.container_id,
       CAST(s.c AS DOUBLE) / sa.n AS containment
FROM shared s
JOIN sizes sa ON s.contained_id = sa.doc_id
WHERE CAST(s.c AS DOUBLE) / sa.n >= {CONTAINMENT_THRESHOLD}
ORDER BY contained_id, container_id
"""


#: byte budget for auditor-role group-relation broadcasts (VERDICT r5
#: "what's wrong" #2 / ADVICE r5): broadcasts are gated on a MEASURED
#: bytes estimate, not row counts — rows say nothing about the token
#: arrays riding along. 256 MB default: comfortably inside a 4 GB
#: driver/executor and far above any corpus where the pairwise auditor
#: path is the right plan at all.
_BROADCAST_BUDGET_BYTES = 256 * 1024 * 1024
#: absolute group-count cap for the containment nested-loop path: at
#: |G| > this the |G|² candidate stream is wrong REGARDLESS of what the
#: witness estimate says (witness >= |G|² is reachable at |G| ~ 1e6 on
#: a hot vocabulary, where both paths are quadratic but nested also
#: broadcasts) — above the cap the prefix path is forced. The cap also
#: makes the nested path's (gid, n) broadcast provably tiny:
#: 65536 × 16 B = 1 MB.
_NESTED_MAX_GROUPS = 65536


def _jaccard_path_decision(groups: DataFrame, sf_dir: str, tag: str = "") -> dict:
    """Measured per-corpus path decision for dedup_jaccard_pairs
    (decision site ``jaccard``): estimate the serialized size of the
    collapsed-group relation — n_groups row overheads plus 8 B per
    token hash and per member id — and pick the broadcast pairwise
    path only under the byte budget. Above it the query switches to
    the prefix filter, whose joins all shuffle (see _jaccard_cross);
    both paths are value-identical (pytest-asserted)."""

    def measure() -> dict:
        row = groups.agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.coalesce(F.sum("n"), F.lit(0)).alias("total_tokens"),
            F.coalesce(F.sum(F.size("members")), F.lit(0)).alias("total_members"),
        ).first()
        est_bytes = (
            int(row["n_groups"]) * 64
            + int(row["total_tokens"]) * 8
            + int(row["total_members"]) * 8
        )
        return {
            "n_groups": int(row["n_groups"]),
            "est_bytes": est_bytes,
            "budget_bytes": _BROADCAST_BUDGET_BYTES,
            "use_broadcast": est_bytes <= _BROADCAST_BUDGET_BYTES,
        }

    return decide(
        "jaccard", (table_stamp(sf_dir, "documents"), JACCARD_THRESHOLD, tag), measure
    )


@register(
    "dedup_containment",
    oracle=CONTAINMENT_ORACLE,
    description=f"Directed near-superset pairs: documents whose distinct-"
    f"token set is >= {CONTAINMENT_THRESHOLD:.0%} covered by another "
    "document's — the asymmetric complement of Jaccard that catches a "
    "short doc quoted inside a long one (the union term hides it from "
    "jaccard >= 0.8). Documents collapse to the same distinct-token-"
    "set groups as the jaccard queries. Candidate generation is a "
    "MEASURED per-corpus decision between two paths (memoized, one "
    "action sizes both): the asymmetric PREFIX filter — the contained "
    "side indexes its na−⌈t·na⌉+1 globally-rarest tokens (the rarity-"
    "prefix generator dedup_prefix_filter also runs) against full "
    "posting lists, an overlap >= ⌈t·na⌉ provably shares a prefix "
    "token — wins on real "
    "heavy-tailed vocabularies; the size-pruned nested loop wins when "
    "a degenerate hot vocabulary makes the witness stream exceed "
    "|G|² (this synthetic ~31-word corpus — measured 27 s vs 2.4 s at "
    "sf0.1). Path equivalence is pytest-asserted. NOTE: on this corpus "
    "the TRUE output is itself near-quadratic (500 docs → 79k directed "
    "pairs — most docs genuinely cover 90% of each other's tiny token "
    "sets), so scale probes here measure output volume, not wasted "
    "work. Identical-set groups emit containment 1.0 both ways.",
    tags=("dedup", "neardup", "containment", "prefix-filter"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    groups = _group_relation(spark, sf_dir)
    # overlap needed for C(A→B) >= t is ⌈t·na⌉; at most na−⌈t·na⌉ of
    # A's tokens can miss B, so A's first na−⌈t·na⌉+1 rarest tokens
    # must intersect B. The CONTAINED side indexes only its prefix; the
    # CONTAINER side is the full posting list ``tok``.
    tok, freq, prefixes = _rarity_prefixes(
        groups,
        (F.col("n") - F.ceil(F.col("n") * F.lit(CONTAINMENT_THRESHOLD)) + 1).cast("int"),
    )
    # ---- AQE-style candidate-path decision (memoized per corpus):
    # the PREFIX join's work is the witness stream Σ_prefix-rows
    # freq(token); the NESTED loop's work is |G|² cheap predicate
    # evaluations. On a heavy-tailed real vocabulary the witness
    # stream is tiny and the prefix path wins by orders of magnitude
    # (10× probe: exp 0.26 vs 1.33); on this synthetic ~31-word
    # vocabulary every posting list is hot and the witness stream
    # EXCEEDS |G|² (measured 27 s vs 2.7 s at sf0.1) — so measure both
    # estimates in one action (two 1-row aggregates) and pick per corpus.
    def measure() -> dict:
        row = (
            groups.agg(F.count(F.lit(1)).alias("n_groups"))
            .crossJoin(
                prefixes.join(F.broadcast(freq), "token").agg(
                    F.sum("freq").alias("witness_rows")
                )
            )
            .first()
        )
        n_groups = int(row["n_groups"])
        witness = int(row["witness_rows"] or 0)
        # absolute cap (ADVICE r5): past |G| = _NESTED_MAX_GROUPS the
        # |G|² candidate stream is wrong no matter what the witness
        # estimate says (witness >= |G|² is reachable at |G| ~ 1e6 on a
        # hot vocabulary, where BOTH paths are quadratic — prefix at
        # least never broadcasts), and the cap keeps the nested path's
        # (gid, n) broadcast provably bounded at cap × 16 B = 1 MB
        return {
            "n_groups": n_groups,
            "witness_rows": witness,
            "nested_pairs": n_groups * n_groups,
            "nested_capped": n_groups > _NESTED_MAX_GROUPS,
            "use_prefix": (witness < n_groups * n_groups)
            or n_groups > _NESTED_MAX_GROUPS,
        }

    use_prefix = decide(
        "containment",
        (table_stamp(sf_dir, "documents"), CONTAINMENT_THRESHOLD),
        measure,
    )["use_prefix"]
    needed = F.ceil(F.col("na") * F.lit(CONTAINMENT_THRESHOLD))
    if use_prefix:
        pa = prefixes.select(
            F.col("gid").alias("ga"), F.col("n").alias("na"),
            "token", F.col("pos").alias("pos_a"),
        )
        pb = tok.select(F.col("gid").alias("gb"), F.col("n").alias("nb"), "token")
        # positional prune as a join residual: a witness at pos_a caps
        # the overlap at 1 + (na − pos_a), which must reach ⌈t·na⌉;
        # plus the container must hold the overlap (nb >= ⌈t·na⌉)
        cand = (
            pa.join(
                pb,
                (pa["token"] == pb["token"])
                & (F.col("ga") != F.col("gb"))
                & (F.col("nb") >= needed)
                & (F.lit(1) + F.col("na") - F.col("pos_a") >= needed),
            )
            .groupBy("ga", "gb")
            .agg(F.count(F.lit(1)).alias("_w"))
            .select("ga", "gb")
        )
    else:
        ga_side = groups.select(F.col("gid").alias("ga"), F.col("n").alias("na"))
        gb_side = groups.select(F.col("gid").alias("gb"), F.col("n").alias("nb"))
        cand = (
            F.broadcast(ga_side)
            .join(
                gb_side,
                (F.col("ga") != F.col("gb")) & (F.col("nb") >= needed),
            )
            .select("ga", "gb")
        )
    # verify under the measured set-compare encoding (see _set_compare);
    # in the hashed branch the union bound guards the intersect
    a, b, c = _set_compare(
        sf_dir, groups, "toks_h", "containment_groups",
        {"gid": "g{}", "members": "m_{}", "n": "n{}"},
        keep=lambda ub: _bitmap_keep_containment(ub, CONTAINMENT_THRESHOLD),
    )
    cross = (
        cand.join(a, "ga")
        .join(b, "gb")
        .select("m_a", "m_b", "na", c.alias("c"))
        # single-c integer form before the ratio projection — the
        # pushed join-condition copy evaluates the intersect once per
        # candidate, not twice (_ratio_ge_int)
        .filter(_ratio_ge_int("c", F.col("na"), CONTAINMENT_THRESHOLD))
        .select(
            "m_a",
            "m_b",
            (F.col("c").cast("double") / F.col("na")).alias("containment"),
        )
    )
    pairs = (
        cross.select(F.explode("m_a").alias("contained_id"), "m_b", "containment")
        .select("contained_id", F.explode("m_b").alias("container_id"), "containment")
    )
    # identical-set groups: every ordered pair of distinct members is
    # mutually contained at 1.0 (matches the oracle's a.doc_id <> b.doc_id)
    within = (
        groups.filter(F.size("members") >= 2)
        .select(F.explode("members").alias("contained_id"), "members")
        .select("contained_id", F.explode("members").alias("container_id"))
        .filter(F.col("contained_id") != F.col("container_id"))
        .select("contained_id", "container_id", F.lit(1.0).alias("containment"))
    )
    return pairs.unionByName(within)


# ------------------------------------------------------------------
# n-gram (shingle) Jaccard near-dup: order-sensitive variant
# ------------------------------------------------------------------

NGRAM_JACCARD_THRESHOLD = 0.5

#: hot-shingle df-cut (VERDICT r5 task 4 — the production knob
#: SCALE.md named but didn't code): a shingle present in more than
#: NUM/DEN of the shingle-bearing documents is boilerplate — its
#: posting list contributes O(df²) pair rows while carrying no dedup
#: signal — and is dropped from BOTH engines' shingle space before the
#: pair join. The cut is an exact integer fraction (df·DEN > n_docs·NUM)
#: rather than an interpolated df-quantile so DuckDB replays the
#: decision bit-for-bit; 1/2 is the classic "more than half the corpus"
#: boilerplate bar. Forced off with ngram_dfcut={"engage": False} (the
#: cut-fires fixture and the no-op-equality test exercise both sides).
NGRAM_DF_CUT_NUM = 1
NGRAM_DF_CUT_DEN = 2

#: the exact cut needs a df pass over the shingle stream (~2.4 s of
#: pure overhead at sf0.1 when nothing crosses — measured), so whether
#: to run it is a memoized per-corpus decision probed on a
#: DETERMINISTIC 1/16 doc sample (xxhash64(doc_id) mod — engine- and
#: run-independent): corpora whose sample is smaller than
#: _NGRAM_PROBE_MIN_DOCS always take the exact cut (it is cheap
#: there, and every oracle fixture lands in this bucket), larger ones
#: engage only if some sampled shingle's df reaches HALF the cut
#: fraction. df is true DOC frequency — count(DISTINCT doc_id) in the
#: probe, the cut, and the oracle alike (ADVICE r6: a plain row count
#: was occurrence frequency whenever the duplicate-id fixture repeats
#: a doc_id). Disengage risk (ADVICE r6): when the sampled max df
#: lands in [1/4, 1/2) of the cut fraction — close enough that a real
#: crossing is conceivable — the probe CONFIRMS with one exact full df
#: pass (memoized, so the 2.4 s is paid once per corpus) instead of
#: trusting the sample. Below the 1/4-cut margin the statistical bound
#: stands: a true-boilerplate shingle (df > 1/2 of docs) sampling
#: under 1/4 on a ≥200-doc sample has probability
#: exp(-2·200·0.0625) ≈ 1e-11 — an accepted driver-gate risk, as is
#: the same residual divergence when ngram_dfcut={"engage": False} is
#: forced while some shingle truly crosses (the oracle always applies
#: the exact cut; forcing exists for plan A/Bs, not production).
_NGRAM_PROBE_MOD = 16
_NGRAM_PROBE_MIN_DOCS = 200

NGRAM_JACCARD_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> length(t) > 0) AS ts
  FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(
           CASE WHEN len(ts) >= {NGRAM_N}
                THEN list_transform(range(1, len(ts) - {NGRAM_N - 2}),
                                    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
                ELSE CAST([] AS VARCHAR[]) END)) AS shingle
  FROM toks
), dfc AS (
  SELECT shingle, count(DISTINCT doc_id) AS df FROM sh GROUP BY shingle
), nd AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM sh
), kept AS (
  SELECT sh.doc_id, sh.shingle
  FROM sh JOIN dfc USING (shingle), nd
  WHERE df * {NGRAM_DF_CUT_DEN} <= n_docs * {NGRAM_DF_CUT_NUM}
), sizes AS (
  SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT s.doc_a, s.doc_b,
       CAST(s.c AS DOUBLE) / (sa.n + sb.n - s.c) AS jaccard
FROM shared s
JOIN sizes sa ON s.doc_a = sa.doc_id
JOIN sizes sb ON s.doc_b = sb.doc_id
WHERE CAST(s.c AS DOUBLE) / (sa.n + sb.n - s.c) >= {NGRAM_JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


@register(
    "dedup_ngram_jaccard",
    oracle=NGRAM_JACCARD_ORACLE,
    description=f"Near-dup pairs by {NGRAM_N}-token shingle Jaccard >= "
    f"{NGRAM_JACCARD_THRESHOLD}: unlike the token-set variant, shingles "
    "see word ORDER, so reshuffled bags of the same words stop matching. "
    "Same blocked equi-join shape — the join key is a shingle hash, and "
    "the shuffle never carries document text. Boilerplate shingles "
    f"(doc frequency > {NGRAM_DF_CUT_NUM}/{NGRAM_DF_CUT_DEN} of the "
    "shingle-bearing docs) are df-cut from both engines' shingle space "
    "before the pair join — the exact-integer production knob that "
    "caps hot posting lists' O(df²) pair blowup.",
    tags=("dedup", "neardup", "jaccard", "ngram"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    # tokenize in its OWN projection: referencing the split inline inside
    # the transform lambda re-evaluates the regex split per array element
    # (O(len²) per doc — measured 2.4× slower); a bound column evaluates
    # once per row
    tok_df = docs.select(
        "doc_id",
        F.filter(F.split("text", r"\s+"), lambda t: F.length(t) > 0).alias("ts"),
    )
    shingle_arr = _shingle_hashes(F.col("ts"))
    # NOTE (measured, kept on purpose): carrying n = size(shingle set)
    # with the exploded rows to prune inside the join LOOKS cheaper than
    # this separate sizes aggregate, but any join predicate over n lets
    # Catalyst infer an isnotnull/size constraint over the WHOLE shingle
    # expression and push it into the FileScan — which re-runs the
    # split+hash chain per row inside the single-task scan, 3-5× slower
    # end to end. The exploded self-join keyed only on the generated
    # shingle column is immune: generator outputs can't be pushed past
    # the Generate.
    sh = tok_df.select("doc_id", F.explode(shingle_arr).alias("shingle"))
    # hot-shingle df-cut (see NGRAM_DF_CUT_* above): the HOT set is by
    # construction tiny (true boilerplate), so it broadcasts into a
    # left-anti prune of the shingle stream; the df aggregate is one
    # extra map-side-combined pass over the (already persisted) stream
    # — the price that caps the pair join's O(df²) hot-posting blowup
    def measure() -> dict:
        # doc_id is a scan column, so the sample predicate pushes BELOW
        # the tokenize chain — the probe scans 1/16 of the corpus, once
        # per corpus (memoized)
        sample = sh.filter(
            F.pmod(F.xxhash64(F.col("doc_id")), F.lit(_NGRAM_PROBE_MOD)) == 0
        )
        sd = int(sample.agg(F.count_distinct("doc_id").alias("d")).first()["d"])
        mdf_row = (
            sample.groupBy("shingle")
            .agg(F.count_distinct("doc_id").alias("df"))
            .agg(F.max("df").alias("m"))
            .first()
        )
        mdf = int(mdf_row["m"] or 0)
        decision = {
            "sample_docs": sd,
            "sample_max_df": mdf,
            "engage": sd < _NGRAM_PROBE_MIN_DOCS
            or mdf * NGRAM_DF_CUT_DEN * 2 >= sd * NGRAM_DF_CUT_NUM,
        }
        if not decision["engage"] and mdf * NGRAM_DF_CUT_DEN * 4 >= sd * NGRAM_DF_CUT_NUM:
            # margin confirm (ADVICE r6): the sample disengaged but its
            # max df is within a factor 2 of the trigger — pay the exact
            # full pass once and decide on the truth
            fmax_row = (
                sh.groupBy("shingle")
                .agg(F.count_distinct("doc_id").alias("df"))
                .agg(F.max("df").alias("m"))
                .first()
            )
            fmax = int(fmax_row["m"] or 0)
            fnd = int(sh.agg(F.count_distinct("doc_id").alias("d")).first()["d"])
            decision.update(
                {
                    "confirm_full_max_df": fmax,
                    "confirm_n_docs": fnd,
                    "engage": fmax * NGRAM_DF_CUT_DEN > fnd * NGRAM_DF_CUT_NUM,
                }
            )
        return decision

    engage = decide(
        "ngram_dfcut",
        (table_stamp(sf_dir, "documents"), NGRAM_DF_CUT_NUM, NGRAM_DF_CUT_DEN),
        measure,
    )["engage"]
    if engage:
        sh = sh.transform(tracked_persist)
        dfc = sh.groupBy("shingle").agg(F.count_distinct("doc_id").alias("df"))
        nd = sh.agg(F.count_distinct("doc_id").alias("n_docs"))
        hot = (
            dfc.crossJoin(F.broadcast(nd))
            .filter(
                F.col("df") * NGRAM_DF_CUT_DEN
                > F.col("n_docs") * NGRAM_DF_CUT_NUM
            )
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= NGRAM_JACCARD_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )


# ------------------------------------------------------------------
# MinHash + LSH (scale path; engine-hash dependent → rows-only check)
# ------------------------------------------------------------------

N_HASHES = 16
N_BANDS = 4  # bands of 4 signatures each


@register(
    "dedup_minhash_lsh",
    oracle=None,
    description="MinHash(16)+LSH(4 bands × 4 rows) candidate generation, "
    "then exact Jaccard verification >= 0.8. Docs are first collapsed by "
    "identical distinct-token set through the collapsed-group relation "
    "dedup_jaccard_pairs also reads (exact-dup collapse — the standard "
    "first step of a near-dup pass; token-less docs form no set), "
    "signatures are computed per unique set straight from its hashed-"
    "token array (no explode shuffle), candidates only form inside equal "
    "band-hash buckets under a size-ratio prune, verification compares "
    "fixed-width token-hash sets under the measured set-compare "
    "encoding, and verified set pairs expand back to member documents "
    "the same way as dedup_jaccard_pairs. xxhash64 signatures are "
    "Spark-deterministic but engine-specific → rows-only check; the "
    "Jaccard verify step ties its output to dedup_jaccard_pairs "
    "semantics (asserted in tests).",
    tags=("dedup", "neardup", "minhash", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # identical distinct-token sets collapse through the shared group
    # relation: pairs within a group are jaccard 1.0 by definition (and
    # identical sets always share every band hash), so MinHash/LSH/verify
    # only runs once per unique set, over its hashed-token array
    groups = _group_relation(spark, sf_dir)

    def _minhash(i: int):
        # re-hash the 8-byte token hash with the family index — far
        # cheaper than re-hashing the string N_HASHES times, same
        # min-wise behavior (64-bit collisions are negligible)
        return F.array_min(F.transform("toks_h", lambda h: F.xxhash64(h, F.lit(i))))

    sigs = groups.select(
        "gid", "n", *[_minhash(i).alias(f"s{i}") for i in range(N_HASHES)]
    )
    rows_per_band = N_HASHES // N_BANDS
    # persisted: both sides of the candidate self-join would otherwise
    # each recompute the 16-hash minhash projection over the cached
    # groups; the relation is 4 slim rows (3 longs + int) per unique
    # set, far smaller than its compute
    bands = sigs.select(
        "gid",
        "n",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(band),
                        *[F.col(f"s{band * rows_per_band + r}") for r in range(rows_per_band)],
                    )
                    for band in range(N_BANDS)
                ]
            )
        ).alias("band", "band_hash"),
    ).transform(tracked_persist)
    # Candidate generation. Candidate pairs stay slim (two longs)
    # through the bucket self-join and the distinct; the size-ratio
    # prune (jaccard >= t requires the smaller set to be >= t x the
    # larger) drops hopeless pairs before the distinct, and a pair
    # colliding in several bands deduplicates BEFORE any array work.
    # One plain band self-join: the largest band bucket measured 212 /
    # 1640 / 1748 members at sf0.01 / sf0.1 / 10× (≤ 1.5M pairs in one
    # task), and the join is a sort-merge join whose buffers spill.
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.gid") < F.col("y.gid"))
            & _size_ratio_prune(F.col("x.n"), F.col("y.n")),
        )
        .select(F.col("x.gid").alias("ga"), F.col("y.gid").alias("gb"))
        .distinct()
    )
    # exact Jaccard verification on candidate group pairs under the
    # measured set-compare encoding (see _set_compare): no shuffle of
    # exploded tokens, no string comparisons. The group table joins by
    # gid; AQE broadcasts it when small, shuffles by key at 100 TB.
    # |A∪B| = na + nb − |A∩B| (sets are distinct by construction), so
    # one intersect per candidate serves both terms, and in the hashed
    # branch the union bound guards it.
    ga, gb, inter = _set_compare(
        sf_dir, groups, "toks_h", "minhash_lsh_groups",
        {"gid": "g{}", "members": "m_{}", "n": "n{}"},
        keep=lambda ub: _bitmap_keep_jaccard(ub, JACCARD_THRESHOLD),
    )
    verified = (
        cand.join(ga, "ga")
        .join(gb, "gb")
        .select("m_a", "m_b", "na", "nb", inter.alias("c"))
        # single-c integer form before the ratio projection — the
        # pushed join-condition copy evaluates the intersect once per
        # candidate, not twice (_ratio_ge_int)
        .filter(_jaccard_ge_int(JACCARD_THRESHOLD))
        .select(
            "m_a",
            "m_b",
            (F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))).alias(
                "jaccard"
            ),
        )
    )
    # within-partition sort only: a global orderBy would range-shuffle the
    # full (large) pair output for presentation alone — at 100 TB the
    # consumer of a near-dup pair list never needs a total order
    return _pairs_from_group_cross(groups, verified).sortWithinPartitions("doc_a", "doc_b")


# ------------------------------------------------------------------
# MinHash + LSH, oracle-checkable variant: the hash family is plain
# modular arithmetic, so DuckDB reproduces the BANDING DECISION itself
# (VERDICT r2 task 6) — both engines generate the identical candidate
# set and therefore the identical verified output, even though LSH
# recall is < 100%: the misses are the same on both sides.
# ------------------------------------------------------------------

MINHASH_P = 2_147_483_647  # Mersenne prime 2³¹−1; token ids ≪ P

#: Cross-engine token id: the first 10 hex digits of md5(token) parsed
#: as an integer — a 40-bit value both engines derive from the SAME
#: UTF-8 bytes (md5 is byte-defined, so no locale/codepoint-split
#: parity risk). 40 bits keeps a·tid inside int64 for both coefficient
#: families (simhash a < 10⁶ → ≤2⁶⁰; minhash a < 2¹⁵ → ≤2⁵⁵) and makes
#: in-vocabulary collisions vanishingly rare (n²/2⁴¹ ≈ 0.005 at a 100k
#: vocabulary) — and any collision is IDENTICAL on both sides, so the
#: compare stays bit-exact. Replaces the r3 dense_rank vocabulary id,
#: whose single-partition global sort was the measured scaling bound
#: (SCALE.md: exponent 0.81 at 10×).
TOKEN_HASH_HEX_DIGITS = 10

# _oracle_hex_id / _spark_hex_id live at the top of the module (the
# eval-sample CTEs interpolate them at registration time).

_ORACLE_TID = _oracle_hex_id("token", TOKEN_HASH_HEX_DIGITS)


def _token_hash_id(col: str = "token"):
    return _spark_hex_id(col, TOKEN_HASH_HEX_DIGITS)
#: 16 fixed (a, b) pairs for hᵢ(x) = (a·x + b) mod P — a < 10⁵ keeps
#: a·tid + b far inside int64 for any realistic vocabulary size.
MINHASH_COEFFS = (
    (2971, 433), (4621, 829), (6007, 1259), (7919, 2111),
    (9241, 2699), (11093, 3319), (13007, 4201), (15077, 4943),
    (17183, 5639), (19319, 6337), (21319, 7109), (23531, 7879),
    (25303, 8599), (27449, 9341), (29443, 10061), (31627, 10799),
)
MINHASH_BANDS = 8  # 8 bands × 2 rows: P(candidate | J=0.8) ≈ 0.9997


def _minhash_verified_oracle(
    doc_rel: str = "documents",
    cand: str = "FROM sig x JOIN sig y ON x.doc_id < y.doc_id\n   AND ({band_pred})",
    names: tuple = ("doc_a", "doc_b"),
    sides: str = "",
) -> str:
    """The cross-engine MinHash oracle over ``doc_rel``, shared with the
    incremental query: ``cand`` is the candidate join's FROM clause
    (formatted with the OR-of-band-equalities ``band_pred``), ``names``
    the output pair columns and ``sides`` extra CTEs ``cand`` reads."""
    sig_cols = ",\n         ".join(
        f"min((tid*{a}+{b}) % {MINHASH_P}) AS s{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    band_pred = "\n        OR ".join(
        f"(x.s{2 * b} = y.s{2 * b} AND x.s{2 * b + 1} = y.s{2 * b + 1})"
        for b in range(MINHASH_BANDS)
    )
    a, b = names
    return rf"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(text, '\s+'))) AS token
  FROM {doc_rel}
), tc AS (
  SELECT * FROM toks WHERE length(token) > 0
), dt AS (
  SELECT DISTINCT doc_id, {_ORACLE_TID} AS tid FROM tc
){sides}, sig AS (
  SELECT doc_id, count(*) AS n,
         {sig_cols}
  FROM dt GROUP BY doc_id
), cand AS (
  SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
  {cand.format(band_pred=band_pred)}
), inter AS (
  SELECT c.da, c.db, count(*) AS cnt
  FROM cand c
  JOIN dt a ON a.doc_id = c.da
  JOIN dt b ON b.doc_id = c.db AND b.tid = a.tid
  GROUP BY c.da, c.db
)
SELECT i.da AS {a}, i.db AS {b},
       CAST(i.cnt AS DOUBLE) / (sa.n + sb.n - i.cnt) AS jaccard
FROM inter i
JOIN sig sa ON i.da = sa.doc_id
JOIN sig sb ON i.db = sb.doc_id
WHERE CAST(i.cnt AS DOUBLE) / (sa.n + sb.n - i.cnt) >= {JACCARD_THRESHOLD}
ORDER BY {a}, {b}
"""


@register(
    "dedup_minhash_verified",
    oracle=_minhash_verified_oracle(),
    description="MinHash(16)+LSH(8 bands × 2 rows) with a cross-engine "
    "hash family: tokens get deterministic ids (the first 10 hex digits "
    "of md5(token) — byte-defined, so both engines derive the SAME "
    "40-bit value), signatures are min((a·tid+b) mod P) with fixed "
    "published coefficients, candidates form only inside equal band "
    "buckets, and candidates are verified by exact Jaccard >= 0.8. "
    "Because the signature arithmetic is plain SQL, the DuckDB oracle "
    "reproduces the banding decision bit-for-bit — both engines miss "
    "the same sub-recall pairs, so the verified output hash-matches "
    "(unlike dedup_minhash_lsh, whose xxhash64 family is Spark-only). "
    "Scale notes: the Spark side bands via one posexplode + struct "
    "equi-join (no OR-join), prunes candidates by the size-ratio bound "
    "before verify, and computes token ids as pure row math in the "
    "scan projection — no vocabulary relation, no global window, no "
    "join back (the r3 dense_rank variant was vocabulary-bound, "
    "SCALE.md exp 0.81; this one shuffles only per-doc id sets).",
    tags=("dedup", "neardup", "minhash", "lsh"),
)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # opportunistic share of the k=1 banding memo: if a calibration
    # session (lsh_recall_report with sampling disengaged) already
    # built this exact relation, reuse it; otherwise run the plain
    # plan — seeding the memo here, even lazily, measured slower than
    # the plain plan (SCALE.md, "Banding-memo share")
    hit = peek_result_memo("minhash_verified_pairs", _pairs_memo_key(sf_dir, 1))
    return hit if hit is not None else _minhash_verified_pairs(spark, sf_dir)


def _minhash_verified_pairs(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None,
    sample_k: int = 1,
) -> DataFrame:
    """Banded-and-verified MinHash pairs over ``docs`` (the full
    documents table by default; the md5-uniform eval sample when the
    recall report engages sampling). ``sample_k`` is the sample modulus
    that produced ``docs`` — it keys the set-compare decision memo so
    two builds with different moduli in one process can never reuse
    each other's vocabulary (ADVICE r10)."""
    site = "minhash_tids" if docs is None else f"minhash_tids_sampled{sample_k}"
    if docs is None:
        docs = load_table(spark, sf_dir, "documents")
    sigs, bands = _minhash_bands(docs.select("doc_id", "text"))
    # no global output sort: the pair set is the query's largest
    # relation and the driver's comparison is order-insensitive (the
    # oracle's ORDER BY only stabilizes ITS display order)
    return _banded_verified_pairs(
        sf_dir, sigs, bands, F.col("x.doc_id") < F.col("y.doc_id"), site, ("doc_a", "doc_b")
    )


def _minhash_bands(docs: DataFrame, *extra):
    """The cross-engine MinHash banding of ``docs`` (doc_id, text and
    any columns ``extra`` reads), shared by dedup_minhash_verified and
    dedup_incremental_neardup: returns the persisted ``sigs`` (doc_id,
    tids, n, extra…, s0…s15) and the ``bands`` (doc_id, n, extra…,
    band, bh). Each ``extra`` is a per-doc aggregate column over the
    document rows (the incremental query's is_batch side)."""
    docs = spread(docs.filter(F.col("text").rlike(r"\S")))
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.filter(F.split("text", r"\s+"), lambda t: F.length(t) > 0))
        ).alias("token"),
    )
    # cross-engine token ids inline in the projection (see _token_hash_id);
    # one shuffle to per-doc id sets; signatures fold over the array —
    # no per-hash re-shuffle, stays in codegen. array_distinct guards the
    # (vanishingly rare, cross-engine-identical) 40-bit hash collision
    # inside one document, mirroring the oracle's SELECT DISTINCT.
    dt = toks.select("doc_id", _token_hash_id().alias("tid"))
    dsets = dt.groupBy("doc_id").agg(
        F.array_distinct(F.collect_list("tid")).alias("tids")
    )
    if extra:
        # aggregated over the document rows and joined, not folded into
        # the id-set aggregate: that carried the extra inputs through
        # every exploded token row and measured slower at sf0.1
        dsets = dsets.join(docs.groupBy("doc_id").agg(*extra), "doc_id")
    carried = dsets.columns[2:]

    def _mh(a: int, b: int):
        return F.array_min(
            F.transform("tids", lambda t: (t * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P))
        )

    sig_cols = [_mh(a, b).alias(f"s{i}") for i, (a, b) in enumerate(MINHASH_COEFFS)]
    sigs = dsets.select(
        "doc_id", "tids", F.size("tids").alias("n"), *carried, *sig_cols
    ).transform(tracked_persist)
    # band key = (band index, the band's 2 signature values) as a struct —
    # exact equality, no re-hash, so the candidate set is literally the
    # oracle's OR-of-band-equalities, generated by ONE equi-join
    bands = sigs.select(
        "doc_id",
        "n",
        *carried,
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        F.col(f"s{2 * b}").alias("lo"), F.col(f"s{2 * b + 1}").alias("hi")
                    )
                    for b in range(MINHASH_BANDS)
                ]
            )
        ).alias("band", "bh"),
    )
    return sigs, bands


def _banded_verified_pairs(
    sf_dir: str, sigs: DataFrame, bands: DataFrame, pred, site: str, names: tuple
) -> DataFrame:
    """(names[0], names[1], jaccard) for the band-bucket pairs x × y of
    :func:`_minhash_bands`' ``bands`` that satisfy ``pred`` (over the
    x./y. columns) and verify at exact Jaccard >= the threshold."""
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh"))
            & pred
            # Spark-only: removes only sub-threshold pairs, so the
            # verified output is unchanged vs the oracle
            & _size_ratio_prune(F.col("x.n"), F.col("y.n")),
        )
        .select(F.col("x.doc_id").alias("da"), F.col("y.doc_id").alias("db"))
        .distinct()
    )
    # verify under the measured set-compare encoding (see _set_compare);
    # banding survivors are mostly true near-dups, so the hashed branch
    # runs the plain intersect (no union-bound guard)
    sa, sb, inter = _set_compare(sf_dir, sigs, "tids", site, {"doc_id": "d{}", "n": "n{}"})
    return (
        cand.join(sa, "da")
        .join(sb, "db")
        .select("da", "db", "na", "nb", inter.alias("cnt"))
        # single-c integer form before the ratio projection — the
        # pushed join-condition copy evaluates the intersect once per
        # candidate, not twice (_ratio_ge_int)
        .filter(_jaccard_ge_int(JACCARD_THRESHOLD, c="cnt"))
        .select(
            F.col("da").alias(names[0]),
            F.col("db").alias(names[1]),
            (F.col("cnt").cast("double") / (F.col("na") + F.col("nb") - F.col("cnt"))).alias(
                "jaccard"
            ),
        )
    )


#: node-count ceiling under which the CC loop's label-sized relations
#: (neighbor mins, pointer-jump reps, the contraction mapping) are
#: BROADCAST instead of shuffle-joined. 2M nodes of two longs hash to
#: well under the 256 MB broadcast budget shared with the jaccard
#: guard; past it every join falls back to the shuffle path unchanged.
CC_BCAST_MAX_NODES = 2_000_000


def _contracted_components(pairs: DataFrame, extra_nodes=None) -> DataFrame:
    """Contraction-based hash-to-min connected components over a
    SINGLE-ORIENTED (ga, gb) pair relation; returns (node, label) with
    label = min node id of the component.

    Each round: (1) every label class takes the min over its neighbor
    classes (symmetry recovered inside the aggregate — edges are
    materialized one-oriented, halving the checkpoint), (2) node labels
    update through their class, (3) the edge set is REWRITTEN onto the
    new labels, self-loops dropped, duplicates collapsed. Clique-ish
    near-dup components become self-loops after round 1, so the
    dominant Ω(|pairs|) scan happens once — plain propagation re-joined
    the full pair set every round and measured exp 1.24 at 10× (r6);
    contraction leaves only the geometric tail (exp 1.02, input-bound).
    Converges in O(log n) rounds on any graph; ``extra_nodes`` adds
    isolated nodes that must appear in the output (e.g. multi-member
    identical-set groups with no cross-group neighbor)."""
    # NOTE (measured, kept on purpose): a tracked persist for the
    # initial edge set looks cheaper than localCheckpoint (no disk
    # write) but a same-window A/B at sf0.1 read persist slightly
    # SLOWER (10.1-10.5 vs 9.8 s) — round 1 reads the edges ~5 times
    # (nodes both endpoints, the symmetric nbr union, the relabel) and
    # each cache read re-pays deserialization that checkpoint block
    # reads do not, eating the saved write.
    ek = pairs.transform(tracked_local_checkpoint)
    # single block-read passes (r10 optimization, guide §2.4): the
    # union forms read the edge checkpoint TWICE each — the node set
    # and every round's symmetric neighbor pass now explode both
    # orientations from ONE scan (profiled: round 1 paid ~5-6 reads of
    # the ~58 MB edge blocks at sf0.1; now 3)
    nodes = ek.select(F.explode(F.array("ga", "gb")).alias("node"))
    if extra_nodes is not None:
        nodes = nodes.union(extra_nodes)
    labels = (
        nodes.distinct()
        .withColumn("label", F.col("node"))
        .transform(tracked_local_checkpoint)
    )
    # Measured broadcast decision (r7): every per-round relation except
    # the edge set itself is label-sized (nbr mins, jump reps, the
    # contraction mapping — all ≤ |nodes| rows), and the loop runs
    # 3-4 rounds of ~5 joins each. Shuffle-joining node-count-sized
    # relations paid a full exchange barrier per join (~9.3 → ~5.6 s
    # loop time at sf0.1 measured); under the node ceiling they are
    # broadcast instead — same plans, same output, exchange-free joins.
    # The labels checkpoint is already materialized, so the count is a
    # cheap cached scan, not an extra pass over the pair relation.
    n_nodes = labels.count()
    d = note(
        "cc_bcast",
        {
            "n_nodes": n_nodes,
            "max_nodes": CC_BCAST_MAX_NODES,
            "broadcast": n_nodes <= CC_BCAST_MAX_NODES,
        },
    )
    _b = F.broadcast if d["broadcast"] else (lambda df: df)
    converged = False
    for _ in range(20):
        nbr = (
            ek.select(
                F.explode(
                    F.array(
                        F.struct(F.col("ga").alias("lbl"), F.col("gb").alias("nb")),
                        F.struct(F.col("gb").alias("lbl"), F.col("ga").alias("nb")),
                    )
                ).alias("e")
            )
            .select(F.col("e.lbl").alias("lbl"), F.col("e.nb").alias("nb"))
            .groupBy("lbl")
            .agg(F.min("nb").alias("nbr_min"))
        )
        relab = labels.join(_b(nbr), labels.label == nbr.lbl, "left").select(
            "node",
            F.col("label").alias("old_label"),
            F.least(F.col("label"), F.coalesce("nbr_min", "label")).alias("label"),
        )
        # pointer-jumping: labels form a forest of decreasing pointers;
        # two label-of-label compositions compress chains ~8× per round
        # (neighbor-min alone shrinks a PATH by only one hop per round
        # — linear, found by the randomized path-graph property test),
        # so the 20-round cap covers any realistic component diameter
        for _jump in range(2):
            rep = relab.select(
                F.col("node").alias("_rep"), F.col("label").alias("_rep_label")
            )
            relab = relab.join(
                _b(rep), relab.label == rep._rep, "left"
            ).select(
                "node",
                "old_label",
                F.coalesce("_rep_label", "label").alias("label"),
            )
        relab = relab.transform(tracked_local_checkpoint)
        changed = relab.filter(F.col("old_label") != F.col("label")).count()
        labels = relab.select("node", "label")
        if changed == 0:
            converged = True
            break
        mapping = relab.select("old_label", "label").distinct()
        ma = mapping.select(
            F.col("old_label").alias("ga"), F.col("label").alias("la")
        )
        mb = mapping.select(
            F.col("old_label").alias("gb"), F.col("label").alias("lb")
        )
        ek = (
            ek.join(_b(ma), "ga")
            .join(_b(mb), "gb")
            .filter(F.col("la") != F.col("lb"))
            .select(
                F.least("la", "lb").alias("ga"),
                F.greatest("la", "lb").alias("gb"),
            )
            .distinct()
            .transform(tracked_local_checkpoint)
        )
    if not converged:
        # fail fast: a silent cap-exit would hand back PARTIAL labels
        raise RuntimeError(
            "_contracted_components did not converge in 20 rounds — "
            "component diameter beyond the pointer-jump budget"
        )
    return labels


# ------------------------------------------------------------------
# near-dup clustering: connected components over the pair graph
# ------------------------------------------------------------------

_CC_EDGES_CTE = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(text, '\\s+'))) AS token
  FROM documents
), toks_clean AS (
  SELECT * FROM toks WHERE length(token) > 0
), sizes AS (
  SELECT doc_id, count(*) AS n FROM toks_clean GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM toks_clean a
  JOIN toks_clean b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT s.doc_a, s.doc_b
  FROM shared s
  JOIN sizes sa ON s.doc_a = sa.doc_id
  JOIN sizes sb ON s.doc_b = sb.doc_id
  WHERE CAST(s.c AS DOUBLE) / (sa.n + sb.n - s.c) >= {JACCARD_THRESHOLD}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
), reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.node
)
"""


def _doc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level near-dup component labels (doc_id, cluster_id) over the
    jaccard>=0.8 pair graph — the shared stage behind dedup_components,
    cluster_aware_split and dedup_cluster_keep_best.

    Memoized per corpus (VERDICT r6 task 5): the three consumers are
    separate top-level queries, and without the memo each paid the full
    contraction-CC pass (~8-9 s of a 8.2 s query at sf0.1 is this
    stage). The memo holds ONE checkpointed (doc_id, cluster_id)
    relation — two ids per document, never text or edges — outside the
    per-build release ledger; bench evicts it per timed run so
    round-over-round numbers stay cold-comparable and stamps the
    hit/miss counters as a plan decision.

    r6: propagation runs on the COLLAPSED GROUP graph, not the
    member-expanded doc graph — a 50-member identical-set group is
    one node instead of 1225 within-pairs, so every shuffle is
    |groups|-sized (with the contraction helper: 15.1 → 8.7 s at
    sf0.1, 205 → 91 s at 10×, identical output).
    Correctness: gid = min(member doc_id), so min-label over group
    components = min doc_id over the doc component; the quotient is
    exact because (a) within-group doc pairs collapse into the node
    itself and (b) a doc_id shared by two groups (duplicate-id edge
    fixture) contributes explicit bridge edges below, exactly as the
    doc-level oracle merges components through that id."""

    def build() -> DataFrame:
        pairs_hit = peek_result_memo("jaccard_pairs", _pairs_memo_key(sf_dir, 1))
        seeded = pairs_hit is not None
        d = note(
            "cc_seed",
            {"seeded": seeded, "source": "jaccard_pairs" if seeded else "plain"},
        )
        if d["seeded"] and not seeded:
            raise ValueError(
                "cc_seed forced seeded, but no jaccard_pairs memo is warm for "
                f"{sf_dir}"
            )
        if d["seeded"]:
            # SEEDED (VERDICT r9 task 7): a calibration session already
            # checkpointed the full doc-level pair relation — derive the
            # group edge set from it (two id-keyed joins over 2-long
            # rows) and skip the pairwise token-set compare entirely.
            # Peek-never-pay: a cold session takes the else branch and
            # never materializes the memo itself. Exactness: cross-group
            # member pairs map back to exactly the jaccard>=t group
            # pairs; within-group (jaccard-1.0) pairs collapse to
            # self-loops and are filtered; a duplicate doc_id mapping to
            # two groups adds edges the bridge below implies anyway.
            groups = _group_relation(spark, sf_dir)
            mem = groups.select("gid", F.explode("members").alias("m"))
            ga_map = mem.select(F.col("m").alias("doc_a"), F.col("gid").alias("ga"))
            gb_map = mem.select(F.col("m").alias("doc_b"), F.col("gid").alias("gb"))
            cross_e = (
                pairs_hit.select("doc_a", "doc_b")
                .join(ga_map, "doc_a")
                .join(gb_map, "doc_b")
                .filter(F.col("ga") != F.col("gb"))
                .select(
                    F.least("ga", "gb").alias("ga"),
                    F.greatest("ga", "gb").alias("gb"),
                )
                .distinct()
            )
        else:
            groups, cross = _jaccard_group_cross(spark, sf_dir)
            mem = groups.select("gid", F.explode("members").alias("m"))
            cross_e = cross.select("ga", "gb")
        bridge = (
            mem.alias("x")
            .join(mem.alias("y"), "m")
            .filter(F.col("x.gid") < F.col("y.gid"))
            .select(F.col("x.gid").alias("ga"), F.col("y.gid").alias("gb"))
        )
        # node set = groups in any edge, plus multi-member groups (their
        # members are within-group jaccard-1.0 pairs at doc level, so
        # they belong to the output even with no cross-group neighbor)
        labels = _contracted_components(
            cross_e.union(bridge),
            extra_nodes=groups.filter(F.size("members") >= 2).select(
                F.col("gid").alias("node")
            ),
        )
        # expand group labels back to member docs; distinct collapses
        # the duplicate-id case (both of its groups carry the merged
        # label)
        return (
            groups.join(labels, groups.gid == labels.node)
            .select(
                F.explode("members").alias("doc_id"),
                F.col("label").alias("cluster_id"),
            )
            .distinct()
        )

    return memoized_result_checkpoint(
        "jaccard_doc_components", table_stamp(sf_dir, "documents"), build
    )


@register(
    "dedup_components",
    oracle=_CC_EDGES_CTE
    + """
SELECT node AS doc_id, min(r) AS cluster_id
FROM reach
GROUP BY node
ORDER BY doc_id
""",
    description="Near-dup clustering: connected components over the "
    "jaccard>=0.8 pair graph via iterative min-label propagation "
    "(converged fixpoint, lineage cut per round with localCheckpoint). "
    "cluster_id = smallest doc_id in the component — the canonical "
    "document a training pipeline keeps. Oracle is a DuckDB recursive "
    "CTE computing min over the transitive closure.",
    tags=("dedup", "neardup", "components", "iterative"),
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _doc_components(spark, sf_dir).orderBy("doc_id")
    # fail-fast guard: the plan reads memoized checkpoint blocks, which
    # release_result_memos / a memo key change can drop (see
    # plans/caching.py) — same stale-handle contract as before
    return guard_checkpoint_result(out)


#: cluster-aware split: train fraction as an exact integer ratio and
#: the md5-uniform digit width (same fold as quality_weighted_sample).
SPLIT_TRAIN_NUM = 9
SPLIT_TRAIN_DEN = 10
SPLIT_HEX_DIGITS = 8


@register(
    "cluster_aware_split",
    oracle=_CC_EDGES_CTE
    + f""", comp AS (
  SELECT node AS doc_id, min(r) AS cluster_id
  FROM reach GROUP BY node
), base AS (
  -- split assignment is keyed by doc_id: the NULL-id orphan row has
  -- no identity to assign and is excluded identically in both engines
  -- (same contract as pack_training_sequences)
  SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL
), assigned AS (
  SELECT b.doc_id, coalesce(c.cluster_id, b.doc_id) AS cluster_id
  FROM base b LEFT JOIN comp c USING (doc_id)
)
SELECT doc_id, cluster_id,
       CASE WHEN {_oracle_hex_id(
           "'split:' || CAST(cluster_id AS VARCHAR)", SPLIT_HEX_DIGITS
       )} * {SPLIT_TRAIN_DEN}
            < {SPLIT_TRAIN_NUM} * {16 ** SPLIT_HEX_DIGITS}
            THEN 'train' ELSE 'holdout' END AS split
FROM assigned
ORDER BY doc_id
""",
    description=f"Cluster-aware train/holdout split "
    f"({SPLIT_TRAIN_NUM}/{SPLIT_TRAIN_DEN} train): every document in a "
    "near-dup component (connected components over the jaccard>=0.8 "
    "pair graph; singletons are their own cluster) lands in the SAME "
    "split, assigned by an md5-uniform draw on the cluster id — the "
    "production fix for the train/test leakage split_leakage_audit "
    "DETECTS (a doc-level split strands near-identical twins on "
    "opposite sides of the eval boundary). Deterministic, no RNG, "
    "reproducible on any cluster size; the per-doc relation only joins "
    "the (pairs-sized) component labels. Oracle: the components "
    "recursive CTE + the same exact-integer hex fold.",
    tags=("dedup", "sampling", "split", "pipeline", "components", "iterative"),
)
def cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = _doc_components(spark, sf_dir)
    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id")
        .distinct()
    )
    assigned = base.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
    )
    u = _spark_hex_id(
        F.concat(F.lit("split:"), F.col("cluster_id").cast("string")),
        SPLIT_HEX_DIGITS,
    )
    out = assigned.select(
        "doc_id",
        "cluster_id",
        F.when(
            u * SPLIT_TRAIN_DEN < SPLIT_TRAIN_NUM * (16 ** SPLIT_HEX_DIGITS),
            F.lit("train"),
        )
        .otherwise(F.lit("holdout"))
        .alias("split"),
    ).orderBy("doc_id")
    # the component labels read tracked checkpoint blocks — same
    # fail-fast contract as dedup_components itself
    return guard_checkpoint_result(out)


# ------------------------------------------------------------------
# SimHash (rows-only)
# ------------------------------------------------------------------

SIMHASH_BITS = 64
SIMHASH_CHUNKS = 4  # Hamming <= 3 guarantees >= 1 equal 16-bit chunk
HAMMING_MAX = 3


def _simhash_pairs(votes: DataFrame) -> DataFrame:
    """(doc_a, doc_b, hamming) for the documents of ``votes`` (doc_id,
    v0…v63 — per-bit vote sums) whose 64-bit SimHash fingerprints (bit
    k set ⟺ v_k > 0) differ in at most HAMMING_MAX bits. The pair stage
    of both SimHash queries, which differ only in how tokens vote.

    Fingerprints band into SIMHASH_CHUNKS × 16-bit chunks and only
    chunk-equal pairs are verified: pigeonhole makes that lossless for
    Hamming <= 3, and the blocking join carries 8 bytes per doc, never
    text. The 64-term fingerprint assembly is one parsed SQL string —
    composing it Column-by-Column costs several Py4J round-trips per
    term (~1 s of driver time per plan build; see
    functions/vectors.dot_fast)."""

    # bit 63 of a signed long is the sign bit: 1<<63 wraps to LONG_MIN,
    # which has no SQL literal (unary minus of 2⁶³ overflows the
    # parser) — spell it as -(2⁶³-1) - 1
    def _bit_literal(k: int) -> str:
        return f"{1 << k}L" if k < 63 else "(-9223372036854775807L - 1L)"

    fingerprint = F.expr(
        " + ".join(
            f"(CASE WHEN v{k} > 0 THEN {_bit_literal(k)} ELSE 0L END)"
            for k in range(SIMHASH_BITS)
        )
    )
    fp = votes.select("doc_id", fingerprint.alias("simhash"))
    chunk_bits = SIMHASH_BITS // SIMHASH_CHUNKS
    mask = (1 << chunk_bits) - 1
    chunks = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), i * chunk_bits).bitwiseAND(F.lit(mask))
                    for i in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    pairs = (
        chunks.alias("x")
        .join(
            chunks.alias("y"),
            (F.col("x.chunk_idx") == F.col("y.chunk_idx"))
            & (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("sim_a"),
            F.col("y.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        pairs.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= HAMMING_MAX)
        # no global output sort — order-insensitive compare, large relation
    )


@register(
    "dedup_simhash",
    oracle=None,
    description="SimHash near-dup: 64-bit token-vote fingerprints, banded "
    "into 4×16-bit chunks (any Hamming<=3 pair shares a chunk), verified "
    "by bit_count(xor) <= 3. Fingerprints are 8 bytes/doc — the blocking "
    "join never touches text. Engine-specific hash → rows-only check.",
    tags=("dedup", "neardup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bit k of a token's vote is bit k of xxhash64(token), ±1 per
    # distinct token; the 64 vote aggregates are parsed SQL strings
    # for the same Py4J reason as the fingerprint (_simhash_pairs)
    toks = _doc_tokens(spread(load_table(spark, sf_dir, "documents"))).withColumn(
        "h", F.xxhash64("token")
    )
    votes = toks.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(h, {k}) & 1) = 1 THEN 1 ELSE -1 END)"
            ).alias(f"v{k}")
            for k in range(SIMHASH_BITS)
        ]
    )
    return _simhash_pairs(votes)


# ------------------------------------------------------------------
# embedding-cosine near-dup (oracle-able)
# ------------------------------------------------------------------

def _emb_block_decision(spark: SparkSession, sf_dir: str, emb: DataFrame) -> dict:
    """Measured per-corpus path decision for the label-blocked pairwise
    cosine (decision site ``emb_block``): estimate the serialized
    embedding relation — row overhead plus 4 B per float32 element —
    and broadcast the build side only under the shared byte budget.
    Either path returns the identical pair multiset; the choice only
    affects the physical plan."""

    def measure() -> dict:
        row = emb.agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.coalesce(F.sum(F.size("embedding")), F.lit(0)).alias("n_elems"),
        ).first()
        est_bytes = int(row["n_vecs"]) * 64 + int(row["n_elems"]) * 4
        return {
            "n_vecs": int(row["n_vecs"]),
            "est_bytes": est_bytes,
            "budget_bytes": _BROADCAST_BUDGET_BYTES,
            "use_broadcast": est_bytes <= _BROADCAST_BUDGET_BYTES,
        }

    return decide("emb_block", (table_stamp(sf_dir, "embeddings"),), measure)


EMBEDDING_COSINE_ORACLE = f"""
WITH dims AS (SELECT unnest(range(1, 65)) AS i),
prods AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         CAST(sum(CAST(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                       AS DECIMAL(30,20))) AS DOUBLE) AS dot
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
  CROSS JOIN dims
  GROUP BY 1, 2
),
norms AS (
  SELECT vec_id,
         CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
                       AS DECIMAL(30,20))) AS DOUBLE) AS nsq
  FROM embeddings CROSS JOIN dims
  GROUP BY 1
)
SELECT vec_a, vec_b, cosine
FROM (
  SELECT p.vec_a, p.vec_b,
         CAST(round(CAST(p.dot / (sqrt(na.nsq) * sqrt(nb.nsq)) AS DECIMAL(30,12)), 6)
              AS DOUBLE) AS cosine
  FROM prods p
  JOIN norms na ON p.vec_a = na.vec_id
  JOIN norms nb ON p.vec_b = nb.vec_id
)
WHERE cosine >= {COSINE_THRESHOLD}
ORDER BY vec_a, vec_b
"""


@register(
    "dedup_embedding_pairs",
    oracle=EMBEDDING_COSINE_ORACLE,
    description="Embedding near-dup pairs: exact-sum cosine >= 0.4 within "
    "a label block (zip_with/aggregate decimal fold — no UDF). Label "
    "blocking stands in for the LSH/IVF bucketing used at scale "
    "(see similarity operators).",
    tags=("dedup", "neardup", "embedding"),
)
def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import dot_fast, norm_sq_fast

    # norms computed ONCE per vector before the join, not once per pair
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding", norm_sq_fast("embedding").alias("nsq")
    )
    # Parallelize the blocked compare (r10 optimization, guide §2.5 +
    # §3.1). The join key `label` has a handful of distinct values, so
    # the shuffle join hashed BOTH sides into as many partitions as
    # labels — and AQE then coalesced the tiny-bytes exchange further,
    # profiled as two ~2.3 s SINGLE-TASK stages doing every pairwise
    # cosine on one core (the repo's own documented hazard: never feed
    # CPU-heavy per-row work from a coalescible exchange). Under the
    # measured byte budget the build side is broadcast instead and the
    # probe side spread to full parallelism: a BroadcastHashJoin on
    # label whose per-task work is bounded by the probe partitioning,
    # not by |labels|. Over budget (a corpus too big to broadcast) the
    # original shuffle join stands — with the label-skew caveat that
    # blocked self-joins have at any scale.
    if _emb_block_decision(spark, sf_dir, emb)["use_broadcast"]:
        a = spread(emb).alias("a")
        b = F.broadcast(emb.alias("b"))
    else:
        a = emb.alias("a")
        b = emb.alias("b")
    # two-phase: the oracle-stable decimal fold costs ~100× the plain
    # double cosine, so prefilter every blocked pair with the fast one
    # at a 1e-6 safety margin (fast/exact disagreement ~1e-15) and pay
    # the decimal fold only on near-threshold survivors
    # try_divide: a zero vector in the block gives NULL (not an ANSI
    # crash); NULL >= t is false on both engines, so the pair drops
    fast = F.try_divide(
        dot_fast("a.embedding", "b.embedding"),
        F.sqrt(F.col("a.nsq")) * F.sqrt(F.col("b.nsq")),
    )
    cos = (
        F.round(
            cosine_exact(F.col("a.embedding"), F.col("b.embedding")).cast("decimal(30,12)"), 6
        ).cast("double")
    )
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .filter(fast >= COSINE_THRESHOLD - 1e-6)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
        # no global output sort (driver compare is order-insensitive and
        # this is the query's largest relation — the r4 pair-producer
        # policy, applied here in the r10 optimization round: the sweep
        # consumer was paying a full sort of the pair relation)
    )


#: semantic sweep grid — bounded below by COSINE_THRESHOLD (pairs
#: under the base cut are never materialized, same as the jaccard grid)
EMB_SWEEP_THRESHOLDS = (0.40, 0.60, 0.80, 0.90, 0.95)


@register(
    "embedding_threshold_sweep",
    oracle=f"""
WITH dims AS (SELECT unnest(range(1, 65)) AS i),
prods AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         CAST(sum(CAST(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                       AS DECIMAL(30,20))) AS DOUBLE) AS dot
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
  CROSS JOIN dims
  GROUP BY 1, 2
),
norms AS (
  SELECT vec_id,
         CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
                       AS DECIMAL(30,20))) AS DOUBLE) AS nsq
  FROM embeddings CROSS JOIN dims
  GROUP BY 1
),
pairs AS (
  SELECT vec_a, vec_b, cosine FROM (
    SELECT p.vec_a, p.vec_b,
           CAST(round(CAST(p.dot / (sqrt(na.nsq) * sqrt(nb.nsq)) AS DECIMAL(30,12)), 6)
                AS DOUBLE) AS cosine
    FROM prods p
    JOIN norms na ON p.vec_a = na.vec_id
    JOIN norms nb ON p.vec_b = nb.vec_id
  )
  WHERE cosine >= {COSINE_THRESHOLD}
),
thr AS (
  SELECT unnest([{", ".join(f"CAST({t} AS DOUBLE)" for t in EMB_SWEEP_THRESHOLDS)}])
         AS threshold
),
melt AS (
  SELECT cosine, vec_a AS v FROM pairs
  UNION ALL
  SELECT cosine, vec_b AS v FROM pairs
)
SELECT t.threshold,
       (SELECT count(*) FROM pairs p
         WHERE p.cosine >= t.threshold) AS n_pairs,
       (SELECT count(DISTINCT m.v) FROM melt m
         WHERE m.cosine >= t.threshold) AS n_vecs
FROM thr t
ORDER BY t.threshold
""",
    description="Semantic-dedup threshold calibration: pair and "
    "affected-vector counts at every candidate cosine cut in one pass "
    "over the label-blocked >= 0.4 pair relation — the embedding-side "
    "twin of dedup_threshold_sweep (together they calibrate the "
    "lexical AND semantic near-dup knobs a curation run commits to). "
    "The pair relation is persisted once; each grid point is a "
    "conditional aggregate, so extra thresholds are free.",
    tags=("dedup", "neardup", "embedding", "report"),
)
def embedding_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_embedding_pairs(spark, sf_dir).transform(tracked_persist)
    np_cols = [
        F.coalesce(
            F.sum(F.when(F.col("cosine") >= F.lit(t), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias(f"np_{i}")
        for i, t in enumerate(EMB_SWEEP_THRESHOLDS)
    ]
    nv_cols = [
        F.count_distinct(
            F.when(F.col("cosine") >= F.lit(t), F.col("v"))
        ).alias(f"nv_{i}")
        for i, t in enumerate(EMB_SWEEP_THRESHOLDS)
    ]
    agg_pairs = pairs.agg(*np_cols)
    melted = pairs.select(F.explode(F.array("vec_a", "vec_b")).alias("v"), "cosine")
    agg_vecs = melted.agg(*nv_cols)
    one = agg_pairs.crossJoin(agg_vecs)
    stack = ", ".join(
        f"{t}D, np_{i}, nv_{i}" for i, t in enumerate(EMB_SWEEP_THRESHOLDS)
    )
    return one.select(
        F.expr(
            f"stack({len(EMB_SWEEP_THRESHOLDS)}, {stack}) "
            "AS (threshold, n_pairs, n_vecs)"
        )
    ).orderBy("threshold")


# ------------------------------------------------------------------
# SimHash, oracle-checkable variant: per-token bit votes come from a
# modular-arithmetic hash family over deterministic vocabulary ids, so
# DuckDB reproduces the 64-bit fingerprints (and therefore the Hamming
# pairs) bit-for-bit — the cross-engine twin of dedup_simhash, exactly
# as dedup_minhash_verified twins dedup_minhash_lsh.
# ------------------------------------------------------------------

#: 64 (a, b) pairs: vote bit k of a token = parity of (a_k·tid + b_k)
#: mod P. Constants are generated by a fixed LCG-style formula so the
#: Spark plan and the oracle SQL are built from the SAME numbers;
#: a < 10⁶ keeps a·tid + b far inside int64 for any vocabulary.
SIMHASH_COEFFS = tuple(
    (
        (1103515245 * (k + 1) + 12345) % 1_000_003 or 7,
        (214013 * (k + 7) + 2531011) % 1_000_033,
    )
    for k in range(SIMHASH_BITS)
)


def _simhash_verified_oracle() -> str:
    vbit_cols = ",\n         ".join(
        f"(((tid*{a}+{b}) % {MINHASH_P}) % 2) * 2 - 1 AS b{k}"
        for k, (a, b) in enumerate(SIMHASH_COEFFS)
    )
    vote_cols = ",\n         ".join(
        f"sum(b{k}) AS v{k}" for k in range(SIMHASH_BITS)
    )

    def bit_literal(k: int) -> str:
        return str(1 << k) if k < 63 else "(-9223372036854775807 - 1)"

    fp_expr = "\n        + ".join(
        f"(CASE WHEN v{k} > 0 THEN {bit_literal(k)} ELSE 0 END)"
        for k in range(SIMHASH_BITS)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(text, '\s+'))) AS token
  FROM documents
), tc AS (
  SELECT * FROM toks WHERE length(token) > 0
), vocab AS (
  SELECT token, {_ORACLE_TID} AS tid
  FROM (SELECT DISTINCT token FROM tc)
), vbits AS (
  SELECT token,
         {vbit_cols}
  FROM vocab
), votes AS (
  SELECT t.doc_id,
         {vote_cols}
  FROM tc t JOIN vbits v USING (token)
  GROUP BY t.doc_id
), fp AS (
  SELECT doc_id,
         CAST({fp_expr} AS BIGINT) AS f
  FROM votes
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.f, b.f)) AS INTEGER) AS hamming
FROM fp a JOIN fp b
  ON a.doc_id < b.doc_id AND bit_count(xor(a.f, b.f)) <= {HAMMING_MAX}
ORDER BY doc_a, doc_b
"""


@register(
    "dedup_simhash_verified",
    oracle=_simhash_verified_oracle(),
    description="SimHash near-dup with a cross-engine hash family: "
    "tokens get deterministic ids (the first 10 hex digits of "
    "md5(token), byte-defined on both engines — no global-sort "
    "vocabulary rank), vote bit k of a token is the parity of "
    "(a_k·tid + b_k) mod P with 64 fixed published coefficient pairs, "
    "fingerprints are the per-bit vote signs, and pairs report when "
    "Hamming(f_a, f_b) <= 3. Because the bit votes are plain modular "
    "arithmetic, DuckDB rebuilds the identical fingerprints and the "
    "pair set hash-matches (unlike dedup_simhash, whose xxhash64 votes "
    "are Spark-only). The Spark side still BLOCKS: fingerprints band "
    "into 4×16-bit chunks and only chunk-equal pairs are verified — "
    "pigeonhole makes that lossless for Hamming <= 3, so the blocked "
    "result equals the oracle's all-pairs formulation. Token ids are "
    "pure row math (no vocabulary-bound global rank — see "
    "dedup_minhash_verified); dedup_simhash remains the hash-family "
    "production twin.",
    tags=("dedup", "neardup", "simhash"),
)
def dedup_simhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("text").rlike(r"\S"))
    )
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.filter(F.split("text", r"\s+"), lambda t: F.length(t) > 0))
        ).alias("token"),
    )
    # the 64 ±1 vote bits are computed ONCE per distinct token (a
    # vocabulary-sized relation, but no ordering — plain hash distinct)
    # and broadcast; per-document work is then 64 integer sums
    vocab = toks.select("token").distinct().withColumn("tid", _token_hash_id())
    tid = F.col("tid")
    vbits = vocab.select(
        "token",
        *[
            ((((tid * a + b) % MINHASH_P) % 2) * 2 - 1).cast("int").alias(f"b{k}")
            for k, (a, b) in enumerate(SIMHASH_COEFFS)
        ],
    )
    votes = (
        toks.join(F.broadcast(vbits), "token")
        .groupBy("doc_id")
        .agg(*[F.sum(f"b{k}").alias(f"v{k}") for k in range(SIMHASH_BITS)])
    )
    return _simhash_pairs(votes)


# ------------------------------------------------------------------
# semantic dedup clustering: connected components over the embedding
# cosine pair graph (the composition a semantic-dedup pipeline runs:
# ANN/blocked pairs → clusters → keep one representative per cluster)
# ------------------------------------------------------------------

_EMB_CC_ORACLE = f"""
WITH RECURSIVE dims AS (SELECT unnest(range(1, 65)) AS i),
prods AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         CAST(sum(CAST(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                       AS DECIMAL(30,20))) AS DOUBLE) AS dot
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
  CROSS JOIN dims
  GROUP BY 1, 2
),
norms AS (
  SELECT vec_id,
         CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
                       AS DECIMAL(30,20))) AS DOUBLE) AS nsq
  FROM embeddings CROSS JOIN dims
  GROUP BY 1
),
pairs AS (
  SELECT vec_a, vec_b FROM (
    SELECT p.vec_a, p.vec_b,
           CAST(round(CAST(p.dot / (sqrt(na.nsq) * sqrt(nb.nsq)) AS DECIMAL(30,12)), 6)
                AS DOUBLE) AS cosine
    FROM prods p
    JOIN norms na ON p.vec_a = na.vec_id
    JOIN norms nb ON p.vec_b = nb.vec_id
  ) WHERE cosine >= {COSINE_THRESHOLD}
),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION ALL
  SELECT vec_b, vec_a FROM pairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.node
)
SELECT node AS vec_id, min(r) AS cluster_id
FROM reach
GROUP BY node
ORDER BY vec_id
"""


@register(
    "dedup_embedding_components",
    oracle=_EMB_CC_ORACLE,
    description="Semantic dedup clustering: connected components over "
    "the embedding-cosine near-dup pair graph (cosine >= 0.4 within "
    "label blocks, from dedup_embedding_pairs) via the same iterative "
    "min-label propagation as dedup_components. cluster_id = smallest "
    "vec_id in the component — the canonical vector a semantic-dedup "
    "pipeline keeps per duplicate cluster. One slim (long, long) edge "
    "relation; each round is one shuffle of |nodes| rows with the "
    "lineage cut per round. Oracle: DuckDB recursive CTE min over the "
    "transitive closure of the identical pair set.",
    tags=("dedup", "embedding", "components", "iterative"),
)
def dedup_embedding_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pairs are single-oriented (vec_a < vec_b) — exactly the shape the
    # shared contraction-CC helper consumes (r6: same rewrite as
    # dedup_components; identical output, Ω(|pairs|) paid once)
    labels = _contracted_components(
        dedup_embedding_pairs(spark, sf_dir).select(
            F.col("vec_a").alias("ga"), F.col("vec_b").alias("gb")
        )
    )
    # fail-fast guard: the plan reads tracked checkpoint blocks, which
    # the NEXT top-level build releases (see plans/caching.py)
    return guard_checkpoint_result(
        labels.select(
            F.col("node").alias("vec_id"), F.col("label").alias("cluster_id")
        ).orderBy("vec_id")
    )


# ------------------------------------------------------------------
# span-level exact-substring dedup (ExactSubstr, Lee et al. 2021,
# "Deduplicating Training Data Makes Language Models Better"): every
# doc-level dedup above keeps or drops WHOLE documents, but real
# training corpora share long verbatim SPANS (licenses, boilerplate,
# quoted passages) inside otherwise-distinct documents. This operator
# reports, per document, how much of its span set is verbatim
# duplicated elsewhere in the corpus — the signal a pipeline uses to
# cut spans or down-weight documents.
# ------------------------------------------------------------------

#: span window: SPAN_TOKENS consecutive whitespace-delimited tokens,
#: sampled at EVERY token position. Token boundaries are content-
#: defined, so two documents sharing a verbatim token run always
#: sample the identical windows — a char-grid stride can never
#: guarantee that (the two docs' grids differ by their prefix lengths
#: mod the stride, so sampled windows need never align). Guarantee:
#: any verbatim shared run of >= SPAN_TOKENS tokens is detected on
#: both sides; joining on ' ' also canonicalizes whitespace variation
#: the way the token-level dedups above do.
SPAN_TOKENS = 8
#: span ids are 60-bit md5 prefixes (15 hex digits) — the grouping and
#: join-back shuffles carry 8-byte ids, never the span strings; at a
#: 10^9-span corpus the collision expectation n²/2⁶¹ is still < 1,
#: and any collision is identical on both engines.
SPAN_HASH_HEX_DIGITS = 15


def span_sid_rows(df: DataFrame) -> DataFrame:
    """Exploded, per-doc-deduped (doc_id, sid) stream of 8-token span
    ids from a relation carrying (doc_id, ts) — the shared span stage
    of dedup_exact_substr and pretraining_funnel_report (single source
    of truth on the Spark side; sql_span_ds_ctes is the oracle twin).
    Short docs yield an empty array INSIDE the projection (explode
    drops them) — no pushable size() filter."""
    ts = F.col("ts")
    span_arr = F.when(
        F.size(ts) >= SPAN_TOKENS,
        F.transform(
            F.sequence(F.lit(1), F.size(ts) - F.lit(SPAN_TOKENS - 1)),
            lambda i: F.array_join(F.slice(ts, i, SPAN_TOKENS), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select("doc_id", F.explode(span_arr).alias("gram"))
        .select("doc_id", _spark_hex_id("gram", SPAN_HASH_HEX_DIGITS).alias("sid"))
        .distinct()
    )


def sql_span_ds_ctes(src: str) -> str:
    """DuckDB twin of :func:`span_sid_rows`: ``spans`` + ``ds`` CTE text
    over a relation ``src`` carrying (doc_id, ts)."""
    return f"""spans AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ts) - {SPAN_TOKENS - 2}),
                i -> array_to_string(list_slice(ts, CAST(i AS INTEGER),
                                                CAST(i + {SPAN_TOKENS - 1} AS INTEGER)),
                                     ' '))) AS gram
  FROM {src}
  WHERE len(ts) >= {SPAN_TOKENS}
), ds AS (
  SELECT DISTINCT doc_id, {_oracle_hex_id('gram', SPAN_HASH_HEX_DIGITS)} AS sid
  FROM spans
)"""


@register(
    "dedup_exact_substr",
    oracle=rf"""
WITH tl AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS ts
  FROM documents
), {sql_span_ds_ctes('tl')}, shared AS (
  SELECT sid FROM ds GROUP BY sid HAVING count(DISTINCT doc_id) >= 2
), tot AS (
  SELECT doc_id, count(*) AS n_spans FROM ds GROUP BY doc_id
), dup AS (
  SELECT d.doc_id, count(*) AS dup_spans
  FROM ds d JOIN shared s USING (sid)
  GROUP BY d.doc_id
)
SELECT t.doc_id,
       t.n_spans,
       coalesce(u.dup_spans, 0) AS dup_spans,
       round(CAST(coalesce(u.dup_spans, 0) AS DOUBLE) / t.n_spans, 6) AS dup_frac
FROM tot t LEFT JOIN dup u USING (doc_id)
ORDER BY doc_id
""",
    description=f"Span-level exact-substring dedup (the ExactSubstr "
    f"signal of Lee et al. 2021, re-expressed relationally): every "
    f"{SPAN_TOKENS}-token window — sampled at EVERY token position, "
    "because token boundaries are content-defined and therefore align "
    "identically in every document sharing the run (a char-grid "
    "stride can never guarantee that) — is hashed to a 60-bit "
    "md5-prefix id IN the scan projection, spans are deduped per "
    "document, ids seen in >= 2 distinct documents are the shared "
    "set, and each document reports its distinct span count, how many "
    "are corpus-duplicated, and the duplicated fraction. Any verbatim "
    f"shared run of >= {SPAN_TOKENS} tokens is guaranteed detected. "
    "Scale notes: the exploded span stream carries (doc_id, 8-byte "
    "id) only — never the span strings; the shared-id set is found by "
    "one groupBy on the id; the join back to per-doc counts re-uses "
    "the same id partitioning. Output is per-document (corpus-sized), "
    "so there is no global presentation sort — the same rationale as "
    "the pair-producing dedups.",
    tags=("dedup", "neardup", "text", "substr"),
)
def dedup_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    tok_df = docs.select(
        "doc_id",
        F.filter(F.split("text", r"\s+"), lambda t: F.length(t) > 0).alias("ts"),
    )
    ds = span_sid_rows(tok_df).transform(tracked_persist)
    shared = (
        ds.groupBy("sid")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("sid")
    )
    tot = ds.groupBy("doc_id").agg(F.count("*").alias("n_spans"))
    dup = ds.join(shared, "sid").groupBy("doc_id").agg(F.count("*").alias("dup_spans"))
    return (
        tot.join(dup, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("dup_spans", F.lit(0)).alias("dup_spans"),
            F.round(
                F.coalesce("dup_spans", F.lit(0)).cast("double") / F.col("n_spans"), 6
            ).alias("dup_frac"),
        )
        .sortWithinPartitions("doc_id")
    )


# ------------------------------------------------------------------
# winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the MOSS
# algorithm): position-robust LOCAL fingerprints. Same detection
# guarantee class as dedup_exact_substr (any shared token run of
# >= WINNOW_K + WINNOW_W - 1 tokens is caught regardless of offset,
# because the min of a hash window fully inside the shared run is the
# same value in every document containing the run) at roughly
# 2/(w+1) of the fingerprint density — the index a plagiarism /
# overlap detector actually stores.
# ------------------------------------------------------------------

WINNOW_K = 5  # tokens per k-gram
WINNOW_W = 4  # windows of consecutive k-gram hashes; guarantee = k+w-1


def _winnow_oracle() -> str:
    gram = (
        "list_transform(range(1, len(ts) - "
        f"{WINNOW_K - 2}), i -> array_to_string(list_slice(ts, CAST(i AS INTEGER), "
        f"CAST(i + {WINNOW_K - 1} AS INTEGER)), ' '))"
    )
    return rf"""
WITH tl AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0) AS ts
  FROM documents
), gh AS (
  SELECT doc_id,
         list_transform({gram},
                        g -> {_oracle_hex_id('g', SPAN_HASH_HEX_DIGITS)}) AS hs
  FROM tl
  WHERE len(ts) >= {WINNOW_K + WINNOW_W - 1}
), fp AS (
  SELECT doc_id,
         len(hs) AS n_grams,
         list_distinct(list_transform(range(1, len(hs) - {WINNOW_W - 2}),
             i -> list_min(list_slice(hs, CAST(i AS INTEGER),
                                      CAST(i + {WINNOW_W - 1} AS INTEGER))))) AS fps
  FROM gh
), ds AS (
  SELECT doc_id, n_grams, unnest(fps) AS fp FROM fp
), shared AS (
  SELECT fp FROM ds GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
), tot AS (
  SELECT doc_id, any_value(n_grams) AS n_grams, count(*) AS n_fps
  FROM ds GROUP BY doc_id
), dup AS (
  SELECT d.doc_id, count(*) AS shared_fps
  FROM ds d JOIN shared s USING (fp)
  GROUP BY d.doc_id
)
SELECT t.doc_id, t.n_grams, t.n_fps,
       coalesce(u.shared_fps, 0) AS shared_fps,
       round(CAST(coalesce(u.shared_fps, 0) AS DOUBLE) / t.n_fps, 6) AS shared_frac
FROM tot t LEFT JOIN dup u USING (doc_id)
ORDER BY doc_id
"""


@register(
    "winnowing_fingerprints",
    oracle=_winnow_oracle(),
    description=f"Winnowing fingerprints (Schleimer-Wilkerson-Aiken "
    f"2003, the MOSS algorithm): {WINNOW_K}-token k-gram hashes, the "
    f"minimum of every window of {WINNOW_W} consecutive hashes is "
    "selected, and each document reports its distinct fingerprint "
    "count, how many fingerprints are shared with other documents, "
    "and the shared fraction. Detection guarantee: any verbatim "
    f"shared run of >= {WINNOW_K + WINNOW_W - 1} tokens selects at "
    "least one common fingerprint in every document containing it "
    "(the window minimum depends only on the run's content), at "
    f"~2/(w+1) the density dedup_exact_substr stores — the index a "
    "plagiarism/overlap detector keeps. Scale notes: k-gram hashing "
    "AND window-min selection are per-row array folds in the scan "
    "projection; only the selected (doc_id, 8-byte fingerprint) rows "
    "are exploded and shuffled; shared-set and join-back reuse the "
    "fingerprint partitioning (same shape as dedup_exact_substr).",
    tags=("dedup", "neardup", "text", "fingerprint"),
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    tok_df = docs.select("doc_id", F.filter(F.split("text", r"\s+"), lambda t: F.length(t) > 0).alias("ts"))
    ts = F.col("ts")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(ts) - F.lit(WINNOW_K - 1)),
        lambda i: F.array_join(F.slice(ts, i, WINNOW_K), " "),
    )
    hs = F.transform(grams, lambda g: _spark_hex_id(g, SPAN_HASH_HEX_DIGITS))
    # short docs get empty fingerprint arrays inside the projection
    # (explode drops them) — a size(ts) filter would be pushed into the
    # FileScan and re-run the tokenize chain per row (plan-lint pinned)
    gh = tok_df.select(
        "doc_id",
        F.when(F.size(ts) >= WINNOW_K + WINNOW_W - 1, hs)
        .otherwise(F.array().cast("array<bigint>"))
        .alias("hs"),
    )
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("hs") - F.lit(WINNOW_W - 1)),
            lambda i: F.array_min(F.slice("hs", i, WINNOW_W)),
        )
    )
    ds = (
        gh.select(
            "doc_id",
            F.size("hs").alias("n_grams"),
            F.explode(
                F.when(F.size("hs") >= WINNOW_W, fps).otherwise(
                    F.array().cast("array<bigint>")
                )
            ).alias("fp"),
        )
        .transform(tracked_persist)
    )
    shared = (
        ds.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("fp")
    )
    tot = ds.groupBy("doc_id").agg(
        F.first("n_grams").alias("n_grams"), F.count("*").alias("n_fps")
    )
    dup = ds.join(shared, "fp").groupBy("doc_id").agg(F.count("*").alias("shared_fps"))
    return (
        tot.join(dup, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            "n_fps",
            F.coalesce("shared_fps", F.lit(0)).alias("shared_fps"),
            F.round(
                F.coalesce("shared_fps", F.lit(0)).cast("double") / F.col("n_fps"), 6
            ).alias("shared_frac"),
        )
        .sortWithinPartitions("doc_id")
    )


@register(
    "dedup_cluster_keep_best",
    oracle=_CC_EDGES_CTE
    + """, comp AS (
  SELECT node AS doc_id, min(r) AS cluster_id
  FROM reach GROUP BY node
), base AS (
  -- one row per (doc_id, n_chars): the duplicate-id fixture keeps both
  -- of its rows, identically in both engines (same contract as the
  -- splitter: NULL ids have no identity to keep or drop)
  SELECT DISTINCT doc_id, n_chars FROM documents WHERE doc_id IS NOT NULL
), assigned AS (
  SELECT b.doc_id, b.n_chars, coalesce(c.cluster_id, b.doc_id) AS cluster_id
  FROM base b LEFT JOIN comp c USING (doc_id)
), rep AS (
  SELECT cluster_id, doc_id AS rep_doc_id FROM (
    SELECT cluster_id, doc_id,
           row_number() OVER (PARTITION BY cluster_id
             ORDER BY coalesce(n_chars, -1) DESC, doc_id) AS rn
    FROM assigned
  ) WHERE rn = 1
)
SELECT a.doc_id, a.cluster_id, a.doc_id = r.rep_doc_id AS keep
FROM assigned a JOIN rep r USING (cluster_id)
ORDER BY doc_id, cluster_id
""",
    description="Quality-aware near-dup cluster collapse — the curation "
    "step after clustering: every jaccard>=0.8 component keeps exactly "
    "one representative, the LONGEST member (coalesce(n_chars,-1) "
    "desc, doc_id tie-break — a min(struct) single aggregate, no "
    "window over the corpus), and every other member is flagged for "
    "drop; singletons keep themselves. Composes the contraction-CC "
    "labels with one doc-count-sized join. The keep rule is the "
    "production default (keep the most complete copy), unlike "
    "dedup_components' min-id canonical or dedup_bag_keep_best's "
    "bag-level collapse.",
    tags=("dedup", "components", "pipeline", "iterative"),
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = _doc_components(spark, sf_dir)
    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", "n_chars")
        .distinct()
    )
    assigned = base.join(comp, "doc_id", "left").select(
        "doc_id",
        "n_chars",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
    )
    rep = assigned.groupBy("cluster_id").agg(
        F.min(
            F.struct(
                (-F.coalesce("n_chars", F.lit(-1))).alias("neg_chars"),
                F.col("doc_id").alias("d"),
            )
        )["d"].alias("rep_doc_id")
    )
    out = (
        assigned.join(rep, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            (F.col("doc_id") == F.col("rep_doc_id")).alias("keep"),
        )
        .orderBy("doc_id", "cluster_id")
    )
    return guard_checkpoint_result(out)


def _verified_pairs_memo(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """Banding-survivor pairs over the 1-in-k eval sample (full corpus
    at k == 1), checkpoint-memoized per (corpus, modulus) — built by
    lsh_recall_report's caught side. When sampling is disengaged
    (k == 1, every driver/correctness session) the k=1 slot holds
    exactly the production banding relation, and the REGISTERED
    dedup_minhash_verified builder opportunistically reuses it via
    peek_result_memo — so a calibration session builds the relation
    ONCE (VERDICT r8 task 6), while a standalone dedup_minhash_verified
    run pays neither the build twice nor the checkpoint's block writes."""

    def build() -> DataFrame:
        docs = _eval_sampled_docs(spark, sf_dir, k) if k > 1 else None
        return _minhash_verified_pairs(spark, sf_dir, docs=docs, sample_k=k)

    return memoized_result_checkpoint(
        "minhash_verified_pairs", _pairs_memo_key(sf_dir, k), build
    )


def _eval_verified_pairs(spark: SparkSession, sf_dir: str, target: int | None = None) -> DataFrame:
    """Banding-survivor pairs over the eval sample — the caught side of
    lsh_recall_report. Identity with dedup_minhash_verified when
    sampling is disengaged (and then literally the same memo slot)."""
    d = _eval_sample_decision(spark, sf_dir, target)
    return _verified_pairs_memo(spark, sf_dir, d["modulus"])


def _lsh_recall_oracle() -> str:
    """Composes the two pair-relation oracle GENERATORS verbatim (same
    rule as ann_recall_report / language_confusion_matrix) — exact
    pairs from _jaccard_pairs_oracle, banding survivors from
    _minhash_verified_oracle — both re-rooted on the eval-sample
    document CTE so the ground-truth cost is bounded at any corpus
    size (identity sample under the target: the registered full-corpus
    oracles are the doc_rel='documents' instantiations of the same
    strings)."""
    exact = _jaccard_pairs_oracle("sampled_documents")
    verified = _minhash_verified_oracle("sampled_documents")
    return f"""
WITH {_eval_sample_ctes()},
ep AS ({exact}),
vp AS ({verified})
SELECT CAST(floor(ep.jaccard * 20) AS BIGINT) AS j_bucket,
       CAST(floor(ep.jaccard * 20) AS BIGINT) / 20.0 AS bucket_lo,
       count(*) AS n_true_pairs,
       CAST(sum(CASE WHEN vp.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_caught,
       CAST(round(CAST(sum(CASE WHEN vp.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                       * 1.0 / count(*) AS DECIMAL(30,12)), 4)
            AS DOUBLE) AS recall
FROM ep
LEFT JOIN vp ON ep.doc_a = vp.doc_a AND ep.doc_b = vp.doc_b
GROUP BY 1, 2
ORDER BY j_bucket
"""


@register(
    "lsh_recall_report",
    oracle=_lsh_recall_oracle(),
    description="LSH banding recall by true-similarity bucket: every "
    "exact Jaccard >= 0.8 pair (dedup_jaccard_pairs — ground truth) "
    "bucketed at 0.05 grain and left-joined against the pairs the "
    "cross-engine MinHash banding catches (dedup_minhash_verified), "
    "reporting per-bucket recall. This is the LSH S-curve measured on "
    "the actual corpus — P(caught | J) climbing toward 1 as J "
    "approaches 1 — the number that justifies the (8 bands × 2 rows) "
    "geometry before trusting it on 100 TB. Composes both pair "
    "builders unchanged over the eval-sample document set: past "
    "EVAL_SAMPLE_TARGET_DOCS documents both sides restrict to the "
    "deterministic md5-uniform sample (recall restricted to sampled "
    "pairs is an unbiased estimate — banding survival is pair-local, "
    "so the restriction commutes with the measurement); under the "
    "target the sample is the identity and the curve is exact. Both "
    "pair relations are checkpoint-memoized, so a calibration session "
    "running the sweep + this report pays the pair build once.",
    tags=("dedup", "minhash", "lsh", "report", "aggregate"),
)
def lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = _eval_pairs(spark, sf_dir).select("doc_a", "doc_b", "jaccard")
    caught = _eval_verified_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("c_a"), F.col("doc_b").alias("c_b")
    )
    joined = exact.join(
        caught,
        (exact["doc_a"] == caught["c_a"]) & (exact["doc_b"] == caught["c_b"]),
        "left",
    )
    bucket = F.floor(F.col("jaccard") * 20).cast("bigint")
    hit = F.sum(F.when(F.col("c_a").isNotNull(), 1).otherwise(0))
    out = (
        joined.groupBy(
            bucket.alias("j_bucket"), (bucket / 20.0).alias("bucket_lo")
        )
        .agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            hit.cast("bigint").alias("n_caught"),
            F.round((hit * 1.0 / F.count(F.lit(1))).cast("decimal(30,12)"), 4)
            .cast("double")
            .alias("recall"),
        )
        .orderBy("j_bucket")
    )
    # reads both memoized pair checkpoints — stale-handle fail-fast
    return guard_checkpoint_result(out)


def _incremental_neardup_oracle() -> str:
    """dedup_minhash_verified's oracle with the candidate join
    restricted to (batch side) × (corpus side): x must be a new-batch
    document, y an existing-corpus one — no corpus-corpus or
    batch-batch pairs are ever materialized."""
    return _minhash_verified_oracle(
        cand="""FROM sig x
  JOIN sideof sx ON x.doc_id = sx.doc_id AND sx.is_batch = 1
  JOIN sig y ON ({band_pred})
  JOIN sideof sy ON y.doc_id = sy.doc_id AND sy.is_batch = 0""",
        names=("batch_doc_id", "corpus_doc_id"),
        sides=f""", sideof AS (
  -- a duplicated doc_id spanning both sides counts as batch (max):
  -- deterministic and identical in both engines
  SELECT doc_id,
         max(CASE WHEN source = '{_INC_BATCH_SOURCE}' THEN 1 ELSE 0 END)
             AS is_batch
  FROM documents GROUP BY doc_id
)""",
    )


#: the ingest-batch marker shared with dedup_incremental_batch /
#: streaming_incremental_admission (operators/corpus_ops.py)
_INC_BATCH_SOURCE = "src19"


@register(
    "dedup_incremental_neardup",
    oracle=_incremental_neardup_oracle(),
    description="Incremental NEAR-dup admission: MinHash banding "
    "between a new ingest batch (source 'src19' — the marker "
    "dedup_incremental_batch and streaming_incremental_admission "
    "already use) and the existing corpus, exact-Jaccard-verified at "
    ">= 0.8. The near-dup analog of the exact-hash incremental batch "
    "dedup: a daily crawl is checked against the standing corpus "
    "WITHOUT ever materializing corpus-corpus pairs — the banding "
    "join is batch-side × corpus-side only, so per-ingest cost scales "
    "with the batch's bucket overlap, not the corpus pair count. Same "
    "cross-engine modular hash family as dedup_minhash_verified, so "
    "the banding decision itself is oracle-checked.",
    tags=("dedup", "neardup", "minhash", "lsh", "incremental", "pipeline"),
)
def dedup_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a duplicated doc_id spanning both sides counts as batch (max), as
    # in the oracle's sideof CTE
    sigs, bands = _minhash_bands(
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "source"),
        F.max(
            F.when(F.col("source") == _INC_BATCH_SOURCE, F.lit(1)).otherwise(F.lit(0))
        ).alias("is_batch"),
    )
    # asymmetric banding join: new-batch docs probe the corpus side
    # only (each side's filter pushes below the join)
    return _banded_verified_pairs(
        sf_dir, sigs, bands,
        (F.col("x.is_batch") == 1) & (F.col("y.is_batch") == 0),
        "incremental_tids", ("batch_doc_id", "corpus_doc_id"),
    )
