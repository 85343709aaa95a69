"""Pair scoring + rule-based matching (reference src/similarity.py:47-74).

Operates on a prefixed pair DataFrame (columns ``a_authors``,
``a_title``, ``a_num_authors``, ``a_venue`` and the ``b_*`` twins; the
side names are ``sources.io.LEFT``/``RIGHT``).
The filter order — author-count agreement first, then venue agreement, then
Levenshtein band, then the match rule, then Jaccard — is the reference's
manual expression ordering with the rule's shared ``num_authors`` equality
hoisted to the front: every band of the rule requires it, so it drops only
pairs the rule drops, and as an equality between the two sides Catalyst
makes it a key of the blocked join instead of a post-join filter. Since
each filter precedes the projection it depends on, Catalyst preserves the
cheap-before-expensive evaluation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.similarity import both_contain, match_rule, token_jaccard
from ..sources.io import LEFT, RIGHT

DEFAULT_VENUES = ["sigmod", "vldb"]
SCORE_COL = "scores"
JACCARD_COL = "title_jaccard_sim"


def score_and_match(
    pairs: DataFrame,
    venues: list[str] | None = None,
    max_levenshtein: int = 10,
    min_jaccard: float = 0.6,
) -> DataFrame:
    """Filter author-count- and venue-agreeing pairs, score author
    Levenshtein (-> ``scores``), apply the three-band rule, score title
    Jaccard (-> ``title_jaccard_sim``) and keep pairs above threshold."""
    l, r = LEFT, RIGHT
    venues = DEFAULT_VENUES if venues is None else venues

    same_venue = both_contain(f"{l}_venue", f"{r}_venue", venues)
    # bounded levenshtein: the band filter below keeps scores in
    # [0, max_levenshtein), so the DP can early-exit at max_levenshtein - 1
    # (distances past the bound report -1 and are filtered) — same kept
    # rows and score values, substantially less work on long author strings
    scores = F.levenshtein(f"{l}_authors", f"{r}_authors", max_levenshtein - 1)

    same_n_authors = F.col(f"{l}_num_authors") == F.col(f"{r}_num_authors")
    scored = (
        pairs.filter(same_n_authors)
        .filter(same_venue)
        .withColumn(SCORE_COL, scores)
        .filter(F.col(SCORE_COL) >= 0)
        .filter(
            match_rule(SCORE_COL, f"{l}_num_authors", f"{r}_num_authors", max_levenshtein)
        )
    )
    return scored.withColumn(
        JACCARD_COL, token_jaccard(f"{l}_title", f"{r}_title")
    ).filter(F.col(JACCARD_COL) >= min_jaccard)


def deletion_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str] | None = None,
    max_length: int = 64,
) -> DataFrame:
    """Candidate pairs at Levenshtein distance <= 1 via deletion-
    neighborhood indexing (the SymSpell/FastSS family): every string
    emits itself plus each single-character-deletion variant; two
    strings within edit distance 1 MUST share a variant (substitution
    at p -> both delete p; indel -> the shorter IS a deletion variant
    of the longer; equality -> the identity variant), so the candidate
    scan is ONE equi-join on (block..., variant) instead of an all-pairs
    block scan with a per-pair DP.

    Scale shape: |rows| x (len+1) exploded keys, hash-partitioned by
    variant — linear in corpus size where the blocked self-join is
    quadratic in block size. Collisions beyond distance 1 (equal-length
    strings sharing a variant through repeated-character runs sit at
    distance 2) are possible, so callers verify with one bounded
    ``levenshtein(a, b, 1)`` over the (small) candidate set — exact
    semantics, a fraction of the DP work.

    Emits each unordered candidate pair exactly once, with
    ``a_id < b_id``: a pair sharing several variants (identical strings
    share them all; character-run deletions coincide) is admitted only
    at the lexicographically smallest shared variant — a per-row
    ``array_intersect`` over ~len-sized arrays instead of a distinct()
    shuffle (the MinHash-band admission idea, adapted because an indel
    pair's shared variant sits at DIFFERENT deletion indices on the two
    sides, so positional first-collision logic does not apply).
    ``max_length`` caps the explosion factor by comparing only the first
    ``max_length`` characters of each string — distances are then over
    the truncated prefixes (identical-prefix long strings pair even if
    their tails differ). Raise it, or use the general LSH path, when
    full-string distance on long strings matters.
    """
    block_cols = block_cols or []
    s = F.col("__s")
    variants = F.concat(
        F.array(s),  # identity: equality and indel pairs collide here
        F.transform(
            F.sequence(F.lit(1), F.length(s)),
            lambda i: F.concat(
                F.substring(s, F.lit(1), i - 1),
                s.substr(i + 1, F.length(s)),
            ),
        ),
    )
    # build the neighborhood over affix-stripped middles — lev<=1 is
    # invariant under the block's shared prefix/suffix, and on
    # id-styled corpora the strip cuts
    # both the variant count (len+1 per row, e.g. 19 -> 6) and every
    # variant's key size. Strip AFTER the max_length truncation so the
    # truncated-prefix semantics documented above are unchanged.
    pre = df.select(
        F.col(id_col).alias("__id"),
        F.col(text_col).substr(1, max_length).alias("__raw"),
        *block_cols,
    )
    # the strip is per-BLOCK when blocked (heterogeneous id styles
    # in different blocks each strip their own affixes; the global form
    # would see prefix 0 across styles), global otherwise. Exactness is
    # per-pair: a pair shares a block, hence its block's affixes.
    if block_cols:
        stripped = strip_common_affixes_by_block(
            pre, "__raw", block_cols, out_col="__s"
        )
    else:
        mid, _p, _sx = strip_common_affixes(pre, "__raw")
        stripped = pre.withColumn("__s", mid)
    base = stripped.select(
        "__id",
        "__s",
        *block_cols,
    ).select(
        "__id",
        "__s",
        *block_cols,
        F.array_distinct(variants).alias("__keys"),
    )
    exploded = base.select(
        "__id", "__s", *block_cols, "__keys",
        F.explode("__keys").alias("__key"),
    )
    a = exploded.select(
        F.col("__id").alias("a_id"), F.col("__s").alias("a_s"),
        F.col("__keys").alias("a_keys"), "__key", *block_cols,
    )
    b = exploded.select(
        F.col("__id").alias("b_id"), F.col("__s").alias("b_s"),
        F.col("__keys").alias("b_keys"), "__key", *block_cols,
    )
    first_shared = F.array_min(F.array_intersect("a_keys", "b_keys"))
    return (
        a.join(b, on=[*block_cols, "__key"])
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(F.col("__key") == first_shared)
        .filter(F.levenshtein("a_s", "b_s", 1) >= 0)
        .select(F.col("a_id"), F.col("b_id"), *block_cols)
    )


def strip_common_affixes(
    df: DataFrame, text_col: str
) -> tuple[Column, int, int]:
    """Corpus-global common prefix/suffix of ``text_col`` and the
    column expression selecting the variable middle.

    Levenshtein is invariant under shared affixes — ``lev(P·x·S,
    P·y·S) = lev(x, y)`` (the DP's leading rows and trailing columns
    are forced matches) — and every row shares the CORPUS-global
    affixes: for any t, min <= t <= max lexicographically, and two
    ordered strings sharing a prefix bound every string between them
    to it (suffixes via the reversed column). So a pairwise distance
    scan may run its DP on the stripped middles and return identical
    distances for every pair, at a fraction of the per-pair work on
    id-styled corpora ('Customer#000010139': 18-char DP -> 5-char DP).

    One scalar aggregation (min/max of the column and its reverse plus
    the min length — the same driver-side plan-build collect class as
    mix_sources' K-row rates). NOTE for callers: that aggregation is an
    EAGER plan-build action, so the input's upstream plan is evaluated
    one extra time before the real job — cache/materialize ``df`` first
    when its plan is expensive. A streaming DataFrame cannot run the
    aggregate at build time and is returned unstripped (the strip is an
    optimization, never a semantics change). The affix lengths are
    clamped so ``prefix + suffix <= min(length)``: the middle
    expression is then in range for every row. Returns ``(middle_col,
    prefix_len, suffix_len)``; an empty or all-null corpus returns the
    column unstripped. For corpora whose id style varies BY BLOCK, see
    :func:`strip_common_affixes_by_block`.
    """
    if df.isStreaming:
        return F.col(text_col), 0, 0

    def _lcp(x: str, y: str) -> int:
        n = 0
        for ca, cb in zip(x, y):
            if ca != cb:
                break
            n += 1
        return n

    row = df.agg(
        F.min(text_col).alias("mn"), F.max(text_col).alias("mx"),
        F.min(F.reverse(F.col(text_col))).alias("rmn"),
        F.max(F.reverse(F.col(text_col))).alias("rmx"),
        F.min(F.length(text_col)).alias("lmin"),
    ).first()
    if row is None or row.mn is None:
        return F.col(text_col), 0, 0
    p = _lcp(row.mn, row.mx)
    s = _lcp(row.rmn, row.rmx)
    if p + s > row.lmin:
        s = max(0, row.lmin - p)
    if p == 0 and s == 0:
        return F.col(text_col), 0, 0
    ln = F.length(text_col)
    return (
        F.col(text_col).substr(F.lit(p + 1), ln - F.lit(p) - F.lit(s)),
        p,
        s,
    )


def strip_common_affixes_by_block(
    df: DataFrame,
    text_col: str,
    block_cols: list[str],
    out_col: str = "__mid",
    max_affix: int = 4096,
) -> DataFrame:
    """Per-BLOCK shared prefix/suffix strip: ``out_col`` holds
    ``text_col`` with its block's common prefix/suffix removed.

    The corpus-global :func:`strip_common_affixes` degrades to a no-op
    on corpora mixing id styles (``Customer#...`` in one block,
    ``Supplier#...`` in another: global prefix 0). Blocked pair scans
    only ever compare WITHIN a block, and Levenshtein is invariant
    under the pair's shared affixes, so the strip may be per-block: one
    ``groupBy(block_cols).agg(min/max, min/max of reverse, min length)``
    (map-side partial, |blocks| result rows) instead of the global
    scalar aggregate, the per-block LCPs computed as column expressions
    over that tiny result (no driver round-trip per block), and the
    |blocks|-row affix table broadcast-joined back onto the rows.

    The affix table is NOT materialized: although a downstream self-join
    carries this subtree once per side in the logical plan, AQE stage
    reuse dedupes it at execution, and each materialization (an eager
    checkpoint, a driver-side collect) costs a plan-build action that
    measured more than the whole in-plan overhead
    (OPTIMIZATION_r13.md). A streaming input is returned unstripped
    (the strip is an optimization, never a semantics change). Rows whose
    block key is NULL are dropped — they can never appear in a blocked
    pair, which is exactly how every blocked join downstream treats
    them. ``max_affix`` caps the per-block LCP probe (claiming a
    shorter-than-true shared prefix is always safe; the clamp
    ``p + s <= min(length)`` keeps the middle in range for every row).
    """
    if df.isStreaming:
        return df.withColumn(out_col, F.col(text_col))
    if not block_cols:
        mid, _p, _s = strip_common_affixes(df, text_col)
        return df.withColumn(out_col, mid)

    def _lcp(a: Column, b: Column) -> Column:
        ml = F.least(F.least(F.length(a), F.length(b)), F.lit(max_affix))
        first_diff = F.array_min(
            F.filter(
                F.sequence(F.lit(1), ml),
                lambda i: a.substr(i, F.lit(1)) != b.substr(i, F.lit(1)),
            )
        )
        return F.when(ml <= 0, F.lit(0)).otherwise(
            F.coalesce(first_diff - 1, ml)
        )

    agg = df.groupBy(*block_cols).agg(
        F.min(text_col).alias("__mn"),
        F.max(text_col).alias("__mx"),
        F.min(F.reverse(F.col(text_col))).alias("__rmn"),
        F.max(F.reverse(F.col(text_col))).alias("__rmx"),
        F.min(F.length(text_col)).alias("__lmin"),
    )
    p0 = F.coalesce(_lcp(F.col("__mn"), F.col("__mx")), F.lit(0))
    s0 = F.coalesce(_lcp(F.col("__rmn"), F.col("__rmx")), F.lit(0))
    lm = F.coalesce(F.col("__lmin"), F.lit(0))
    s1 = F.when(p0 + s0 > lm, F.greatest(F.lit(0), lm - p0)).otherwise(s0)
    aff = agg.select(
        *block_cols, p0.alias("__affix_p"), s1.alias("__affix_s")
    )
    ln = F.length(text_col)
    return (
        df.join(F.broadcast(aff), on=block_cols)
        .withColumn(
            out_col,
            F.col(text_col).substr(
                F.col("__affix_p") + 1,
                ln - F.col("__affix_p") - F.col("__affix_s"),
            ),
        )
        .drop("__affix_p", "__affix_s")
    )


def blocked_levenshtein_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str] | None = None,
    max_distance: int = 2,
) -> DataFrame:
    """All pairs within ``max_distance`` Levenshtein distance inside
    each block: the blocked self-join with a length-band prune and a
    bounded early-exit DP, running the DP on affix-stripped middles
    (per-block :func:`strip_common_affixes_by_block` when blocked,
    corpus-global :func:`strip_common_affixes` otherwise) — exact
    distances, identical pair set, and on id-styled corpora most of
    the per-pair DP work gone.

    Plan shape: one equi-join on the block keys; the length band
    (``|len(a) - len(b)| <= max_distance``, implied by the distance
    bound) rejects at codegen speed before the DP; the bounded DP
    early-exits once the distance provably exceeds ``max_distance``.
    Deliberately NOT candidate-pruned beyond that: on dense-match
    corpora the output approaches the candidate count, so key-based
    candidate generation only adds explode/dedup/re-join machinery on
    top of pairs that must be verified anyway. For SPARSE
    ed-1 matching use :func:`deletion_neighborhood_pairs`.

    Returns ``(a_id, b_id, scores)`` with ``a_id < b_id`` and
    ``scores`` the exact full-string distance.
    """
    block_cols = list(block_cols or [])
    # per-block strip when blocked (see deletion_neighborhood_pairs
    # — a pair always shares its block's affixes), global otherwise
    if block_cols:
        base = strip_common_affixes_by_block(
            df.select(
                F.col(id_col).alias("__id"),
                F.col(text_col).alias("__raw"),
                F.length(text_col).alias("__len"),
                *block_cols,
            ),
            "__raw", block_cols, out_col="__t",
        ).select("__id", "__t", "__len", *block_cols)
    else:
        mid, _p, _s = strip_common_affixes(df, text_col)
        base = df.select(
            F.col(id_col).alias("__id"),
            mid.alias("__t"),
            F.length(text_col).alias("__len"),
            *block_cols,
        )
    a = base.select(
        F.col("__id").alias("a_id"), F.col("__t").alias("a_t"),
        F.col("__len").alias("a_len"), *block_cols,
    )
    b = base.select(
        F.col("__id").alias("b_id"), F.col("__t").alias("b_t"),
        F.col("__len").alias("b_len"), *block_cols,
    )
    return (
        a.join(b, on=block_cols) if block_cols else a.crossJoin(b)
    ).filter(
        (F.col("a_id") < F.col("b_id"))
        & (F.abs(F.col("a_len") - F.col("b_len")) <= max_distance)
    ).withColumn(
        "scores",
        F.levenshtein("a_t", "b_t", max_distance).cast("bigint"),
    ).filter(F.col("scores") >= 0).select("a_id", "b_id", "scores")
