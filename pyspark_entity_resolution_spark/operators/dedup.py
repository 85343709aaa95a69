"""Deduplication operators for large-scale training-data pipelines.

Four families, all expressed as declarative DataFrame plans that scale to
100 TB:

- **exact**: hash-groupBy on a normalized fingerprint — one shuffle keyed
  by the fingerprint; skew-safe (identical docs hash to one key, AQE
  splits pathological groups).
- **MinHash + LSH**: shingle -> k md5-minhashes -> band buckets ->
  equi-join on (band, bucket) — candidate generation is a self equi-join
  on the band key, NOT an O(n²) cross join. md5 is used as the hash family
  (seeded by prefixing the seed index) because it is bit-identical across
  engines, making the whole pipeline oracle-checkable.
- **SimHash**: 64-bit signed-sum signature over token md5 bits; near-dup
  candidates share one of four 16-bit chunks (Hamming<=3-by-pigeonhole
  style banding).
- **n-gram Jaccard**: exact shingle Jaccard verification (character or
  whitespace-token k-grams) over blocked pairs (default), or
  AllPairs/PPJoin prefix-filtered candidates for selective vocabularies
  (token shingles are that regime).

Pair-verification stages intersect 64-bit hash arrays instead of string
arrays whenever a planning-time certificate proves ``xxhash64`` is
injective on the corpus's gram/token vocabulary (:func:`_hash_injective`)
— exactly the same result, about half the per-pair cost.

All hashing/scoring is JVM-side expression work; the only shuffles are the
group-bys/joins that the algorithms fundamentally require.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import char_shingles, fingerprint_md5, tokens, word_shingles

HEX = "0123456789abcdef"


def _size_band(a: str, b: str, threshold: float) -> Column:
    """Set sizes ``a`` and ``b`` within the factor a Jaccard of at least
    ``threshold`` allows: jaccard >= t forces |A| >= t|B| and
    |B| >= t|A| (intersection <= min, union >= max). A prefilter only —
    the exact ``jaccard >= threshold`` decides — so it compares against
    :func:`_below_product`."""
    return (F.col(a) >= _below_product(threshold, F.col(b))) & (
        F.col(b) >= _below_product(threshold, F.col(a))
    )


def _below_product(threshold: float, n: Column) -> Column:
    """``threshold * n`` shaved by a relative 1e-12, so float rounding can
    never lift it above the exact product (``0.55 * 100`` evaluates to
    ``55.00000000000001``, which would drop a pair at exactly the
    threshold). Bounds built on it are conservative."""
    return F.lit(threshold * (1 - 1e-12)) * n


# ------------------------------------------------------------- exact --

def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Group identical (whitespace-normalized) texts.

    Returns ``(fingerprint, n_copies, representative)`` with the MIN id as
    deterministic representative. One hash-shuffle on the fingerprint.
    """
    from ..functions.text import WS_CLASS

    normalized = F.trim(F.regexp_replace(F.col(text_col), WS_CLASS + "+", " "))
    return (
        df.select(F.md5(normalized).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("representative"),
        )
    )


# ------------------------------------------------------- minhash/LSH --

# modulus for the double-hashed permutation family: largest prime < 2^32
MINHASH_PRIME = 4294967291

# sub-bucket count for salting the ingest matchers' row-amplifying band
# joins (incremental_minhash_matches here, incremental_embedding_matches
# in ann.py): a dense corpus's top band buckets can hold ~half the docs,
# so hashing by band key alone sends a mega-bucket's whole fan-out to
# one task. 8 splits the worst task ~8x while replicating only the slim
# (id + band scalars) arriving rows 8x — bounded by batch size, never
# corpus size.
_BAND_SALTS = 8


def minhash_token_hashes(toks: Column) -> Column:
    """ONE md5 per distinct token, split into two 32-bit halves (h1, h2).

    The k permutations are derived from these by Kirsch-Mitzenmacher
    double hashing (``h_i = h1 + i*h2 mod p``) — k-wise ~uniform for
    MinHash purposes at 1/k-th the hash cost of k independent md5 calls.
    Deterministic, seedless, and engine-portable (DuckDB computes the
    identical halves). Materialize this as a REAL COLUMN (its own
    projection) before building signatures: the md5 work then runs once,
    not once per permutation, and Catalyst's CollapseProject keeps
    non-cheap producing expressions un-inlined.
    """
    return F.transform(
        F.array_distinct(toks),
        lambda t: F.struct(
            F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint").alias("h1"),
            F.conv(F.substring(F.md5(t), 9, 8), 16, 10).cast("bigint").alias("h2"),
        ),
    )


def minhash_signature(hs: Column, num_hashes: int) -> Column:
    """k-permutation MinHash signature (array of bigint minima) over the
    (h1, h2) token-hash column from ``minhash_token_hashes``. Each
    permutation is a cheap modular combination — no further hashing."""
    return F.array(
        *[
            F.array_min(
                F.transform(
                    hs,
                    lambda s: (s["h1"] + F.lit(i) * s["h2"]) % F.lit(MINHASH_PRIME),
                )
            )
            for i in range(num_hashes)
        ]
    )


def minhash_band_keys(sig: Column, bands: int, rows_per_band: int) -> Column:
    """LSH band buckets: md5 of each band's comma-joined signature rows
    (numeric minima need a separator to stay prefix-unambiguous)."""
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",", F.slice(sig, j * rows_per_band + 1, rows_per_band)
                )
            )
            for j in range(bands)
        ]
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 3,
) -> DataFrame:
    """Candidate near-duplicate pairs: ids sharing at least one LSH band
    bucket. Plan shape: project signatures -> checkpoint -> explode bands
    -> self equi-join on (band_idx, band_key), each pair admitted exactly
    once.

    Three deliberate scale choices:

    - The signature pipeline runs in STAGED projections: one md5 per
      distinct token into a (h1, h2) column, then the k permutation
      minima as cheap modular math over that column
      (Kirsch-Mitzenmacher). Keeping the token hashes as a real column
      stops the per-permutation transform from re-inlining (and thus
      re-computing) the md5 work k times.
    - The banded projection is ``localCheckpoint``-ed before the
      self-join, so the signature work runs once instead of once per
      join side. The checkpointed rows are tiny (id + band key), not
      the documents.
    - No ``distinct()``: a true near-dup pair collides in MANY bands
      (often all of them), so the naive plan pushes a bands-x-inflated
      pair stream through a dedup shuffle. Instead each pair is admitted
      only at its FIRST colliding band — the join filter checks that no
      earlier band key matches — making the output exactly-once by
      construction with a cheap per-row array comparison instead of a
      full shuffle (same trick as the ER blocking join, operators/
      blocking.py).
    """
    banded = minhash_banded(df, id_col, text_col, num_hashes, bands)
    return candidates_from_banded(banded, id_col, bands)


def minhash_banded(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 3,
) -> DataFrame:
    """The banded projection feeding every MinHash-LSH consumer:
    ``(id_col, k0..k{bands-1}, band_idx, band_key)`` — one exploded row
    per (document, band) carrying ALL of the document's band keys as
    flattened scalars for first-colliding-band admission — eagerly
    ``localCheckpoint``-ed. It stands apart from
    :func:`minhash_lsh_candidates` so one computation can serve the pair
    self-join AND the ingest paths: an accepted-subset filter of these
    rows IS ``minhash_corpus_index`` of that subset (band keys are
    per-document), and an arriving-subset filter is the probe side."""
    rows_per_band = num_hashes // bands
    # lazy checkpoints as PROJECTION BARRIERS: without them Catalyst's
    # CollapseProject folds the three stages into one and re-inlines
    # `hs` into all k permutation transforms and `sig` into every band
    # key — recomputing the md5 pass k times and the permutation pass
    # bands times. The barriers pin
    # each stage's output as a real column; everything materializes in
    # the single eager checkpoint below.
    hashed = df.select(
        F.col(id_col), minhash_token_hashes(tokens(F.col(text_col))).alias("hs")
    ).localCheckpoint(eager=False)
    sig = minhash_signature(F.col("hs"), num_hashes)
    with_sig = hashed.select(F.col(id_col), sig.alias("sig")).localCheckpoint(
        eager=False
    )
    keys = minhash_band_keys(F.col("sig"), bands, rows_per_band)

    # band keys FLATTENED to one scalar column per band (bands is a plan
    # constant): the admission filter below then unrolls to plain string
    # equality in whole-stage codegen, allocating no array per join row.
    # barrier so the md5 band-key array is computed once, not once per
    # element_at extraction below
    keyed = with_sig.select(F.col(id_col), keys.alias("keys")).localCheckpoint(
        eager=False
    )
    return keyed.select(
        F.col(id_col),
        *[F.element_at("keys", j + 1).alias(f"k{j}") for j in range(bands)],
        F.posexplode("keys").alias("band_idx", "band_key"),
    ).localCheckpoint()


def candidates_from_banded(
    banded: DataFrame, id_col: str = "doc_id", bands: int = 3
) -> DataFrame:
    """The self equi-join + first-colliding-band admission over a
    :func:`minhash_banded` projection (split from
    :func:`minhash_lsh_candidates`, identical plan and rows)."""
    a = banded.select(
        F.col(id_col).alias("a_id"),
        *[F.col(f"k{j}").alias(f"a_k{j}") for j in range(bands)],
        "band_idx", "band_key",
    )
    b = banded.select(
        F.col(id_col).alias("b_id"),
        *[F.col(f"k{j}").alias(f"b_k{j}") for j in range(bands)],
        "band_idx", "band_key",
    )
    # a pair sharing several bands is admitted only at its FIRST shared
    # band: the join row at band_idx i survives iff no band j < i also
    # collided
    earlier_band_collides = F.lit(False)
    for j in range(bands - 1):
        earlier_band_collides = earlier_band_collides | (
            (F.col("band_idx") > F.lit(j))
            & (F.col(f"a_k{j}") == F.col(f"b_k{j}"))
        )
    return (
        a.join(b, on=["band_idx", "band_key"])
        .filter((F.col("a_id") < F.col("b_id")) & ~earlier_band_collides)
        .select("a_id", "b_id")
    )


def jaccard_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hashed: bool | None = None,
) -> DataFrame:
    """Per-document distinct-token verification profile ``(id_col, toks,
    nt)`` — the projection :func:`verify_token_jaccard` builds
    internally, exposed so a pack computing SEVERAL verification
    stages over one corpus (pair verify + ingest verify) tokenizes each
    document once instead of once per stage. ``hashed=None`` runs the
    :func:`_hash_injective` certificate and stores 64-bit token hashes
    when it holds (provably the same jaccard downstream)."""
    toks = F.array_distinct(tokens(F.col(text_col)))
    if hashed is None:
        hashed = _hash_injective(df, toks)
    vt = F.transform(toks, lambda t: F.xxhash64(t)) if hashed else toks
    return df.select(F.col(id_col), vt.alias("toks"), F.size(vt).alias("nt"))


def verify_token_jaccard(
    candidates: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    hashed: bool | None = None,
    profile: DataFrame | None = None,
) -> DataFrame:
    """Join candidate pairs back to texts and keep pairs whose exact
    distinct-token Jaccard clears the threshold.

    Set sizes are computed once per document before the pair join, so the
    per-pair work is a single ``array_intersect``:
    ``|A ∪ B| = |A| + |B| - |A ∩ B|`` for the deduplicated arrays. At
    millions of candidate pairs this halves the dominant per-pair array
    cost versus a second ``array_union`` pass (values are bit-identical).

    ``hashed=None`` (default) runs the :func:`_hash_injective`
    planning-time certificate and, when it holds (always, in practice),
    intersects 64-bit token-hash arrays instead of string arrays —
    provably the same jaccard, about half the per-pair cost. Pass False
    to force string verification, or
    True when the caller has already certified this corpus's vocabulary.

    ``profile=``: pass a :func:`jaccard_profile` of ``df`` to
    reuse one tokenization across several verification stages (the
    caller owns any checkpoint barrier on it); ``df``/``text_col``/
    ``hashed`` are then ignored for side-building.
    """
    sides = (
        profile if profile is not None
        else jaccard_profile(df, id_col, text_col, hashed)
    )
    a = sides.select(
        F.col(id_col).alias("a_id"), F.col("toks").alias("a_toks"),
        F.col("nt").alias("a_nt"),
    )
    b = sides.select(
        F.col(id_col).alias("b_id"), F.col("toks").alias("b_toks"),
        F.col("nt").alias("b_nt"),
    )
    inter = F.size(F.array_intersect("a_toks", "b_toks"))
    jac = F.try_divide(
        inter.cast("double"), F.col("a_nt") + F.col("b_nt") - inter
    )
    # size-band prefilter, implied by the threshold: pairs outside the
    # band skip the expensive per-pair array_intersect. Result set
    # provably unchanged.
    size_band = _size_band("a_nt", "b_nt", threshold)
    return (
        candidates.join(a, on="a_id")
        .join(b, on="b_id")
        .filter(size_band)
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """LSH candidates + exact-Jaccard verification (the standard
    generate-then-verify near-dup pipeline)."""
    cands = minhash_lsh_candidates(df, id_col, text_col, num_hashes, bands)
    return verify_token_jaccard(cands, df, id_col, text_col, threshold)


# ----------------------------------------------------------- simhash --

def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash-hex) per document — the scalable plan.

    A single scalar expression (nested transform/aggregate over the token
    array) would inline the token-md5 array into all 64 bit-sums: md5
    recomputed 64x and an expression tree past codegen limits.
    Instead: explode tokens once, compute the 16
    md5 nibbles per token, and fold the 64 signed bit-sums in ONE hash
    aggregate with map-side partial aggregation — the shape that scales.
    """
    toks = df.select(
        F.col(id_col), F.explode_outer(tokens(F.col(text_col))).alias("tok")
    )
    # one F.expr parse per aggregate (and ONE for the whole final
    # projection) instead of composing ~9,000 py4j calls column-by-
    # column: the SQL text parses to the identical Catalyst tree (same
    # conv/shiftright/CASE shapes) at a fraction of the plan-build time
    # (the same batching the vector builders in functions/vectors.py use)
    def _contrib_sql(p: int) -> str:
        nib = (f"cast(conv(substring(md5(tok), {p // 4 + 1}, 1), 16, 10) "
               "as int)")
        return (f"sum(cast((((shiftright({nib}, {3 - p % 4}) & 1) * 2) - 1) "
                f"as bigint)) AS s{p}")

    sums = toks.groupBy(id_col).agg(
        F.expr(_contrib_sql(0)), *[F.expr(_contrib_sql(p)) for p in range(1, 64)]
    )

    def _bit_sql(p: int) -> str:
        return f"(CASE WHEN s{p} > 0 THEN 1 ELSE 0 END)"

    hex_chars = [
        f"substring('{HEX}', cast(({_bit_sql(4 * i)} * 8 + {_bit_sql(4 * i + 1)}"
        f" * 4 + {_bit_sql(4 * i + 2)} * 2 + {_bit_sql(4 * i + 3)} + 1) as int),"
        " 1)"
        for i in range(16)
    ]
    simhash = F.expr(f"concat({', '.join(hex_chars)})").alias("simhash")
    return sums.select(F.col(id_col), simhash)


def simhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    length_band: bool = True,
) -> DataFrame:
    """Near-duplicate candidates: pairs sharing at least one of the four
    16-bit simhash chunks (4-char hex slices) — pigeonhole guarantee for
    Hamming distance <= 3. Equi-join on (chunk_idx, chunk).

    A 16-bit chunk bounds the bucket space at 2^16 values, so at billions
    of documents each bucket holds O(n/65k) rows and the within-bucket
    pairing turns near-quadratic. ``length_band=True`` (default) composes
    the join key with a log2 token-count band to re-shard those buckets:
    one side probes its own band plus both neighbors, so any pair whose
    token counts are within ~2x of each other (every realistic simhash
    near-dup; wildly different-length docs differ in far more than 3
    bits) is still generated, while the bucket key space scales with
    document-length diversity. Set False for the raw pigeonhole contract.
    """
    sigs = simhash_signatures(df, id_col, text_col)
    if length_band:
        n_toks = df.select(
            F.col(id_col), F.size(tokens(F.col(text_col))).alias("__nt")
        )
        band = F.floor(F.log2(F.col("__nt") + 2)).cast("int")
        sigs = sigs.join(n_toks, on=id_col).withColumn("band", band)
    chunk_arr = F.array(*[F.substring("simhash", 1 + 4 * i, 4) for i in range(4)])
    # checkpoint: the signature aggregate feeds both self-join sides; the
    # checkpointed rows are (id, 16-char sig, 4 chunks), not the documents
    chunks = sigs.select(
        F.col(id_col),
        "simhash",
        *(["band"] if length_band else []),
        F.posexplode(chunk_arr).alias("chunk_idx", "chunk"),
    ).localCheckpoint()
    join_keys = ["chunk_idx", "chunk"]
    a = chunks.select(
        F.col(id_col).alias("a_id"), F.col("simhash").alias("a_sim"),
        *(["band"] if length_band else []), "chunk_idx", "chunk",
    )
    if length_band:
        # probe own band +- 1 on one side only: a pair lands in exactly one
        # (band_a, probe) combination per shared chunk
        b_base = chunks.select(
            F.col(id_col).alias("b_id"), F.col("simhash").alias("b_sim"),
            "band", "chunk_idx", "chunk",
        )
        b = b_base.select(
            "b_id", "b_sim", "chunk_idx", "chunk",
            F.explode(
                F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)
            ).alias("band"),
        )
        join_keys = ["chunk_idx", "chunk", "band"]
    else:
        b = chunks.select(
            F.col(id_col).alias("b_id"), F.col("simhash").alias("b_sim"),
            "chunk_idx", "chunk",
        )
    # No distinct(): a true near-dup collides in most of the four chunks,
    # so dedup-by-shuffle would process a ~4x-inflated pair stream. Each
    # pair is admitted only at its FIRST shared chunk instead — the chunk
    # values are substrings of the carried signatures, so the earlier-
    # chunk comparison is a per-row expression and the output is
    # exactly-once by construction.
    earlier_chunk_collides = F.exists(
        F.sequence(F.lit(0), F.col("chunk_idx") - 1),
        lambda j: F.substring("a_sim", 1 + 4 * j, 4)
        == F.substring("b_sim", 1 + 4 * j, 4),
    )
    return (
        a.join(b, on=join_keys)
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & ((F.col("chunk_idx") == 0) | ~earlier_chunk_collides)
        )
        .select("a_id", "b_id", "a_sim", "b_sim")
    )


# ------------------------------------------------------ n-gram Jaccard --

# session-scoped certificate memo, keyed by the corpus plan's semantic
# hash + the gram expression + the plan's resolved input-file list.
# Token vocabularies grow with the corpus (unlike the charset^k
# char-gram bound), so the certificate job is not always trivially
# cheap — and bench/pipeline code re-certifies the SAME corpus on every
# call (the bench harness alone builds each query four times).
# Semantically-equal plans over the same files share one verdict per
# session. The file list matters because semanticHash for parquet scans
# hashes rootPaths, not data: overwriting or appending to the same path
# mid-session produces new part-file names (Spark writers name parts
# per-job), so folding inputFiles() into the key invalidates the memo
# exactly when the underlying data could have changed — keeping the
# certificate's exactness contract unconditional. It also stretches the
# 32-bit semanticHash keyspace, shrinking cross-plan collision odds.
_INJECTIVITY_CACHE: dict[tuple, bool] = {}


def _hash_injective(df: DataFrame, grams: Column) -> bool:
    """Certificate that ``xxhash64`` is injective on this corpus's
    gram/token vocabulary: group the values by their hash and look for
    any bucket holding two distinct values.

    One planning-time job over the vocabulary — char-k-gram vocabularies
    are bounded by charset^k (hundreds to tens of thousands of rows at
    ANY corpus size), so this is a linear scan + a tiny aggregate, the
    same planning-cost class as :func:`~..ann.choose_num_planes`'s
    ``count()``. With the certificate in hand, per-pair verification can
    intersect 8-byte hash arrays instead of string arrays while provably
    returning the exact string-gram jaccard (injective hash => the two
    intersections are equal element-for-element). A collision (expected
    never: probability ~ C(vocab, 2) / 2^64) falls back to string
    arrays, trading speed for unconditional exactness.

    NULL gram elements get special care: ``xxhash64(NULL)`` is the seed
    (a real 64-bit value), while ``count_distinct`` IGNORES nulls — a
    naive certificate could never see a null shadowing the real token
    that hashes to the seed. Any bucket containing a null element
    alongside one or more real values therefore counts as a collision
    (null-only buckets are fine: null maps to the seed consistently on
    both sides of the intersection).

    Verdicts are memoized per session on the analyzed plan's semantic
    hash, so repeated verification over the same corpus (bench re-runs,
    multi-stage pipelines) pays the certificate once."""
    key = None
    try:  # classic-Spark Dataset.semanticHash; absent => skip the memo
        # hash the PROJECTED plan (corpus + gram expression together):
        # semanticHash normalizes expression/lambda-variable ids, so two
        # independently-built but equal plans — e.g. the bench harness
        # re-reading the same parquet per timing run — share a verdict,
        # where the Column's string form would differ on a counter.
        # The resolved file list rides along so a same-path overwrite/
        # append between calls starts a fresh certificate (module
        # comment above).
        key = (
            df.select(grams.alias("__gram"))._jdf.semanticHash(),
            tuple(sorted(df.inputFiles())),
        )
    except Exception:
        pass
    if key is not None and key in _INJECTIVITY_CACHE:
        return _INJECTIVITY_CACHE[key]
    collisions = (
        df.select(F.explode(grams).alias("g"))
        .groupBy(F.xxhash64("g"))
        # one shuffle, not distinct-then-group: duplicates collapse in
        # the map-side partial aggregation of the distinct-count
        .agg(
            F.count_distinct("g").alias("n"),
            F.max(F.col("g").isNull()).alias("has_null"),
        )
        .filter((F.col("n") > 1) | ((F.col("n") >= 1) & F.col("has_null")))
    )
    ok = collisions.isEmpty()
    if key is not None:
        _INJECTIVITY_CACHE[key] = ok
    return ok


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: list[str] = ("lang", "source"),
    k: int = 3,
    threshold: float = 0.6,
    strategy: str = "blocked",
    shingle: str = "char",
) -> DataFrame:
    """k-gram set Jaccard >= ``threshold`` pairs within blocks.

    ``shingle`` picks the gram unit: ``"char"`` (default — character
    k-grams, the oracle-checked gate semantics) or ``"token"``
    (whitespace-token k-shingles joined with a space, the selective-
    vocabulary regime where the ``"prefix"`` strategy is the scale
    path). Both units run through identical candidate strategies and
    the same exact verification.

    Two lossless candidate strategies with IDENTICAL results (equivalence
    is property-tested against the brute-force join in
    ``tests/test_ngram_prefix_filter.py``):

    - ``"blocked"`` (default): all pairs within a block, pruned per-pair
      by the 1/t size band, verified by intersecting 64-bit gram-hash
      arrays under an injectivity certificate
      (:func:`_hash_injective`) — exact string-gram jaccard at
      ~half the per-pair cost of string intersection. Right choice when
      the gram vocabulary is small relative to the corpus (char-3-grams:
      at most charset³ distinct grams, so at scale every gram is
      frequent and no gram is selective enough for prefix filtering).
    - ``"prefix"``: AllPairs/PPJoin prefix filtering (Bayardo et al.
      WWW'07; MapReduce form Vernica et al. SIGMOD'10) — order each
      doc's grams by ascending global document frequency (ties broken by
      gram value: a total, deterministic order), keep the first
      ``ng - ceil(t * ng) + 1`` as its prefix; Jaccard >= t forces the
      two prefixes to share a gram (prefix-filtering lemma with per-side
      overlap bound ``ceil(t * |X|)``, the longest prefix any qualifying
      partner requires), so one equi-join on (block, prefix gram)
      proposes every qualifying pair. Right choice for word/token
      shingles where the vocabulary is large and rare grams are truly
      selective — there it replaces the O(sum block²) scan with rare-gram
      bucket joins.

    Choose per corpus: blocked for char-grams (this module's default),
    prefix for token-gram corpora with selective vocabularies. Both paths
    end in the same exact verification.
    """
    if strategy not in ("blocked", "prefix"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if shingle not in ("char", "token"):
        raise ValueError(f"unknown shingle unit {shingle!r}")
    shingler = char_shingles if shingle == "char" else word_shingles
    block_cols = list(block_cols)
    grams = F.array_distinct(shingler(F.col(text_col), k))
    base = df.select(
        F.col(id_col).alias("__id"), *block_cols, grams.alias("grams"),
        F.size(grams).alias("ng"),
    )
    # jaccard >= t implies the gram-set sizes are within a 1/t factor:
    # cheap scalar band filter ahead of everything else (result set
    # provably unchanged)
    size_band = _size_band("a_ng", "b_ng", threshold)
    # exact verification: |A ∪ B| = |A| + |B| - |A ∩ B| (arrays are
    # pre-deduplicated) — one array pass per surviving pair
    inter = F.size(F.array_intersect("a_grams", "b_grams"))
    jac = F.try_divide(
        inter.cast("double"), F.col("a_ng") + F.col("b_ng") - inter
    )

    if strategy == "blocked":
        if _hash_injective(df, grams):
            # verified-exact fast path: intersect 8-byte hashes, not
            # strings (no array_distinct needed — injectivity maps the
            # already-distinct grams to distinct hashes, so ng is
            # unchanged too)
            pair_cols = F.transform(F.col("grams"), lambda g: F.xxhash64(g))
        else:  # collision fallback (~C(vocab,2)/2^64; forced in tests)
            pair_cols = F.col("grams")
        # `verif` feeds both self-join sides: without a barrier each
        # side re-runs shingle + per-gram hashing over the raw text. A
        # lazy checkpoint of the slim (id, blocks, vg, ng) rows runs
        # it once.
        # The select (not withColumn) matters: only vg/ng are consumed
        # downstream, so checkpointing the projection drops the raw
        # gram string arrays on the injective path instead of storing
        # them alongside their hashes (on the fallback vg IS grams).
        verif = base.select(
            "__id", *block_cols, "ng", pair_cols.alias("vg")
        ).localCheckpoint(eager=False)
        a = verif.select(
            F.col("__id").alias("a_id"), *block_cols,
            F.col("vg").alias("a_grams"), F.col("ng").alias("a_ng"),
        )
        b = verif.select(
            F.col("__id").alias("b_id"), *block_cols,
            F.col("vg").alias("b_grams"), F.col("ng").alias("b_ng"),
        )
        return (
            a.join(b, on=block_cols)
            .filter((F.col("a_id") < F.col("b_id")) & size_band)
            .withColumn("ngram_jaccard", jac)
            .filter(F.col("ngram_jaccard") >= threshold)
            .select("a_id", "b_id", "ngram_jaccard")
        )

    # -- prefix strategy --
    # `base` feeds FOUR subtrees below (the df count, the prefix
    # ordering, and both verification sides), and without a barrier
    # each re-runs the tokenize + shingle + dedup projection over the
    # raw text. Checkpointing the slim (id, blocks, grams, ng) rows
    # runs the shingle work once. Same pattern as
    # minhash_lsh_candidates' staged checkpoints above.
    base = base.localCheckpoint(eager=False)
    # global document frequency per gram; (df_cnt, gram) structs sort by
    # frequency-then-value, so the struct IS the total order key — no
    # global rank window needed.
    # Deliberately groupBy+join rather than count()-over-Window(gram),
    # which would save one exchange and the second shingle computation:
    # a window has NO map-side partial aggregation, so a hot gram
    # concentrates its entire postings list in one partition — a skew
    # bomb precisely in the high-df regime callers can still hand this
    # strategy (char grams). The groupBy's partial agg collapses hot
    # grams before the shuffle and AQE skew-join covers the join side,
    # so this shape survives any vocabulary distribution.
    freq = (
        base.select(F.explode("grams").alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df_cnt"))
    )
    # NO broadcast hint on the frequency map: the prefix strategy is the
    # right choice precisely for large/selective vocabularies, where
    # shipping the whole gram->df map to every executor is a memory
    # risk. A plain shuffle join is safe at any vocabulary size, and AQE
    # converts it to a broadcast join at runtime when the built side
    # turns out small — the size check happens with real stats, not a
    # planning-time guess.
    ordered = (
        base.select("__id", *block_cols, "ng", F.explode("grams").alias("gram"))
        .join(freq, on="gram")
        .groupBy("__id", *block_cols, "ng")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("df_cnt"), F.col("gram")))
            ).alias("sg")
        )
    )
    prefix_len = (
        F.col("ng") - F.ceil(_below_product(threshold, F.col("ng"))) + F.lit(1)
    )
    # slim exploded prefix rows: (id, block, ng, prefix gram) — a pair
    # sharing several prefix grams is emitted once per shared gram and
    # deduplicated on (a_id, b_id); rows stay a few dozen bytes so the
    # dedup shuffle is on ids only, never on gram payloads
    pref = ordered.select(
        "__id", *block_cols, "ng",
        F.explode(F.slice("sg", F.lit(1), prefix_len)).alias("pg"),
    )
    a = pref.select(
        F.col("__id").alias("a_id"), *block_cols,
        F.col("ng").alias("a_ng"), "pg",
    )
    b = pref.select(
        F.col("__id").alias("b_id"), *block_cols,
        F.col("ng").alias("b_ng"), "pg",
    )
    cands = (
        a.join(b, on=[*block_cols, "pg"])
        .filter((F.col("a_id") < F.col("b_id")) & size_band)
        .select("a_id", "b_id")
        .distinct()
    )
    va = base.select(
        F.col("__id").alias("a_id"),
        F.col("grams").alias("a_grams"), F.col("ng").alias("a_ng"),
    )
    vb = base.select(
        F.col("__id").alias("b_id"),
        F.col("grams").alias("b_grams"), F.col("ng").alias("b_ng"),
    )
    return (
        cands.join(va, on="a_id")
        .join(vb, on="b_id")
        .withColumn("ngram_jaccard", jac)
        .filter(F.col("ngram_jaccard") >= threshold)
        .select("a_id", "b_id", "ngram_jaccard")
    )


def minhash_corpus_index(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 3,
) -> DataFrame:
    """LSH band-key index of an accepted corpus: one row per (doc, band)
    with the doc's full band-key array carried for exactly-once pair
    admission. Persist this (parquet, partitioned or bucketed by
    ``band_key``) as the corpus's near-dup index — at 100 TB the index
    rows are (id + bands keys), a tiny fraction of the text, and the
    ingest check below joins against THIS table, never the raw corpus.

    Schema: ``(id, keys, band_idx, band_key)``.
    """
    rows_per_band = num_hashes // bands
    hashed = corpus.select(
        F.col(id_col).alias("id"),
        minhash_token_hashes(tokens(F.col(text_col))).alias("hs"),
    ).localCheckpoint(eager=False)
    sig = minhash_signature(F.col("hs"), num_hashes)
    with_sig = hashed.select("id", sig.alias("sig")).localCheckpoint(eager=False)
    keys = minhash_band_keys(F.col("sig"), bands, rows_per_band)
    return with_sig.select(
        "id",
        keys.alias("keys"),
        F.posexplode(keys).alias("band_idx", "band_key"),
    )


def token_profile(
    corpus: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document distinct-token verification profile ``(id, toks,
    nt)`` — the second persisted half of the incremental near-dup index
    (band keys generate candidates; this table verifies them)."""
    toks = F.array_distinct(tokens(F.col(text_col)))
    return corpus.select(
        F.col(id_col).alias("id"), toks.alias("toks"), F.size(toks).alias("nt")
    )


def incremental_minhash_matches(
    arriving: DataFrame,
    index: DataFrame,
    profile: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 3,
    threshold: float = 0.5,
    arriving_banded: DataFrame | None = None,
    arriving_profile: DataFrame | None = None,
) -> DataFrame:
    """Verified near-duplicate matches of arriving documents against an
    accepted corpus: ``(doc_id, accepted_id, jaccard)``, exactly one row
    per matching (arriving, accepted) pair.

    ``arriving_banded``/``arriving_profile`` (batch-only, pass both
    or neither): a caller that already holds a :func:`minhash_banded`
    projection and a :func:`jaccard_profile` covering the arriving rows
    (e.g. the pack that bands its WHOLE corpus once and filters subsets
    for the ingest sections) passes them here to skip this function's
    own signature pipeline and tokenization — identical candidates
    (band keys are per-document), identical admission, identical
    jaccard (profile tokens may be injectively hashed; the intersection
    and sizes are provably unchanged). Pinned by
    tests/test_minhash_shared.py.

    The MinHash twin of ``incremental_exact_dedup``'s anti-join: band
    keys of each arriving doc equi-join the corpus band index
    (``minhash_corpus_index``), collisions verify by exact distinct-token
    Jaccard against the corpus ``token_profile`` — never against the raw
    corpus text. ``num_hashes``/``bands`` MUST match the index's build
    parameters (band keys are md5 over signature slices, so a mismatch
    silently generates zero candidates).

    Streaming-clean: with ``arriving`` from ``readStream`` both joins
    are stream-static, append-mode, no keyed state — the arriving doc's
    tokens ride THROUGH the band explode so verification never needs a
    stream-stream join back to the batch (cost bounded by micro-batch
    size). On the BATCH path the exploded band rows carry only the id
    and band-key scalars; the token profile joins onto the admitted
    candidates afterwards, so the verify arrays are never duplicated
    bands-x through the exploded join. Pair admission reuses the
    first-colliding-band trick (both sides carry their band-key
    scalars), so no dedup shuffle on the inflated candidate stream.
    """
    if (arriving_banded is None) != (arriving_profile is None):
        raise ValueError(
            "pass arriving_banded and arriving_profile together (both "
            "derived from the same minhash_banded/jaccard_profile run) "
            "or neither"
        )
    if arriving_banded is not None:
        if arriving.isStreaming:
            raise ValueError(
                "arriving_banded reuse is batch-only (minhash_banded "
                "checkpoints eagerly); over a stream let this function "
                "build its own stages"
            )
        # INVARIANT: both profiles must tokenize the same way — the
        # verify intersects arriving_profile.toks with profile.toks, so
        # a representation mismatch (xxhash64-hashed bigint tokens on
        # one side, raw strings on the other) makes every intersection
        # empty and silently drops all matches. The element types catch
        # exactly that mismatch; raise instead of returning zero rows.
        arr_el = arriving_profile.schema["toks"].dataType.elementType
        prof_el = profile.schema["toks"].dataType.elementType
        if arr_el != prof_el:
            raise ValueError(
                "arriving_profile.toks and profile.toks use different "
                f"token representations ({arr_el.simpleString()} vs "
                f"{prof_el.simpleString()}): both sides must come from "
                "the same jaccard_profile configuration (hashed vs raw "
                "tokens), or every jaccard intersection is empty"
            )
        arr = arriving_banded.select(
            F.col(id_col).alias("__arr_id"),
            *[F.col(f"k{j}").alias(f"__arr_k{j}") for j in range(bands)],
            "band_idx", "band_key",
            # same salting as the built-in path below
            F.explode(F.array(*[F.lit(sa) for sa in range(_BAND_SALTS)])).alias(
                "__salt"
            ),
        )
        arr_verify = arriving_profile.select(
            F.col(id_col).alias("__arr_id"),
            F.col("toks").alias("__arr_toks"),
            F.col("nt").alias("__arr_nt"),
        )
        return _match_candidates_verify(
            arr, arr_verify, index, profile, id_col, bands, threshold
        )
    rows_per_band = num_hashes // bands
    toks = F.array_distinct(tokens(F.col(text_col)))
    staged = arriving.select(
        F.col(id_col).alias("__arr_id"),
        toks.alias("__arr_toks"),
        minhash_token_hashes(tokens(F.col(text_col))).alias("hs"),
    )
    if not arriving.isStreaming:
        # projection barrier against CollapseProject re-inlining (see
        # minhash_lsh_candidates); localCheckpoint is batch-only, and a
        # micro-batch's recompute cost is bounded by the batch size
        staged = staged.localCheckpoint(eager=False)
    sig = minhash_signature(F.col("hs"), num_hashes)
    staged2 = staged.select(
        "__arr_id", "__arr_toks", F.size("__arr_toks").alias("__arr_nt"),
        sig.alias("sig"),
    )
    if not arriving.isStreaming:
        staged2 = staged2.localCheckpoint(eager=False)
    keys = minhash_band_keys(F.col("sig"), bands, rows_per_band)
    # The verify payload (__arr_toks) rides through the band explode and
    # candidate join ONLY on the streaming path, where joining it back
    # would need a stream-stream join (documented below). On the batch
    # path the exploded rows stay slim — (id, band scalars) — and the
    # token profile joins onto the admitted candidates afterwards,
    # avoiding a bands-x duplication of every doc's token array through
    # the exploded join.
    if arriving.isStreaming:
        arr_carry = ["__arr_id", "__arr_toks", "__arr_nt"]
        staged3 = staged2.select(*arr_carry, keys.alias("__keys"))
    else:
        arr_carry = ["__arr_id"]
        # barrier so the md5 band-key array is computed once, not once
        # per element_at extraction below
        staged3 = staged2.select(
            "__arr_id", keys.alias("__keys")
        ).localCheckpoint(eager=False)
    # band keys flattened to scalar columns on both sides: the
    # first-colliding-band admission unrolls to string equality in
    # whole-stage codegen (see minhash_lsh_candidates)
    arr = staged3.select(
        *arr_carry,
        *[F.element_at("__keys", j + 1).alias(f"__arr_k{j}") for j in range(bands)],
        F.posexplode("__keys").alias("band_idx", "band_key"),
        # SALT the row-amplifying band join (see the block comment
        # below): the arriving side replicates each band row across all
        # _BAND_SALTS sub-buckets...
        F.explode(F.array(*[F.lit(s) for s in range(_BAND_SALTS)])).alias(
            "__salt"
        ),
    )
    arr_verify = (
        None if arriving.isStreaming
        else staged2.select("__arr_id", "__arr_toks", "__arr_nt")
    )
    return _match_candidates_verify(
        arr, arr_verify, index, profile, id_col, bands, threshold
    )


def _match_candidates_verify(
    arr: DataFrame,
    arr_verify: DataFrame | None,
    index: DataFrame,
    profile: DataFrame,
    id_col: str,
    bands: int,
    threshold: float,
) -> DataFrame:
    """Salted band join + first-colliding-band admission + exact-jaccard
    verification — the second half of :func:`incremental_minhash_matches`
    (separate so the pre-banded bypass and the self-built path share
    one join/verify implementation). ``arr`` carries the exploded salted
    arriving band rows; ``arr_verify`` the (id, toks, nt) verification
    rows on the batch path (None when streaming — tokens ride in
    ``arr``)."""
    acc = index.select(
        F.col("id").alias("__acc_id"),
        *[F.element_at("keys", j + 1).alias(f"__acc_k{j}") for j in range(bands)],
        "band_idx", "band_key",
        # ...while each index row lands in exactly ONE deterministic
        # sub-bucket, so every (arriving, accepted) pair still meets
        # exactly once and the admission filter is untouched
        F.pmod(F.xxhash64(F.col("id")), F.lit(_BAND_SALTS)).alias("__salt"),
    )
    earlier_band_collides = F.lit(False)
    for j in range(bands - 1):
        earlier_band_collides = earlier_band_collides | (
            (F.col("band_idx") > F.lit(j))
            & (F.col(f"__arr_k{j}") == F.col(f"__acc_k{j}"))
        )
    # PIN the parallelism of the band join: it is row-amplifying (each
    # arriving band row fans out to its bucket's occupancy — dense
    # corpora reach thousands of candidates per arriving doc), and
    # nothing can re-spread rows MID-STAGE, so the arriving side's
    # partition layout at join time decides how many cores run the
    # fan-out plus verification. Left to itself the planner gets a
    # small corpus exactly wrong twice over: it broadcasts the index
    # and AQE byte-coalesces the slim (id + band scalars) arriving
    # exchange to ~1 partition; and even forced wide, hashing by band
    # key alone sends each MEGA-BUCKET (a dense corpus's top band
    # buckets can hold ~half the docs) to one task. Hence (a) the salt
    # columns above subdivide every bucket's fan-out _BAND_SALTS ways
    # at the cost of replicating only the slim arriving rows, and (b)
    # the explicit fixed-width repartition below — exempt from AQE
    # coalescing — spreads the salted keys across the session width and
    # feeds whatever join shape the planner picks (broadcast index for
    # small corpora, co-partitioned shuffle join at scale).
    width = arr.sparkSession.conf.get("spark.sql.shuffle.partitions")
    if str(width).isdigit():
        arr = arr.repartition(int(width), "band_idx", "band_key", "__salt")
    cands = (
        arr.join(acc, on=["band_idx", "band_key", "__salt"])
        .filter(~earlier_band_collides)
        .drop("__salt")
    )
    if arr_verify is not None:
        # post-candidate verification join: admitted pairs are
        # exactly-once, so this equi-join attaches each arriving doc's
        # token profile to exactly its candidate rows
        cands = cands.join(arr_verify, on="__arr_id")
    prof = profile.select(
        F.col("id").alias("__acc_id"), F.col("toks").alias("__acc_toks"),
        F.col("nt").alias("__acc_nt"),
    )
    inter = F.size(F.array_intersect("__arr_toks", "__acc_toks"))
    jac = F.try_divide(
        inter.cast("double"), F.col("__arr_nt") + F.col("__acc_nt") - inter
    )
    size_band = _size_band("__arr_nt", "__acc_nt", threshold)
    return (
        cands.join(prof, on="__acc_id")
        .filter(size_band)
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("__arr_id").alias(id_col),
            F.col("__acc_id").alias("accepted_id"),
            "jaccard",
        )
    )


def incremental_minhash_dedup(
    arriving: DataFrame,
    index: DataFrame,
    profile: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 3,
    threshold: float = 0.5,
    within_batch: bool = True,
    matches: DataFrame | None = None,
) -> DataFrame:
    """Ingest-time near-dup dedup: keep arriving documents with no
    verified near-duplicate in the accepted corpus, and (by default)
    drop the larger-id side of any verified near-dup pair WITHIN the
    arriving batch (the ``drop_near_duplicates`` keep-minimum contract).

    Batch-only convenience: the history check plus the intra-batch pass
    both end in anti-joins against sets derived from ``arriving``
    itself, which a streaming plan cannot express without state — over
    a true stream, call ``incremental_minhash_matches`` inside
    ``foreachBatch`` and anti-join there (the same concession
    ``incremental_exact_dedup`` documents for its keep-first window).

    ``matches``: pass the already-computed
    :func:`incremental_minhash_matches` result (same arriving/index/
    profile/params) to reuse it — a caller consuming BOTH the match
    rows and the kept set otherwise pays the band join + verification
    twice, since the two outputs live in separate plans
    (checkpoint the matches first or the reuse is nominal). The frame's
    schema is validated here (it must carry the matches output columns
    ``id_col`` / ``accepted_id`` / ``jaccard``); that the rows came
    from the SAME arriving/index/params remains caller responsibility —
    a matches frame computed under different parameters type-checks but
    silently under- or over-drops.
    """
    if arriving.isStreaming:
        raise ValueError(
            "incremental_minhash_dedup is batch-only; over a stream use "
            "incremental_minhash_matches inside foreachBatch"
        )
    if matches is not None:
        required = {id_col, "accepted_id", "jaccard"}
        missing = required - set(matches.columns)
        if missing:
            raise ValueError(
                f"matches= frame is missing column(s) {sorted(missing)} "
                f"(got {matches.columns}); pass the output of "
                f"incremental_minhash_matches(arriving, index, profile, "
                f"id_col={id_col!r}, ...) computed from the SAME inputs "
                f"and parameters as this call"
            )
    if matches is None:
        matches = incremental_minhash_matches(
            arriving, index, profile, id_col, text_col, num_hashes, bands,
            threshold,
        )
    matched = matches.select(id_col).distinct()
    fresh = arriving.join(matched, on=id_col, how="left_anti")
    if not within_batch:
        return fresh
    pairs = minhash_lsh_dedup(
        fresh, id_col, text_col, num_hashes=num_hashes, bands=bands,
        threshold=threshold,
    )
    losers = pairs.select(
        F.greatest(F.col("a_id"), F.col("b_id")).alias(id_col)
    ).distinct()
    return fresh.join(losers, on=id_col, how="left_anti")


def incremental_exact_dedup(
    arriving: DataFrame,
    history: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Ingest-time exact dedup against an already-accepted corpus: keep
    arriving documents whose normalized fingerprint exists in neither
    the historical corpus nor an earlier-id arrival in the same batch.

    Works identically over a stream (``arriving`` from ``readStream``):
    the history side is static, so the check is a stream-static LEFT
    ANTI join on the 16-byte fingerprint — append-mode-clean, no keyed
    state (the within-batch keep-first needs the id-ordered window, so
    over a true stream run it inside ``foreachBatch`` or rely on
    ``streaming_dedup`` upstream). At scale the history fingerprints
    are a compact table the join prunes on — the classic accepted-set
    pattern without a driver-side Bloom filter, and exactly-consistent
    where a Bloom filter admits false drops.
    """
    from pyspark.sql.window import Window

    fp = fingerprint_md5(F.col(text_col))
    hist = history.select(fp.alias("fingerprint")).distinct()
    fresh = (
        arriving.withColumn("fingerprint", fp)
        .join(hist, on="fingerprint", how="left_anti")
    )
    if arriving.isStreaming:
        return fresh.drop("fingerprint")
    w = Window.partitionBy("fingerprint").orderBy(id_col)
    return (
        fresh.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk", "fingerprint")
    )
