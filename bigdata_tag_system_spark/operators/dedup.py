"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Training-data pipeline surface (no reference equivalent). Scale design:

- **Exact**: hash-groupBy on a normalized-text digest — one shuffle on the
  16-byte digest, never on the document text.
- **MinHash + LSH**: signatures are pure expressions
  (``array_min(transform(shingles, xxhash64(seed)))`` per permutation —
  JVM-side, no UDF). Banding explodes to (band_id, band_hash) keys and a
  self-join *within buckets only* turns the O(n²) pair space into
  O(sum bucket²); AQE handles hot buckets.
- **SimHash**: 64-bit sketch packed from per-bit majority votes over token
  hashes — again pure expressions; near-dup = small Hamming distance,
  prefiltered by band equality on 16-bit chunks.
- **n-gram Jaccard**: exact similarity on candidate pairs that share ≥1
  shingle (explode + join on shingle, then count-based Jaccard) — the
  SQL-expressible oracle-checkable baseline.
- **Embedding cosine**: exact normalized-dot-product over pairs bucketed
  by random-hyperplane signs (the LSH path); brute-force variant for
  validation.

Every candidate-pair generator verifies with the exact measure before
declaring a duplicate — LSH only prunes the pair space, it never decides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from bigdata_tag_system_spark.functions.arrays import _dot_sql, _norm_sql
from bigdata_tag_system_spark.functions.text import (
    normalize_text,
    portable_hash60,
    shingles_from_tokens,
    tokens,
    word_shingles,
)


def _shingle_df(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int
) -> DataFrame:
    """(id, _sh: array<string>) — two-phase so the regex tokenizer runs
    once per row, not once per shingle (see shingles_from_tokens)."""
    return df.select(F.col(id_col), tokens(text_col).alias("_t")).select(
        F.col(id_col), shingles_from_tokens("_t", shingle_n).alias("_sh")
    )


def _hashed_shingle_df(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int,
    portable: bool = False,
) -> DataFrame:
    """(id, _hs: array<bigint>) — each distinct shingle hashed ONCE.

    Downstream sketches (MinHash permutations, SimHash bit votes) then
    operate on fixed-width longs instead of re-hashing the shingle
    strings per permutation — the string bytes are touched exactly once
    per row regardless of sketch width. ``portable=True`` swaps xxhash64
    for the md5-derived 60-bit hash an external SQL oracle can
    recompute (functions.text.portable_hash60)."""
    hash_fn = portable_hash60 if portable else F.xxhash64
    return _shingle_df(df, text_col, id_col, shingle_n).select(
        F.col(id_col),
        F.transform("_sh", lambda s: hash_fn(s)).alias("_hs"),
    )

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def _row_digest(text_col: str, id_col: str) -> Column:
    """md5 of normalized text, with NULL text mapped to a unique per-row
    digest (keyed off the id) so null-text rows pass through
    undeduplicated — mirrors the streaming guard
    (streaming/rule_stream.py) instead of groupBy collapsing every
    NULL digest into one group and silently dropping rows."""
    return F.coalesce(
        F.md5(normalize_text(text_col)),
        F.concat(F.lit("null-text:"), F.col(id_col).cast("string")),
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per exact normalized text.

    Shuffles only (digest, id) — not the text — then rejoins winners.
    Null-text rows are all kept (unique per-row digest).
    """
    digests = df.select(F.col(id_col), _row_digest(text_col, id_col).alias("_digest"))
    winners = digests.groupBy("_digest").agg(F.min(id_col).alias(id_col))
    return df.join(winners.select(id_col), on=id_col, how="inner")


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(digest, ids array, dup_count) for groups with >1 member.

    Null-text rows never form a group (unique per-row digest)."""
    return (
        df.select(_row_digest(text_col, id_col).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"), F.count(F.lit(1)).alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(col: Column | str, num_hashes: int = 64, shingle_n: int = 3) -> Column:
    """array<bigint> MinHash signature as a single expression.

    NOTE: interactive/small use only — the shingle subtree is inlined
    into all ``num_hashes`` transform lambdas (num_hashes× recompute of
    the tokenizer). The scale path is :func:`minhash_signature_df`.
    """
    sh = word_shingles(col, shingle_n)

    def one(seed: int) -> Column:
        # unary transform lambda — a second lambda parameter would be
        # interpreted by pyspark as the array index and clobber the seed
        return F.array_min(F.transform(sh, lambda s: F.xxhash64(s, F.lit(seed))))

    return F.array(*[one(i) for i in range(num_hashes)])


def _sig_from_hashed(hs: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """(id, _sig: array<bigint>) from (id, _hs) hashed shingles.

    The N per-permutation minima are narrow per-row array expressions:
    ``array_min(transform(_hs, h -> xxhash64(h, seed)))`` — permutation
    hashes run over 8-byte longs, the shingle strings were hashed once
    upstream. Zero shuffles: pipelines with the scan at any scale. (An
    explode + groupBy(id).agg(N × min) formulation pays a full shuffle of
    the exploded shingles plus an N-aggregate — measured 3× slower.)
    """

    # per-permutation minima as parsed SQL (r13, guide §5): the Column
    # lambda form pays ~5 py4j round-trips per permutation at build
    # time; the SQL int literal seed keeps xxhash64's second argument
    # IntegerType exactly like F.lit(int) did (hash-type-sensitive)
    sig = F.expr(
        "array(" + ",".join(
            f"array_min(transform(_hs, h -> xxhash64(h, {i})))"
            for i in range(num_hashes)) + ")")
    return hs.select(F.col(id_col), sig.alias("_sig"))


def _sketch_table(hs: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """(id, _sig, _hs) in ONE projection over the hashed-shingle frame.

    The signature is a pure function of ``_hs``, so the full sketch row
    never needs a self-join of two frames derived from the same scan —
    that formulation re-reads the corpus text and re-runs
    tokenize→shingle→hash once per join side.
    """

    # same parsed-SQL permutation minima as _sig_from_hashed (r13)
    sig = F.expr(
        "array(" + ",".join(
            f"array_min(transform(_hs, h -> xxhash64(h, {i})))"
            for i in range(num_hashes)) + ")")
    return hs.select(F.col(id_col), sig.alias("_sig"), F.col("_hs"))


def _check_bands(num_hashes: int, bands: int) -> None:
    """bands must evenly partition the signature: bands > num_hashes makes
    every band slice empty (all docs share one bucket → O(n²) self-join);
    a non-divisor silently ignores the trailing hashes."""
    if not 0 < bands <= num_hashes:
        raise ValueError(f"bands must satisfy 0 < bands <= num_hashes, got bands={bands}, num_hashes={num_hashes}")
    if num_hashes % bands != 0:
        raise ValueError(f"bands must divide num_hashes evenly, got bands={bands}, num_hashes={num_hashes}")


def _band_join(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    carry_cols: tuple[str, ...] = (),
    extra_pred: Column | None = None,
    max_bucket_size: int | None = 10_000,
    on_overflow: str = "error",
) -> DataFrame:
    """Distinct (id_a < id_b) pairs whose signatures agree on ≥1 band.

    ``carry_cols`` ride through the band explode so ``extra_pred`` (built
    against the ``a.``/``b.`` aliases) can constrain the pair space —
    e.g. the incremental path's "≥1 side is new" filter.

    ``max_bucket_size`` bounds each (band_id, band_hash) bucket before the
    self-join: a degenerate hot band (mass-duplicated boilerplate — every
    copy lands in the same bucket) otherwise goes quadratic in that bucket
    at 100 TB. This mirrors the capped state of the streaming path
    (``streaming/lsh_stream.py:_bucket_fn_factory``). ``on_overflow``:

    - ``"error"`` (default): fail the job loudly on the first over-cap
      bucket. The loud default means a hot band can never SILENTLY
      change which pairs an existing caller sees — truncation is an
      explicit opt-in (the r5 default of silent truncate was flagged in
      review as changing the previously exact public API without
      signal).
    - ``"truncate"``: keep the ``max_bucket_size`` smallest ids per
      bucket (deterministic). Members beyond the cap lose candidacy
      *through that band only* — they can still pair via their other
      bands; run ``exact_dedup`` first (as ``dedup_pipeline_keep`` does)
      so identical copies never reach LSH. This is what the batch
      pipeline entry points pass explicitly: bounded latency beats
      exactness on mass-duplicated boilerplate.

    The cap rides the same hash-partitioning the self-join needs anyway
    (one window over the join key), so it adds no extra shuffle of the
    banded relation. ``None`` disables it (exact semantics, e.g. for
    oracle comparisons).
    """
    _check_bands(num_hashes, bands)
    if on_overflow not in ("truncate", "error"):
        raise ValueError(f"on_overflow must be 'truncate' or 'error', got {on_overflow!r}")
    r = num_hashes // bands
    # ONE parsed expression for the whole band array (r14, guide §5):
    # the per-band Column form paid ~10 py4j round-trips per band;
    # named_struct/xxhash64/slice with int literals parse to the
    # identical expression tree
    band_structs = F.expr(
        "array(" + ",".join(
            f"named_struct('band_id', {b}, 'band_hash', "
            f"xxhash64(slice(_sig, {b * r + 1}, {r})))"
            for b in range(bands)) + ")")
    banded = sigs.select(
        F.col(id_col), *[F.col(c) for c in carry_cols],
        F.explode(band_structs).alias("b"),
    ).select(id_col, *carry_cols, "b.band_id", "b.band_hash")
    if max_bucket_size is not None:
        w = Window.partitionBy("band_id", "band_hash").orderBy(id_col)
        rn = F.row_number().over(w)
        if on_overflow == "error":
            rn = F.when(
                rn > max_bucket_size,
                F.raise_error(F.concat(
                    F.lit(f"LSH band bucket exceeds max_bucket_size={max_bucket_size}"
                          " (mass-duplicate hot band?) for band_id="),
                    F.col("band_id").cast("string"))),
            ).otherwise(rn)
        banded = (
            banded.withColumn("_rn", rn)
            .where(F.col("_rn") <= max_bucket_size)
            .drop("_rn")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    on = [
        F.col("a.band_id") == F.col("b.band_id"),
        F.col("a.band_hash") == F.col("b.band_hash"),
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
    ]
    if extra_pred is not None:
        on.append(extra_pred)
    return (
        a.join(b, on=on)
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_signature_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, _sig: array<bigint>) MinHash signatures (see _sig_from_hashed)."""
    hs = _hashed_shingle_df(df, text_col, id_col, shingle_n)
    return _sig_from_hashed(hs, id_col, num_hashes)


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int | None = 10_000,
    on_overflow: str = "error",
) -> DataFrame:
    """Distinct (id_a < id_b) candidate pairs sharing ≥1 LSH band bucket.

    Hot-bucket behavior: see :func:`_band_join` (``max_bucket_size``) —
    loud by default; pass ``on_overflow="truncate"`` to opt into
    deterministic recall loss on over-cap buckets."""
    sigs = minhash_signature_df(df, text_col, id_col, num_hashes, shingle_n)
    return _band_join(sigs, id_col, num_hashes, bands,
                      max_bucket_size=max_bucket_size, on_overflow=on_overflow)


def _jaccard_on_pairs_sh(pairs: DataFrame, sh: DataFrame, id_col: str) -> DataFrame:
    """Attach exact Jaccard to pairs given a (id, _sh) shingle table.

    ``_sh`` may be the string shingles or their xxhash64 longs — Jaccard
    over hashed sets equals Jaccard over the strings (sets stay the same
    size absent a 64-bit collision), and long intersections are much
    cheaper than string intersections.
    """
    return (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("_sh", "_sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("_sh", "_sh_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("_sh_a", "_sh_b"))
                / F.size(F.array_union("_sh_a", "_sh_b"))
            ).alias("jaccard"),
        )
    )


def jaccard_on_pairs(
    pairs: DataFrame, df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Attach exact shingle-set Jaccard to (id_a, id_b) pairs."""
    return _jaccard_on_pairs_sh(
        pairs, _shingle_df(df, text_col, id_col, shingle_n), id_col
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dup pairs at ≥ threshold exact Jaccard, found via MinHash-LSH.

    LSH prunes candidates; the exact Jaccard verifies — no false positives
    by construction, recall governed by (bands, rows) per the standard
    S-curve.

    The shingle set and the signature table are persisted
    (MEMORY_AND_DISK): each feeds ≥2 plan branches (both sides of the
    bucket self-join; both sides of the verification join), and without
    materialization Spark recomputes the tokenize→shingle→hash subtree
    once per branch — measured 3× slower at sf0.1. At cluster scale the
    cached signature table is num_hashes×8 B/doc and the shingle table
    ~|text| — both far below the scan the cache avoids re-reading.
    """
    hs = _hashed_shingle_df(df, text_col, id_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sigs = _sig_from_hashed(hs, id_col, num_hashes).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # pipeline path: explicit truncate — bounded hot-band latency is the
    # contract here (exact_dedup upstream keeps identical copies out)
    cands = _band_join(sigs, id_col, num_hashes, bands,
                       on_overflow="truncate")
    return _jaccard_on_pairs_sh(
        cands, hs.withColumnRenamed("_hs", "_sh"), id_col
    ).where(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs (the oracle-checkable baseline).

    Prefix-filtered set-similarity join (AllPairs/PPJoin family):

    1. global shingle document-frequencies (one aggregate);
    2. each doc's shingles ranked rarest-first by (df, shingle) — a total
       order shared by all docs;
    3. only the **prefix** (the ``n - ceil(t*n) + 1`` rarest shingles) is
       exploded into the join: two sets with Jaccard ≥ t MUST match within
       each other's prefix, so no true pair is lost;
    4. size-ratio pruning in the join condition (j ≥ t ⟹ min/max ≥ t);
    5. **positional filter** (PPJoin): a prefix match at ranks (ra, rb)
       caps the achievable overlap at ``1 + min(na-ra, nb-rb)``; pairs
       that cannot reach the required overlap ``ceil(t/(1+t)·(na+nb))``
       are dropped before the distinct — cuts candidates ~20× at t=0.5;
    6. candidates verified with the exact Jaccard on full shingle sets.

    Exact result, but the join touches only rare shingles — hot-shingle
    bucket² blowup (the killer on natural-language corpora) never happens.
    """
    from pyspark.sql import Window

    # Everything downstream works on the hashed shingles: string bytes are
    # touched once (tokenize+hash), then frequency ranking, the prefix
    # self-join, and the exact-Jaccard verify all compare 8-byte longs.
    # (Jaccard over hashed sets equals Jaccard over strings absent a
    # 64-bit collision.) hs feeds ex (read twice: freq + ranked) and the
    # verify join; prefix feeds both sides of the candidate self-join —
    # persist both so no branch re-runs the tokenizer.
    hs = _hashed_shingle_df(df, text_col, id_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    ex = hs.select(F.col(id_col), F.size("_hs").alias("_n"), F.explode("_hs").alias("s"))
    freq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("_f"))
    w = Window.partitionBy(id_col).orderBy("_f", "s")
    ranked = ex.join(freq, "s").withColumn("_rn", F.row_number().over(w))
    prefix = ranked.where(
        F.col("_rn") <= F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1
    ).persist(StorageLevel.MEMORY_AND_DISK)
    a, b = prefix.alias("a"), prefix.alias("b")
    # overlap needed for jaccard ≥ t: |A∩B| ≥ t/(1+t)·(|A|+|B|)
    need = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a._n") + F.col("b._n"))
    )
    reachable = F.lit(1) + F.least(
        F.col("a._n") - F.col("a._rn"), F.col("b._n") - F.col("b._rn")
    )
    cands = (
        a.join(
            b,
            on=[
                F.col("a.s") == F.col("b.s"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
                F.col("a._n") >= threshold * F.col("b._n"),
                F.col("b._n") >= threshold * F.col("a._n"),
                reachable >= need,
            ],
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    return _jaccard_on_pairs_sh(
        cands, hs.withColumnRenamed("_hs", "_sh"), id_col
    ).where(F.col("jaccard") >= threshold)


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-**containment** pairs: C(A,B) = |A∩B| / min(|A|,|B|) ≥ t.

    Jaccard misses subset duplication outright — a document quoted
    wholesale inside a much larger one has tiny Jaccard but containment
    ≈ 1. This is the asymmetric companion to
    :func:`ngram_jaccard_pairs` for exactly that case (quote inclusion,
    page-within-crawl, concatenated shards).

    Candidate generation keeps the prefix-filter shape, adapted to the
    asymmetric measure: C ≥ t needs overlap ≥ ceil(t·min(na,nb)), so the
    *smaller* side of every qualifying pair must match inside its own
    rarest-first prefix of ``n - ceil(t·n) + 1`` shingles (same shared
    (df, shingle) total order; the globally-first common shingle is
    provably inside that prefix and passes the positional bound
    ``1 + min(na-ra, nb-rb) ≥ ceil(t·na)``). The join therefore explodes
    prefixes on the small side against the full ranked explode on the
    large side — no size-ratio pruning exists for containment (a 100×
    size gap is the target, not noise), which is why the prefix and
    positional filters matter more here, and why hot-shingle buckets
    stay bounded: one side of every bucket holds only prefix (rare)
    occurrences. Candidates verify with exact containment over the full
    hashed shingle sets.
    """
    from pyspark.sql import Window

    hs = _hashed_shingle_df(df, text_col, id_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    ex = hs.select(F.col(id_col), F.size("_hs").alias("_n"), F.explode("_hs").alias("s"))
    freq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("_f"))
    w = Window.partitionBy(id_col).orderBy("_f", "s")
    ranked = ex.join(freq, "s").withColumn("_rn", F.row_number().over(w)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    prefix = ranked.where(
        F.col("_rn") <= F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1
    )
    a, b = prefix.alias("a"), ranked.alias("b")
    need = F.ceil(F.lit(threshold) * F.col("a._n"))  # a is the min side
    reachable = F.lit(1) + F.least(
        F.col("a._n") - F.col("a._rn"), F.col("b._n") - F.col("b._rn")
    )
    cands = (
        a.join(
            b,
            on=[
                F.col("a.s") == F.col("b.s"),
                F.col(f"a.{id_col}") != F.col(f"b.{id_col}"),
                F.col("a._n") <= F.col("b._n"),
                reachable >= need,
            ],
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
        )
        .distinct()
    )
    sh = hs.withColumnRenamed("_hs", "_sh")
    return (
        cands.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("_sh", "_sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("_sh", "_sh_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("_sh_a", "_sh_b"))
                / F.least(F.size("_sh_a"), F.size("_sh_b"))
            ).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _pack_sign_bits(votes: list[Column]) -> Column:
    """Pack 64 vote columns (sign → bit) into one bigint."""
    out = F.lit(0).cast("long")
    for b, vote in enumerate(votes):
        out = out + F.when(vote > 0, F.lit(1).cast("long") * (2**b if b < 63 else -(2**63))).otherwise(0)
    return out


def _pack_sign_bits_expr(names: list[str]) -> Column:
    """:func:`_pack_sign_bits` over NAMED vote columns, rendered as one
    SQL expression (r13, guide §5): the Column-chained form pays ~5 py4j
    round-trips per bit — ~0.4 s of driver time per build for a 60-bit
    sketch — while one parsed expression costs a single round-trip.
    Bit b's addend is 2**b as a bigint (bit 63 = long MIN, same as the
    chained form's -(2**63)); values are pytest-pinned equal."""
    terms = []
    for b, name in enumerate(names):
        addend = (f"{2**b}L" if b < 63
                  else "CAST('-9223372036854775808' AS BIGINT)")
        terms.append(f"(CASE WHEN {name} > 0 THEN {addend} ELSE 0L END)")
    return F.expr("CAST(0 AS BIGINT) + " + " + ".join(terms))


def simhash_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    portable: bool = False,
) -> DataFrame:
    """(id, simhash bigint) — SimHash via explode + hash-aggregate.

    Per-bit majority votes of shingle hashes run as one conditional sum
    per bit over the exploded hashed shingles: every expression
    (shift/and/sum) is codegen'd, partial aggregation runs map-side, one
    shuffle keyed by id. (A per-row formulation — 64 ``aggregate``
    higher-order lambdas — avoids the shuffle but HOF lambdas are
    CodegenFallback: measured 7× slower interpreted. The shuffle carries
    only (id, n_bits×long).)

    ``portable=True`` sketches 60 bits from the md5-derived portable
    shingle hash so an independent SQL engine recomputes the sketch
    bit-for-bit; the default is the 64-bit xxhash64 sketch.
    """
    n_bits = 60 if portable else 64
    ex = _hashed_shingle_df(df, text_col, id_col, shingle_n, portable).select(
        F.col(id_col), F.explode("_hs").alias("_h")
    )
    # one parsed SQL expression per bit instead of a 5-call Column chain
    # (r13, guide §5): the 60-bit vote list alone cost ~0.5 s of py4j
    # driver time per query BUILD; sum/CASE/shiftright/& are the same
    # Catalyst expressions either way (pytest-pinned equal values)
    votes = [
        F.expr(f"sum(CASE WHEN (shiftright(_h, {b}) & 1) = 1 "
               f"THEN 1 ELSE -1 END)").alias(f"_v{b}")
        for b in range(n_bits)
    ]
    agg = ex.groupBy(id_col).agg(*votes)
    return agg.select(
        F.col(id_col),
        _pack_sign_bits_expr([f"_v{b}" for b in range(n_bits)]).alias("simhash"),
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    shingle_n: int = 2,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Pigeonhole prefilter: split the sketch into ``max_hamming + 1``
    chunks — a pair within the Hamming budget must agree on ≥1 chunk
    (it has fewer differing bits than chunks); join on
    (chunk_id, chunk_value) buckets, then verify exact Hamming via
    bit_count(xor). More chunks ⇒ shorter chunks ⇒ more candidates, so
    large budgets trade recall-guarantee for join size.
    """
    n_bits = 60 if portable else 64
    n_chunks = max_hamming + 1
    if n_chunks > n_bits:
        raise ValueError(f"max_hamming must be < {n_bits} for a {n_bits}-bit sketch")
    width = n_bits // n_chunks
    # the sketch table feeds both sides of the chunk self-join — persist so
    # the per-row per-bit-vote sketch is computed once
    sh = (
        simhash_df(df, text_col, id_col, shingle_n, portable)
        .withColumnRenamed("simhash", "_sim")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def chunk_val(i: int) -> Column:
        # last chunk absorbs the remainder bits so all n_bits are covered
        w = n_bits - width * (n_chunks - 1) if i == n_chunks - 1 else width
        shifted = F.shiftrightunsigned(F.col("_sim"), width * i)
        if w >= 64:
            return shifted  # full sketch; a 64-bit mask overflows lit()
        return shifted.bitwiseAND(F.lit((1 << w) - 1))

    chunk = F.array(
        *[
            F.struct(F.lit(i).alias("chunk_id"), chunk_val(i).alias("chunk_val"))
            for i in range(n_chunks)
        ]
    )
    banded = sh.select(id_col, "_sim", F.explode(chunk).alias("c")).select(
        id_col, "_sim", "c.chunk_id", "c.chunk_val"
    )
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            on=[
                F.col("a.chunk_id") == F.col("b.chunk_id"),
                F.col("a.chunk_val") == F.col("b.chunk_val"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a._sim").alias("_sa"),
            F.col("b._sim").alias("_sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
    return cands.select("id_a", "id_b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

def cosine_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    planes: int = 8,
    seed: int = 42,
    brute_force: bool = False,
) -> DataFrame:
    """Pairs with cosine ≥ threshold.

    Scale path: random-hyperplane LSH — sign-bit signature over ``planes``
    fixed pseudo-random hyperplanes (seeded xxhash64 of dimension index →
    deterministic ±1 plane entries), bucket by signature, exact cosine
    within buckets. ``brute_force=True`` validates on small data.
    """
    v = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
    norm = v.select(
        F.col(id_col),
        F.expr(f"transform(_v, x -> x / {_norm_sql('_v')})").alias("_u"),
    )
    if not brute_force:
        # ±1 hyperplanes: sign of xxhash64(dim_index, plane, seed)
        def plane_bit(p: int) -> Column:
            proj = F.aggregate(
                F.zip_with(
                    F.col("_u"),
                    F.sequence(F.lit(0), F.size("_u") - 1),
                    lambda x, i: x
                    * F.when(F.xxhash64(i, F.lit(p), F.lit(seed)) % 2 == 0, 1.0).otherwise(-1.0),
                ),
                F.lit(0.0),
                lambda acc, val: acc + val,
            )
            return F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0))

        sig = F.concat_ws("", *[plane_bit(p).cast("string") for p in range(planes)])
        norm = norm.withColumn("_bucket", sig)
        a, b = norm.alias("a"), norm.alias("b")
        joined = a.join(
            b,
            on=[F.col("a._bucket") == F.col("b._bucket"), F.col(f"a.{id_col}") < F.col(f"b.{id_col}")],
        )
    else:
        a, b = norm.alias("a"), norm.alias("b")
        joined = a.join(b, on=F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    cos = F.expr(_dot_sql("a._u", "b._u"))
    return joined.select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        cos.alias("cosine"),
    ).where(F.col("cosine") >= threshold)


# ---------------------------------------------------------------------------
# Persistent MinHash index — incremental dedup without re-sketching
# ---------------------------------------------------------------------------

def write_minhash_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    mode: str = "overwrite",
) -> None:
    """Persist the corpus sketch table — (id, signature, hashed shingles)
    — so later batches dedup against it WITHOUT re-reading or
    re-sketching the corpus text.

    This is the batch-incremental counterpart of the streaming LSH state
    store (``streaming/lsh_stream.py``): at 100 TB the corpus text is
    scanned once ever; each arriving batch joins its bands against the
    index (a fraction of corpus bytes: ``num_hashes×8 B`` signature +
    hashed shingles per doc, no text). The sketch parameters are stored
    in a sidecar and validated on read — mixing shingle sizes or band
    layouts would silently produce garbage candidates.

    ``mode="append"`` adds a new batch's rows (after it has been deduped
    via :func:`minhash_dedup_incremental`).
    """
    import json
    import os

    _check_bands(num_hashes, bands)
    meta = {"num_hashes": num_hashes, "bands": bands, "shingle_n": shingle_n,
            "id_col": id_col}
    meta_path = os.path.join(path, "_sketch_meta.json")
    if mode == "append" and os.path.exists(meta_path):
        # appending under different sketch parameters would mix
        # incompatible signatures/shingle sets in one directory and
        # silently produce garbage candidates — refuse
        with open(meta_path) as fh:
            existing = json.load(fh)
        if existing != meta:
            raise ValueError(
                f"index at {path} was built with {existing}, append "
                f"called with {meta} — sketch parameters are part of "
                f"the on-disk layout (rebuild to change them)")
    hs = _hashed_shingle_df(df, text_col, id_col, shingle_n)
    _sketch_table(hs, id_col, num_hashes).write.mode(mode).parquet(path)
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)


def read_minhash_index(spark, path: str) -> tuple[DataFrame, dict]:
    """(sketch table, sketch meta) for an index written by
    :func:`write_minhash_index`."""
    import json
    import os

    with open(os.path.join(path, "_sketch_meta.json")) as fh:
        meta = json.load(fh)
    _check_bands(meta["num_hashes"], meta["bands"])  # reject corrupt sidecars
    return spark.read.parquet(path), meta


def minhash_dedup_incremental(
    spark,
    new_docs: DataFrame,
    index_path: str,
    threshold: float = 0.8,
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs (exact Jaccard ≥ threshold) that involve at least
    one NEW document — against the indexed corpus and among the new
    batch itself — without touching corpus text.

    Sketches the new batch with the INDEX's parameters (validated match
    by construction), unions its sketch rows with the stored ones, and
    band-joins only buckets containing ≥1 new doc: the candidate space
    is new-batch-sized, not corpus-sized. Candidates verify with exact
    Jaccard over the hashed shingle sets, same contract as
    :func:`minhash_dedup` — output pairs are a subset of the full-corpus
    result restricted to pairs touching the new batch (pytest-asserted).

    Cache policy: this function persists NOTHING — its stated use case is
    a long-running loop over many batches, where per-call persists with
    no consuming action inside the function would pin one sketch table
    per batch in executor storage for the life of the session. The new
    batch's sketch is a single narrow projection; re-evaluating it per
    plan branch costs a few re-tokenizations of a batch-sized input,
    bounded and small next to the index re-reads. Callers that loop
    should ``persist()`` ``new_docs`` before calling and ``unpersist()``
    after materializing the result — the caller owns the action, so the
    caller owns the cache.
    """
    idx, meta = read_minhash_index(spark, index_path)
    id_col = meta["id_col"]
    num_hashes, bands = meta["num_hashes"], meta["bands"]

    new_hs = _hashed_shingle_df(new_docs, text_col, id_col, meta["shingle_n"])
    new_sk = _sketch_table(new_hs, id_col, num_hashes)
    # LAZY-checkpoint the unioned sketch relation: it feeds the band
    # explode's self-join (2 sides) and both Jaccard-verify sides, so
    # without a leaf the index parquet is re-read and the new batch
    # re-tokenized 4× per call (16-scan plan at r13 baseline). Unlike
    # the explicit persist() the docstring's cache policy rejects, a
    # lazy checkpoint materializes inside the caller's own action and
    # its blocks are released with the result DataFrame — a looping
    # caller holds at most one batch's sketch at a time.
    full = idx.withColumn("_new", F.lit(False)).unionByName(
        new_sk.withColumn("_new", F.lit(True))).localCheckpoint(eager=False)

    # at least one side is new: corpus×corpus pairs were handled when
    # THEY were the arriving batch
    cands = _band_join(
        full, id_col, num_hashes, bands, carry_cols=("_new",),
        extra_pred=F.col("a._new") | F.col("b._new"),
        on_overflow="truncate")
    sh = full.select(F.col(id_col), F.col("_hs").alias("_sh"))
    return _jaccard_on_pairs_sh(cands, sh, id_col) \
        .where(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution: connected components over near-dup pairs
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Resolve pair output into clusters: ``(node, component)`` for every
    id appearing in ``pairs``, where ``component`` is the minimum id
    reachable through the pair graph.

    This is the missing last step of a real dedup pipeline: LSH/Jaccard
    emits *pairs*, but keep-one-per-duplicate-set needs the transitive
    closure (A~B and B~C must land A, B, C in one cluster even when A~C
    was never a candidate pair).

    Algorithm: alternating large-star / small-star contraction (Kiveris
    et al., "Connected Components in MapReduce and Beyond") expressed as
    DataFrame ops — converges in O(log²) rounds independent of component
    diameter, unlike naive min-label propagation which needs O(diameter)
    rounds and dies on chain-shaped clusters. Per round: one groupBy per
    star step over the (shrinking) edge list; lineage is truncated every
    round with ``localCheckpoint`` so the plan stays O(1) deep. Only
    (long, long) edge pairs are ever shuffled. Convergence is detected
    with a count + order-independent xor checksum of the edge set (one
    tiny aggregate per round, no edge-set anti-join).

    No reference equivalent (SURVEY §2.11); pairs from
    :func:`minhash_dedup` / :func:`ngram_jaccard_pairs` /
    :func:`simhash_pairs` / :func:`cosine_dup_pairs` all feed this.
    """
    # the long cast below silently NULLs non-integral ids (e.g. string
    # doc_ids), which would drop every edge and make dedup a no-op that
    # keeps all duplicates — reject up front (same contract as
    # sampling._pick_hash); string ids need a dense id mapping first
    dts = dict(pairs.dtypes)
    for c in (id_a, id_b):
        if dts.get(c) not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"connected_components needs integral id columns, got "
                f"{c}={dts.get(c)!r}; map string ids to dense longs "
                f"(e.g. zipWithIndex / monotonically_increasing_id + join) "
                f"before clustering")
    from bigdata_tag_system_spark.checkpoint import loop_invariant_leaf

    edges = loop_invariant_leaf(
        pairs.select(F.col(id_a).cast("long").alias("s"), F.col(id_b).cast("long").alias("d"))
        .where(F.col("s").isNotNull() & F.col("d").isNotNull() & (F.col("s") != F.col("d")))
        .distinct(),
        # checkpoint BEFORE deriving nodes: pairs may be an expensive
        # LSH/PPJoin plan, and both the iteration chain and the final
        # node join must read the materialized edge list, not re-run it.
        # §5 SIZE POLICY (r14): the pair relation is edge-sized →
        # reliable checkpoint on clusters with a checkpoint dir
        # (bigdata_tag_system_spark/checkpoint.py).
        eager=True,
    )
    nodes = (
        edges.select(F.col("s").alias("node"))
        .union(edges.select(F.col("d").alias("node")))
        .distinct()
    )

    def _sym(e: DataFrame) -> DataFrame:
        return e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))

    # Per-neighborhood minima are computed with a WINDOW over the
    # partition key instead of groupBy + join-back (r13, guide §2.4):
    # the join-back formulation shuffles the symmetrized edges TWICE
    # per star step (once into the aggregate, once into the join) plus
    # a third exchange for the trailing distinct; the window computes
    # the same per-key min in ONE exchange + sort. Values are identical
    # by construction (min over the s-partition ≡ grouped min joined
    # back on s; the duplicated per-row group emission in small-star
    # collapses in the same .distinct() the old plan needed anyway).
    # Skew note for 100 TB: a hub key serializes one window partition —
    # exactly the rows the old plan's sort-merge join would also send
    # to one partition — and the large-star step exists to shrink hubs
    # after round one, so the exposure window is a single round. Each
    # star step measured ~2× fewer exchanges and the CC-dominated
    # entries ~1.5× end-to-end at sf0.1.
    #
    # Both star steps are rendered as ONE parsed SQL statement per
    # round (r14, guide §5): the Column-API construction paid ~800 py4j
    # round-trips per round (~0.4 s driver-blocked over a 5-round
    # loop). The CTE bodies are verbatim transcriptions of the former
    # per-step transformations — large-star: m = least(min(d) OVER
    # (PARTITION BY s), s) over the symmetrized edges, re-point every
    # LARGER neighbor at m, no trailing distinct (its only consumer is
    # small-star, whose window-min is duplicate-invariant; r14);
    # small-star: orient high→low, m = min of the smaller neighborhood
    # ∪ {u}, re-point u and every smaller neighbor at m, one trailing
    # DISTINCT restoring set semantics — so the analyzed plan and the
    # fixed point are unchanged; only the driver RPC count drops.
    _round_sql = """
        WITH ls_sym AS (SELECT s, d FROM {cur}
                        UNION ALL SELECT d AS s, s AS d FROM {cur}),
        ls_w AS (SELECT s, d,
                        least(min(d) OVER (PARTITION BY s), s) AS m
                 FROM ls_sym),
        ls_f AS (SELECT d AS s, m AS d FROM ls_w WHERE d > s),
        ls AS (SELECT s, d FROM ls_f WHERE s != d),
        ss_sym AS (SELECT s, d FROM ls
                   UNION ALL SELECT d AS s, s AS d FROM ls),
        ss_lo AS (SELECT s, d, min(d) OVER (PARTITION BY s) AS m
                  FROM ss_sym WHERE d < s),
        ss_u AS (SELECT d AS s, m AS d FROM ss_lo
                 UNION ALL SELECT s, m AS d FROM ss_lo)
        SELECT DISTINCT s, d FROM ss_u WHERE s != d
    """
    spark = pairs.sparkSession

    def _checksum(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # order-independent, map-side-combinable: xor-agg of edge hashes
            F.coalesce(F.expr("bit_xor(xxhash64(s, d))"), F.lit(0)).alias("x"),
        ).collect()[0]
        return (row["n"], row["x"])

    cur = edges
    prev_sig = None
    converged = False
    for _ in range(max_iter):
        # LAZY checkpoint: the checksum aggregate right below is the
        # materializing action, so each round runs ONE job (star steps +
        # checkpoint + checksum fused), not two — at bench scale the
        # per-round job overhead dominates the tiny shuffles (measured
        # ~1.5× on the sf0.1 pipeline); later rounds still read the
        # materialized RDD, and the plan stays O(1) deep either way.
        # (Two alternations per checkpoint was tried and measured ~2×
        # SLOWER — the doubled uncheckpointed stage graph costs more
        # than the saved convergence aggregates.)
        nxt = spark.sql(_round_sql, cur=cur).localCheckpoint(eager=False)
        sig = _checksum(nxt)
        # checksum equality is necessary but a (count, xor) collision
        # could accept a non-fixed-point — confirm exactly ONCE at the
        # apparent fixed point: counts already match, so an empty
        # multiset difference proves equality (one cheap job total, not
        # per round; both sides are localCheckpointed)
        if sig == prev_sig and nxt.exceptAll(cur).limit(1).count() == 0:
            cur = nxt
            converged = True
            break
        prev_sig = sig
        cur = nxt
    if not converged:
        # labels from a non-converged edge set would silently split true
        # components into several clusters — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            f"raise max_iter (star contraction needs O(log² n) rounds)")
    # fixed point: every edge connects a component root to a member, so
    # component(node) = min(node, min neighbor); roots keep themselves
    comp = (
        _sym(cur)
        .groupBy(F.col("s").alias("node"))
        .agg(F.least(F.min("d"), F.first("s")).alias("component"))
    )
    # nodes that lost all edges during contraction (can't happen for a
    # fixed point reached via small-star, but cheap insurance) —
    # default to self
    return (
        nodes.join(comp, "node", "left")
        .select("node", F.coalesce("component", "node").alias("component"))
    )


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    keep_col: str | None = None,
) -> DataFrame:
    """Keep one representative row per duplicate cluster.

    ``pairs`` is any near-dup pair output; rows never appearing in a
    pair survive untouched. Default representative is the min id (an
    anti-join removes every clustered node that is not its component's
    minimum). With ``keep_col``, the representative is instead the
    cluster row maximizing that column — what production dedup actually
    wants (keep the longest / highest-quality copy, not the oldest id);
    ties break to the lowest id, NULL scores sort lowest. Cost: one
    extra component-keyed aggregate over cluster members only (the
    clustered subset, not the corpus)."""
    cc = connected_components(pairs, id_a=id_a, id_b=id_b)
    if keep_col is None:
        losers = cc.where(F.col("node") != F.col("component")) \
            .select(F.col("node").alias(id_col))
        return df.join(losers, id_col, "left_anti")
    scored = cc.join(
        df.select(F.col(id_col).alias("node"), F.col(keep_col).alias("_score")),
        "node")
    # max over (score, -id) structs: highest score wins, tie → lowest id;
    # NULL score sorts below any value, so a scored copy always beats an
    # unscored one
    winners = scored.groupBy("component").agg(
        F.max(F.struct(F.col("_score"), (-F.col("node")).alias("_negid")))
        .alias("_w"))
    losers = (
        scored.join(winners, "component")
        .where(F.col("node") != -F.col("_w._negid"))
        .select(F.col("node").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


def fuzzy_edit_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 10,
    gram_k: int = 4,
) -> DataFrame:
    """Character-level near-dup pairs: Levenshtein distance ≤ ``max_dist``.

    Complements the token-set joins (:func:`ngram_jaccard_pairs`) for
    corpora where edits are intra-word (OCR noise, typo clones): edit
    distance sees a one-char change per word that shatters every token
    shingle. Reference scope per ``SURVEY.md §2.11``; no reference
    counterpart (the reference has no fuzzy matching at all).

    Scale shape — q-gram PREFIX-FILTER blocking (content-based), never
    all-pairs. A first cut used length-band blocking (every pair of
    similarly-sized docs became a candidate); measured 11.7× runtime
    for 5× corpus — Σ bucket² is quadratic in corpus density, a
    100 TB killer. The prefix filter is the AllPairs/PPJoin argument
    transplanted to character q-grams:

    1. one edit touches ≤ ``k`` positional q-grams, so d edits destroy
       ≤ ``k·d`` DISTINCT grams per side: ``|G(A)∖G(B)| ≤ k·d``
       (Gravano et al.'s count filter, set form; docs shorter than k
       contribute their whole text as the single gram, for which the
       bound holds trivially);
    2. order all grams by (corpus occurrence count, gram hash) — a
       global total order; take each doc's ``k·d + 1`` smallest
       (rarest) DISTINCT grams as its PREFIX. For any true pair, the
       globally-smallest SHARED gram g* is preceded in A's order only
       by non-shared grams (≤ k·d of them), so g* sits inside A's
       prefix — and symmetrically B's: every true pair collides on
       ≥ 1 prefix gram. The argument needs only SOME single global
       total order (rare-first is the selectivity heuristic), so
       occurrence count serves as well as distinct-doc df and needs
       no gram dedup before the frequency aggregate. No length cases,
       no band boundaries;
    3. candidates join on the 8-byte gram hash — buckets hold only
       docs for which that gram is among their rarest, so hot grams
       never form hot buckets;
    4. survivors pass the length filter, a character-histogram L1
       lower bound (one edit moves ≤ 2 units of L1 mass between bins;
       remainder bin keeps the projection 1-Lipschitz), then the
       bounded DP — Spark's 3-arg ``levenshtein`` early-exits past the
       threshold, O(len·max_dist) instead of O(len²). The DP hides
       behind a CaseWhen guard: a plain trailing conjunct was measured
       NOT short-circuiting after the cheap filters, and a downstream
       ``.where(dist ≤ d)`` gets merged into the join condition AHEAD
       of them by Catalyst.

    Pair output is (id_a, id_b, dist), id_a < id_b, each pair once.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    if gram_k < 1:
        raise ValueError(f"gram_k must be >= 1, got {gram_k}")
    prefix_len = gram_k * max_dist + 1
    hist_chars = " etaoinsrhldcu"
    text = F.col(text_col)
    n = F.length(text).cast("long")
    counts = [
        F.length(text) - F.length(F.replace(text, F.lit(ch)))
        for ch in hist_chars
    ]
    base = df.where(text.isNotNull()).select(
        F.col(id_col), text.alias(text_col), n.alias("_n"),
        F.array(*counts).alias("_h"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # positional q-gram hashes via EXPLODE + whole-stage-codegen'd
    # substr/xxhash, not a transform() lambda building a per-row array
    # (r14, guide §1.2): higher-order-function lambdas evaluate
    # interpreted, per element — measured 2.3× slower for the ~800
    # hashes/doc this blocking needs. No per-doc DISTINCT here: the
    # r14 form fuses the gram dedup into the ranking window below
    # (dense_rank + adjacent-duplicate drop), removing the
    # dropDuplicates exchange of the full gram stream outright
    # (guide §2.4; measured 2.2 → 1.1 s for the prefix phase at
    # sf0.1). Persisted: freq and the prefix ranking both consume it.
    ex = (
        base.select(
            F.col(id_col), F.col("_n"),
            F.explode(F.sequence(
                F.lit(1), F.greatest(F.col("_n") - gram_k + 1, F.lit(1)))
            ).alias("_i"),
            F.col(text_col).alias("_t"))
        .select(F.col(id_col), F.col("_n"),
                F.xxhash64(F.expr(f"substr(_t, _i, {int(gram_k)})"))
                .alias("_gr"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # _f counts gram OCCURRENCES (not distinct-doc df): the prefix
    # argument in the docstring holds for ANY single global total
    # order on grams — (occurrence count, hash) is one, keeps the
    # rare-first selectivity (measured 49,664 vs 49,618 candidates at
    # sf0.1), and lets freq run map-side-combinable over the raw gram
    # stream with no prior dedup.
    freq = ex.groupBy("_gr").agg(F.count(F.lit(1)).alias("_f"))
    from pyspark.sql import Window as _W

    # ONE window pass does both the per-doc gram dedup and the prefix
    # ranking: duplicates of a gram are adjacent under the (_f, _gr)
    # order, so `lag(_gr) != _gr` keeps exactly one row per distinct
    # gram, and dense_rank (which counts distinct (_f, _gr) keys, i.e.
    # distinct grams) caps the kept rows at the prefix_len smallest
    # DISTINCT grams — the same prefix-filter completeness bound, one
    # exchange instead of two.
    w = _W.partitionBy(id_col).orderBy("_f", "_gr")
    prefix = (
        ex.join(freq, "_gr")
        .withColumn("_dr", F.dense_rank().over(w))
        .withColumn("_lg", F.lag("_gr").over(w))
        .where((F.col("_dr") <= prefix_len)
               & (F.col("_lg").isNull() | (F.col("_lg") != F.col("_gr"))))
        .select(id_col, "_n", "_gr")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    gram_cands = (
        a.join(
            b,
            on=[
                F.col("a._gr") == F.col("b._gr"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
                F.abs(F.col("a._n") - F.col("b._n")) <= max_dist,
            ],
        )
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
    )
    # The shared-gram guarantee needs one side to own > k·d positional
    # grams (len ≥ k·(d+1)) — d edits destroy at most k·d gram
    # OCCURRENCES, so such a side always keeps a surviving (= shared)
    # gram, and the smallest shared gram sits in both prefixes. Pairs
    # where BOTH sides are shorter can have an EMPTY gram overlap
    # (hypothesis found ("", "a") at d=1), so the short×short subset —
    # bounded-length strings, trivial DPs — goes through length-band
    # blocking instead. The two candidate sets are unioned before one
    # shared verify; the split threshold makes them cover all pairs.
    short_len = gram_k * (max_dist + 1)
    w_band = max_dist + 1
    short = base.where(F.col("_n") < short_len).select(
        F.col(id_col), F.col("_n"),
        F.floor(F.col("_n") / w_band).cast("long").alias("_b"))
    sl = short.select(
        "*", F.explode(F.array(F.col("_b"), F.col("_b") + 1)).alias("_bk"))
    sr = short.withColumn("_bk", F.col("_b"))
    sa, sb = sl.alias("a"), sr.alias("b")
    short_cands = (
        sa.join(
            sb,
            on=[
                F.col("a._bk") == F.col("b._bk"),
                F.col(f"a.{id_col}") != F.col(f"b.{id_col}"),
                F.abs(F.col("a._n") - F.col("b._n")) <= max_dist,
            ],
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}"))
            .alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}"))
            .alias("id_b"),
        )
    )
    cand_ids = gram_cands.unionByName(short_cands).distinct()
    # two-phase verify (r13, guide §2.3 "decide with small rows, move
    # big rows once"): the histogram L1 bound kills ~98% of candidates
    # (measured 479k → 8k at sf0.1), so run it over NARROW metadata
    # (id, length, 14-int histogram) first and fetch document text only
    # for the survivors — the old single join carried both full texts
    # through every candidate row before the cheap filter could drop
    # it. Emitted rows are identical: the L1-filtered DP equals the old
    # CaseWhen-guarded DP (rows failing L1 produced dist=-1 and were
    # dropped by the same predicate).
    meta_a = base.select(
        F.col(id_col).alias("id_a"),
        F.col("_n").alias("_na"), F.col("_h").alias("_ha"))
    meta_b = base.select(
        F.col(id_col).alias("id_b"),
        F.col("_n").alias("_nb"), F.col("_h").alias("_hb"))
    k = len(hist_chars)
    l1 = F.abs(
        (F.col("_na") - F.aggregate(
            F.col("_ha"), F.lit(0), lambda acc, x: acc + x))
        - (F.col("_nb") - F.aggregate(
            F.col("_hb"), F.lit(0), lambda acc, x: acc + x)))
    for i in range(1, k + 1):
        l1 = l1 + F.abs(
            F.element_at(F.col("_ha"), i) - F.element_at(F.col("_hb"), i))
    survivors = (
        cand_ids.join(meta_a, "id_a").join(meta_b, "id_b")
        .where(l1 <= 2 * max_dist)
        .select("id_a", "id_b"))
    text_a = base.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta"))
    text_b = base.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb"))
    dp = F.levenshtein(F.col("_ta"), F.col("_tb"), max_dist)
    return (
        survivors.join(text_a, "id_a").join(text_b, "id_b")
        .select("id_a", "id_b", dp.alias("dist"))
        .where((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
    )


def reciprocal_best_pairs(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    score_col: str = "jaccard",
) -> DataFrame:
    """Mutual-best-match filter over a scored pair relation: keep
    (a, b) only when b is a's highest-scoring counterpart AND a is
    b's — the record-linkage precision refinement (a boilerplate page
    similar to 50 others is everyone's 2nd-best match and survives
    threshold filters, but is almost nobody's MUTUAL best).

    Ties break on the smaller counterpart id — a total order, so the
    result is a pure function of the pair relation and an external
    oracle replays it. Scale shape: symmetrize (map-only union), one
    per-id window pass on the id key, one self-join of the best-match
    relation (≤ one row per id). Never touches text.
    """
    from pyspark.sql import Window

    sym = pairs.select(
        F.col(id_a).alias("_src"), F.col(id_b).alias("_dst"),
        F.col(score_col).alias("_s"),
    ).unionAll(pairs.select(
        F.col(id_b).alias("_src"), F.col(id_a).alias("_dst"),
        F.col(score_col).alias("_s"),
    ))
    w = Window.partitionBy("_src").orderBy(F.desc("_s"), F.asc("_dst"))
    best = sym.withColumn("_rn", F.row_number().over(w)) \
        .where(F.col("_rn") == 1).drop("_rn")
    other = best.select(
        F.col("_src").alias("_osrc"), F.col("_dst").alias("_odst"))
    return (
        best.where(F.col("_src") < F.col("_dst"))
        .join(other,
              (F.col("_dst") == F.col("_osrc"))
              & (F.col("_src") == F.col("_odst")))
        .select(F.col("_src").alias(id_a), F.col("_dst").alias(id_b),
                F.col("_s").alias(score_col))
    )


def _portable_band_keys(
    sh: DataFrame,
    id_col: str,
    num_hashes: int,
    rows_per_band: int,
) -> DataFrame:
    """(id, _band, _bk) portable LSH band keys over a `_shingle_df`
    relation: hash i = min over shingles of md5-60("{i}|{shingle}"),
    band key = md5 of the comma-joined signature slice. Shared by
    :func:`minhash_portable_pairs` (candidate join) and
    :func:`lsh_bucket_stats` (occupancy census) so both consume the
    byte-identical banding the oracles replay."""
    from bigdata_tag_system_spark.functions.text import portable_hash60

    ex = sh.select(F.col(id_col), F.explode("_sh").alias("_s"))
    idx = F.explode(F.array(*[F.lit(i) for i in range(num_hashes)]))
    hashed = ex.select(
        F.col(id_col), F.col("_s"), idx.alias("_i"),
    ).select(
        id_col, "_i",
        portable_hash60(
            F.concat(F.col("_i").cast("string"), F.lit("|"),
                     F.col("_s"))).alias("_h"),
    )
    sig = hashed.groupBy(id_col, "_i").agg(F.min("_h").alias("_mh"))
    return (
        sig.withColumn("_band", F.expr(f"_i DIV {int(rows_per_band)}"))
        .groupBy(id_col, "_band")
        .agg(F.md5(F.concat_ws(",", F.transform(
            F.array_sort(F.collect_list(F.struct("_i", "_mh"))),
            lambda s: s["_mh"].cast("string")))).alias("_bk"))
    )


def lsh_bucket_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    band_keys: DataFrame | None = None,
) -> DataFrame:
    """LSH band-bucket occupancy census — the operational dashboard for
    the MinHash pipeline: per band, how many buckets exist, how hot the
    hottest is, and the candidate-pair volume the band join WILL
    generate (Σ s·(s−1)/2 over its buckets). A band whose max bucket
    explodes signals degenerate content (empty docs, boilerplate) that
    needs a hot-bucket cap BEFORE the join runs — this census is how
    you see it coming without running the join.

    Same portable banding as :func:`minhash_portable_pairs`
    (byte-replayable md5-60 math), aggregated instead of joined: one
    (band, bucket) hash agg then a ≤#bands rollup. Returns one row per
    band: (band, n_docs, n_buckets, max_bucket, singleton_buckets,
    candidate_pairs).
    """
    if num_hashes % rows_per_band:
        raise ValueError(
            f"num_hashes={num_hashes} must divide into bands of "
            f"rows_per_band={rows_per_band}")
    if band_keys is None:
        sh = _shingle_df(df, text_col, id_col, shingle_n)
        band_keys = _portable_band_keys(
            sh, id_col, num_hashes, rows_per_band)
    per_bucket = band_keys.groupBy("_band", "_bk").agg(
        F.count(F.lit(1)).alias("_s"))
    return (
        per_bucket.groupBy(F.col("_band").alias("band"))
        .agg(
            F.sum("_s").alias("n_docs"),
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("_s").alias("max_bucket"),
            F.sum(F.when(F.col("_s") == 1, 1).otherwise(0))
            .alias("singleton_buckets"),
            F.sum(F.expr("_s * (_s - 1) DIV 2")).alias("candidate_pairs"),
        )
        .orderBy("band")
    )


def minhash_portable_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    band_keys: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs with a fully PORTABLE signature: hash
    ``i`` of a document is ``min`` over its shingles of the md5-60 hash
    of ``"{i}|{shingle}"``, band keys are md5 over the comma-joined
    signature slice — every byte recomputable by an external SQL
    engine, so the ORACLE REPLAYS THE CANDIDATE GENERATION ITSELF, not
    just the exact-verified survivors (the xxhash64 default,
    :func:`minhash_dedup`, verifies its output against the exact pair
    set instead — cheaper per row, but its S-curve is taken on faith).

    Output = candidate pairs (≥1 shared band) passing exact-Jaccard
    verification at ``threshold``. With a deliberately small signature
    (k=8, r=2 ⇒ recall at j=0.5 ≈ 68%) the result genuinely DIFFERS
    from the exact pair set — which is exactly what makes the replay a
    bit-level audit of the banding math rather than a tautology.

    Scale shape mirrors the default: per-(doc, i) min-hash is one
    map-side-combining aggregate over (shingles × k) rows, band keys
    one more; the self-join runs on band buckets only.
    """
    if num_hashes % rows_per_band:
        raise ValueError(
            f"num_hashes={num_hashes} must divide into bands of "
            f"rows_per_band={rows_per_band}")
    sh = _shingle_df(df, text_col, id_col, shingle_n)
    bkeys = band_keys if band_keys is not None else _portable_band_keys(
        sh, id_col, num_hashes, rows_per_band)
    a = bkeys.select(F.col(id_col).alias("id_a"), "_band", "_bk")
    b = bkeys.select(F.col(id_col).alias("id_b"), "_band", "_bk")
    cand = (
        a.join(b, ["_band", "_bk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct()
    )
    scored = _jaccard_on_pairs_sh(cand, sh, id_col)
    return scored.where(F.col("jaccard") >= threshold)


def split_leakage_report(
    pairs: DataFrame,
    splits: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    split_col: str = "split",
) -> DataFrame:
    """Train/test contamination audit: near-duplicate pairs that CROSS
    a split boundary.

    A hash split can guarantee a KEY never lands in two splits, but it
    cannot know that two different keys carry near-identical text —
    the classic eval-contamination path (the test set "leaks" via a
    near-dup of a training doc), and the reason dedup must run BEFORE
    or ACROSS the split, not within each split independently. This
    audit joins any near-dup pair relation (MinHash/SimHash/fuzzy —
    whatever the pipeline produced) against the split assignment and
    reports, per unordered split combination, the pair count and an
    id-sum checksum (so the oracle pins WHICH pairs leak, not just how
    many). ``cross_split = true`` rows are the contamination.

    Scale shape: two broadcast-or-shuffle hash joins of the PAIR
    relation (already banded/filtered — orders of magnitude smaller
    than the corpus) against the narrow (id, split) relation, then a
    ≤ |splits|² rollup. Nothing rescans text.
    """
    s = splits.select(F.col(id_col), F.col(split_col))
    j = (
        pairs.select(id_a, id_b)
        .join(s.withColumnRenamed(id_col, id_a)
              .withColumnRenamed(split_col, "_sa"), id_a)
        .join(s.withColumnRenamed(id_col, id_b)
              .withColumnRenamed(split_col, "_sb"), id_b))
    lo = F.least("_sa", "_sb")
    hi = F.greatest("_sa", "_sb")
    return (
        j.groupBy(lo.alias("split_lo"), hi.alias("split_hi"))
        .agg(F.count(F.lit(1)).alias("n_pairs"),
             F.sum(F.col(id_a) + F.col(id_b)).alias("pair_id_sum"))
        .select("split_lo", "split_hi",
                (F.col("split_lo") != F.col("split_hi"))
                .alias("cross_split"),
                "n_pairs", "pair_id_sum")
        .orderBy("split_lo", "split_hi"))


def minhash_recall_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    band_keys: DataFrame | None = None,
    exact_pairs: DataFrame | None = None,
) -> DataFrame:
    """Measured recall/precision of the portable LSH candidate stage
    against the EXACT pair set — the eval harness for tuning (k, r):
    theory gives the S-curve, this measures it on YOUR corpus, which is
    how you justify a banding config before a 100 TB run.

    Ground truth is :func:`ngram_jaccard_pairs` (prefix-filtered but
    recall-LOSSLESS — an exact result); candidates are the pre-verify
    band join of :func:`minhash_portable_pairs` (same
    `_portable_band_keys`). All metrics are integers:
    ``recall_bp = 10000·hits DIV n_exact`` (candidate recall — the
    verify step keeps every true pair it is shown, so this IS pipeline
    recall), ``precision_bp = 10000·hits DIV n_candidates`` (the share
    of band candidates worth verifying — the verify-stage cost signal).
    Returns one row.
    """
    exact = (exact_pairs if exact_pairs is not None
             else ngram_jaccard_pairs(
                 df, text_col, id_col, threshold, shingle_n)
             ).select("id_a", "id_b")
    if band_keys is not None:
        bkeys = band_keys
    else:
        sh = _shingle_df(df, text_col, id_col, shingle_n)
        bkeys = _portable_band_keys(
            sh, id_col, num_hashes, rows_per_band)
    a = bkeys.select(F.col(id_col).alias("id_a"), "_band", "_bk")
    b = bkeys.select(F.col(id_col).alias("id_b"), "_band", "_bk")
    cand = (
        a.join(b, ["_band", "_bk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct()
    )
    return candidate_recall_report(cand, exact)


def candidate_recall_report(cand: DataFrame, exact: DataFrame) -> DataFrame:
    """Recall/precision of ANY (id_a, id_b) candidate pair relation
    against an exact pair set — the generic blocking-eval harness
    behind :func:`minhash_recall_report`, equally applicable to
    sorted-neighborhood windows, SimHash chunks, or a custom blocker.

    n_candidates and n_hits come from ONE pass over the candidate
    relation (left join against the unique exact pairs + one agg) — no
    persist, so repeated calls in long-lived processes leak no cached
    blocks. All metrics integer basis points; one row.
    """
    cand = cand.select("id_a", "id_b")
    exact = exact.select("id_a", "id_b")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    cand_stats = (
        cand.join(exact.withColumn("_hit", F.lit(1)),
                  ["id_a", "id_b"], "left")
        .agg(F.count(F.lit(1)).alias("n_candidates"),
             F.coalesce(F.sum(F.coalesce("_hit", F.lit(0))), F.lit(0))
             .cast("bigint").alias("n_hits")))
    return (
        n_exact.crossJoin(F.broadcast(cand_stats))
        .select(
            "n_exact", "n_candidates", "n_hits",
            F.when(F.col("n_exact") > 0,
                   F.expr("(10000 * n_hits) DIV n_exact"))
            .alias("recall_bp"),
            F.when(F.col("n_candidates") > 0,
                   F.expr("(10000 * n_hits) DIV n_candidates"))
            .alias("precision_bp"))
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 5,
    block_chars: int = 4,
) -> DataFrame:
    """Blocked sorted-neighborhood candidate pairs (Hernández–Stolfo
    SNM) — the THIRD candidate-generation family beside hash banding
    (MinHash/SimHash) and prefix filtering (PPJoin): sort records by a
    key, slide a window of ``window`` positions, and pair every record
    with its in-window successors. Catches near-dups that share a
    PREFIX (typo tails, version suffixes) even when shingle overlap is
    too low for banding to bucket them.

    Spark-first shape: the sort key is the normalized text; records
    block on its first ``block_chars`` characters, so the rank window
    is PARTITIONED (never a global sort — the classic single-sequence
    SNM is recovered per block, the standard multi-pass/blocked SNM
    variant). Each row emits its ``window`` successors via ``lead()``
    in ONE window pass — no self-join, no block-wise cross product:
    candidate volume is exactly ≤ window · |rows|. Pairs keep their
    rank distance so callers can sweep the window size the way
    ``dedup_threshold_sweep`` sweeps Jaccard.

    Returns (id_a, id_b, rank_distance) with id_a < id_b not
    guaranteed — id order follows SORT order (ties on the key break by
    id, so equal-key pairs DO ascend); canonicalize downstream if a
    symmetric relation is needed.
    """
    from pyspark.sql import Window

    from bigdata_tag_system_spark.functions.text import normalize_text

    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    base = df.select(
        F.col(id_col), normalize_text(text_col).alias("_k")
    ).where(F.col("_k").isNotNull() & (F.col("_k") != ""))
    base = base.withColumn(
        "_block", F.substring("_k", 1, block_chars))
    w = Window.partitionBy("_block").orderBy("_k", id_col)
    # window expressions can't live inside a generator: evaluate the
    # leads in one window pass first, explode the assembled array after
    led = base.select(
        F.col(id_col),
        *[F.lead(id_col, i).over(w).alias(f"_n{i}")
          for i in range(1, window + 1)])
    succ = F.array(*[
        F.struct(F.col(f"_n{i}").alias("nid"), F.lit(i).alias("dist"))
        for i in range(1, window + 1)
    ])
    return (
        led.select(F.col(id_col), F.explode(succ).alias("_s"))
        .where(F.col("_s.nid").isNotNull())
        .select(
            F.col(id_col).alias("id_a"),
            F.col("_s.nid").alias("id_b"),
            F.col("_s.dist").alias("rank_distance"),
        )
    )


def fellegi_sunter_weights(
    records: DataFrame,
    match_pairs: DataFrame,
    fields: dict[str, Column],
    id_col: str = "doc_id",
) -> DataFrame:
    """Fellegi–Sunter probabilistic record-linkage weights: per
    comparison field, ``m`` = P(field agrees | pair is a match),
    estimated over a supplied true-match pair relation, and ``u`` =
    P(field agrees | random pair), computed in CLOSED FORM from the
    field's value distribution — ``Σ n_v(n_v−1) / N(N−1)`` — never by
    sampling random pairs. The log-ratio agreement/disagreement
    weights are what a linkage pipeline sums per candidate pair to
    decide link / possible / non-link (Fellegi & Sunter, JASA 1969).

    One fact scan for every field (explode-stacked, the
    ``mutual_information`` pattern) + one pass over the match pairs
    (two dimension joins on id). Agreement is null-safe equality (NULL
    is a matchable state, the engine's rule convention). m and u are
    add-one smoothed before the logs so a field that agrees on every
    match (m=1) cannot emit an infinite weight; the raw integer
    basis-point ratios are reported unsmoothed alongside.
    """
    named = [(name, col.cast("string")) for name, col in fields.items()]
    keyed = records.select(
        F.col(id_col).alias("_id"),
        *[c.alias(f"_f_{n}") for n, c in named])

    # u: closed-form random-pair agreement from the value histogram,
    # all fields in one scan
    stacked = keyed.select(F.explode(F.array(*[
        F.struct(F.lit(n).alias("field"),
                 F.coalesce(F.col(f"_f_{n}"), F.lit("␀")).alias("v"))
        for n, _ in named
    ])).alias("s")).select("s.field", "s.v")
    hist = stacked.groupBy("field", "v").agg(
        F.count(F.lit(1)).alias("_nv"))
    # Both Σ n_v(n_v−1) and N(N−1) are products of data-scale counts:
    # widen to decimal(38,0) BEFORE the multiply so the cross-product
    # cannot wrap int64 past ~3e9 records (int64 holds sums fine; it is
    # the n·(n−1) products that overflow first).
    _nv_d = F.col("_nv").cast("decimal(38,0)")
    u_side = hist.groupBy("field").agg(
        F.sum(_nv_d * (_nv_d - 1)).alias("u_num"),
        (F.sum(_nv_d) * (F.sum(_nv_d) - 1)).alias("u_den"))

    # m: agreement census over the supplied true-match pairs
    a = keyed.select(F.col("_id").alias("id_a"),
                     *[F.col(f"_f_{n}").alias(f"_a_{n}")
                       for n, _ in named])
    b = keyed.select(F.col("_id").alias("id_b"),
                     *[F.col(f"_f_{n}").alias(f"_b_{n}")
                       for n, _ in named])
    joined = (match_pairs.select("id_a", "id_b")
              .join(a, "id_a").join(b, "id_b"))
    m_aggs = []
    for n, _ in named:
        m_aggs.append(F.sum(
            F.col(f"_a_{n}").eqNullSafe(F.col(f"_b_{n}")).cast("long")
        ).alias(f"_m_{n}"))
    # An empty match-pair relation would yield m_den=0 / NULL m_num and
    # silently NULL every weight — fail loudly at execution instead
    # (assert_true runs JVM-side in the same pass; no extra job).
    m_row = joined.agg(F.count(F.lit(1)).alias("_pairs"), *m_aggs).where(
        F.assert_true(
            F.col("_pairs") > 0,
            F.lit("fellegi_sunter_weights: match_pairs joined to zero "
                  "rows — supply a non-empty true-match pair relation"),
        ).isNull())
    m_side = m_row.select(F.explode(F.array(*[
        F.struct(F.lit(n).alias("field"),
                 F.col(f"_m_{n}").alias("m_num"),
                 F.col("_pairs").alias("m_den"))
        for n, _ in named
    ])).alias("s")).select("s.field", "s.m_num", "s.m_den")

    out = m_side.join(u_side, "field")
    m_s = (F.col("m_num") + 1.0) / (F.col("m_den") + 2.0)
    u_s = (F.col("u_num") + 1.0) / (F.col("u_den") + 2.0)
    log2 = float(__import__("math").log(2.0))
    return out.select(
        "field",
        F.col("m_den").cast("long").alias("n_match_pairs"),
        F.expr("(10000 * m_num) DIV m_den").alias("m_bp"),
        # u_num/u_den are O(N²) — cross-multiplying by 10⁴ needs the
        # decimal headroom well before the counts themselves overflow
        F.expr("(10000 * CAST(u_num AS DECIMAL(38,0))) DIV u_den")
        .alias("u_bp"),
        F.round(F.log(m_s / u_s) / F.lit(log2), 4)
        .alias("weight_agree"),
        F.round(F.log((F.lit(1.0) - m_s) / (F.lit(1.0) - u_s))
                / F.lit(log2), 4).alias("weight_disagree"),
    ).orderBy("field")


def idf_weighted_rescore(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """IDF-weighted Jaccard rescoring of an existing candidate pair
    relation: ``WJ = Σ_{s∈A∩B} ln(N/df(s)) / Σ_{s∈A∪B} ln(N/df(s))``
    — the boilerplate discount. Two docs sharing only corpus-common
    shingles (headers, navigation chrome) score high on plain Jaccard
    and near zero here; two docs sharing RARE content score higher.
    The ``flipped`` flag marks pairs whose keep/drop decision at
    ``threshold`` changes under weighting — exactly the pairs a plain
    near-dup pass mishandles.

    Never generates pairs: it re-scores a supplied candidate relation
    (an LSH/SNM/PPJoin output — bounded by that stage's blocking), so
    the cost is one (pair, shingle) shuffle over candidates plus the
    shingle-df aggregate any TF-IDF pass already pays.
    """
    from bigdata_tag_system_spark.functions.text import word_shingles

    sh = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(word_shingles(F.col(text_col), shingle_n))
        .alias("_s"))
    n_docs = docs.select(
        F.count(F.when(F.col(text_col).isNotNull(), 1)).alias("_n"))
    dfreq = sh.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
    # smoothed IDF ln((N+1)/df) > 0 always: the unsmoothed ln(N/df)
    # zeroes every corpus-universal shingle, and a pair sharing ONLY
    # such shingles would divide by a zero weight mass
    w = (dfreq.crossJoin(F.broadcast(n_docs))
         .select("_s", F.log((F.col("_n") + 1) / F.col("_df"))
                 .alias("_w")))

    base = pairs.select("id_a", "id_b")
    # only docs that appear in a candidate pair matter for the per-pair
    # shingle sets — semi-join-reduce the exploded shingle relation and
    # lazy-checkpoint it, so the corpus-wide explode runs once (for the
    # document frequencies) and the pair-side explode once (reduced),
    # instead of three full corpus passes
    pair_ids = base.select(F.col("id_a").alias("_id")).unionByName(
        base.select(F.col("id_b").alias("_id"))).distinct()
    sh = sh.join(pair_ids, "_id", "left_semi").localCheckpoint(eager=False)
    a_sh = base.join(sh.withColumnRenamed("_id", "id_a"), "id_a") \
        .select("id_a", "id_b", "_s",
                F.lit(1).alias("_ina"), F.lit(0).alias("_inb"))
    b_sh = base.join(sh.withColumnRenamed("_id", "id_b"), "id_b") \
        .select("id_a", "id_b", "_s",
                F.lit(0).alias("_ina"), F.lit(1).alias("_inb"))
    u = (a_sh.unionByName(b_sh)
         .groupBy("id_a", "id_b", "_s")
         .agg(F.max("_ina").alias("_a"), F.max("_inb").alias("_b"))
         .join(w, "_s"))
    both = (F.col("_a") + F.col("_b")) == 2
    scored = u.groupBy("id_a", "id_b").agg(
        (F.sum(F.when(both, 1).otherwise(0))
         / F.count(F.lit(1))).alias("_j"),
        (F.sum(F.when(both, F.col("_w")).otherwise(0.0))
         / F.sum("_w")).alias("_wj"))
    th = F.lit(float(threshold))
    return (scored.select(
                "id_a", "id_b",
                F.round("_j", 4).alias("jaccard"),
                F.round("_wj", 4).alias("wjaccard"),
                ((F.col("_wj") >= th) != (F.col("_j") >= th))
                .cast("int").alias("flipped"))
            .orderBy("id_a", "id_b"))
