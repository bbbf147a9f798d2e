"""Text-analysis operators over a documents table.

Training-data-pipeline surface (no reference equivalent — the reference
has no text processing; this is the 100 TB scale extension mandated by the
build brief): language ID, quality scoring, token stats, fingerprinting.
All native expressions — at 100 TB these run inside whole-stage codegen
with zero Python cost.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_tag_system_spark.functions.text import (
    ngrams_from_tokens,
    normalize_text,
    pii_counts,
    redact_pii,
    token_count,
    tokens,
)

# Tiny per-language stopword profiles for the n-gram/stopword heuristic.
# Deliberately small: language ID at scale works off the highest-frequency
# function words; extend per deployment.
_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "es", "los"],
    "fr": ["le", "la", "de", "et", "un", "une", "est", "les", "des", "que"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"],
}


def _lang_scores_from_tokens(toks: Column) -> list[Column]:
    """Per-language ``struct(score, -index, lang)`` candidates from a
    precomputed token array (score = stopword-hit fraction)."""
    total = F.greatest(F.size(toks), F.lit(1))
    return [
        F.struct(
            (F.size(F.array_intersect(
                toks, F.array(*[F.lit(w) for w in words]))) / total
             ).alias("s"),
            F.lit(-i).alias("ni"),
            F.lit(lang).alias("l"),
        )
        for i, (lang, words) in enumerate(_STOPWORDS.items())
    ]


def language_scores(col: Column | str) -> Column:
    """map<lang, double>: fraction of tokens matching each language profile."""
    toks = tokens(col)
    entries = [
        F.struct(c["l"].alias("key"), c["s"].alias("value"))
        for c in _lang_scores_from_tokens(toks)
    ]
    return F.map_from_entries(F.array(*entries))


def detect_language_from_tokens(toks: Column, default: str = "und") -> Column:
    """:func:`detect_language` over a PRECOMPUTED token-array column.

    The shared-subexpression form: the caller materializes ``tokens(col)``
    once (its regex-split normalization is the expensive part) and every
    language score references that column. The vote itself is one
    ``array_max`` over ``struct(score, -index, lang)`` — lexicographic
    max picks the best score, ties resolve to the FIRST language in
    profile order (``-index``), exactly the coalesce-order semantics of
    the per-column form, with each score expression emitted once instead
    of twice (greatest + pick) — the difference that kept the fused
    documents-analysis stage inside the JVM's 64 KB codegen method limit.
    """
    best = F.array_max(F.array(*_lang_scores_from_tokens(toks)))
    return F.when(best["s"] > 0, best["l"]).otherwise(F.lit(default))


def detect_language(col: Column | str, default: str = "und") -> Column:
    """Best-scoring language, or ``default`` when nothing matches.

    Heuristic stopword vote — the deterministic, JVM-side baseline; a
    model-based detector would slot in as a Pandas UDF behind the same
    column contract.
    """
    return detect_language_from_tokens(tokens(col), default)


def quality_features_from(
    raw: Column, norm: Column, toks: Column
) -> dict[str, Column]:
    """:func:`quality_features` over precomputed (raw, normalized,
    token-array) columns — the shared-subexpression form used by
    :func:`analyze_documents` so the normalization regex and token split
    are evaluated once per row, not once per derived feature."""
    n_tokens = F.when(norm == "", F.lit(0)).otherwise(F.size(toks))
    distinct_ratio = F.when(
        n_tokens > 0, F.size(F.array_distinct(toks)) / n_tokens
    ).otherwise(F.lit(0.0))
    alpha = F.length(F.regexp_replace(norm, r"[^a-z]", ""))
    alpha_ratio = F.when(
        F.length(norm) > 0, alpha / F.length(norm)).otherwise(F.lit(0.0))
    digit = F.length(F.regexp_replace(norm, r"[^0-9]", ""))
    digit_ratio = F.when(
        F.length(norm) > 0, digit / F.length(norm)).otherwise(F.lit(0.0))
    mean_token_len = F.when(
        n_tokens > 0, (F.length(norm) - (n_tokens - 1)) / n_tokens
    ).otherwise(F.lit(0.0))
    return {
        "n_chars": F.length(raw),
        "n_tokens": n_tokens,
        "distinct_token_ratio": distinct_ratio,
        "alpha_ratio": alpha_ratio,
        "digit_ratio": digit_ratio,
        "mean_token_len": mean_token_len,
    }


def quality_features(col: Column | str) -> dict[str, Column]:
    """Deterministic quality signals: lengths, ratios, repetition."""
    return quality_features_from(
        _c_raw(col), normalize_text(col), tokens(col))


def quality_score_from(raw: Column, norm: Column, toks: Column) -> Column:
    """:func:`quality_score` over precomputed columns (see
    :func:`quality_features_from`)."""
    f = quality_features_from(raw, norm, toks)
    return (
        0.4 * F.least(f["n_tokens"] / 100.0, F.lit(1.0))
        + 0.3 * f["distinct_token_ratio"]
        + 0.3 * f["alpha_ratio"]
    )


def quality_score(col: Column | str) -> Column:
    """[0,1] composite quality score (documented, deterministic weights).

    score = 0.4·min(n_tokens/100, 1) + 0.3·distinct_token_ratio +
            0.3·alpha_ratio
    """
    f = quality_features(col)
    return (
        0.4 * F.least(f["n_tokens"] / 100.0, F.lit(1.0))
        + 0.3 * f["distinct_token_ratio"]
        + 0.3 * f["alpha_ratio"]
    )


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(col))


def rolling_fingerprint(col: Column | str, n: int = 8, portable: bool = False) -> Column:
    """Winnowing-style fingerprint: min hash over word n-gram windows.

    A cheap near-dup-stable sketch (two docs differing by a little
    tail text often share the min-hash window). ``portable=True`` uses
    the md5-derived 60-bit hash (functions.text.portable_hash60) so an
    independent SQL engine recomputes the fingerprint exactly; the
    default stays on xxhash64.
    """
    from bigdata_tag_system_spark.functions.text import portable_hash60, word_shingles

    hash_fn = portable_hash60 if portable else F.xxhash64
    return F.array_min(F.transform(word_shingles(col, n), lambda s: hash_fn(s)))


def analyze_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full text-analysis column set to a documents table.

    Two stacked projections, not one: the lower one materializes the
    normalized text and token array ONCE per row; every derived feature
    in the upper projection references those columns. Inlining the
    tokenizer into each feature (the naive one-projection form) re-emits
    the normalization regex + split ~15×, overflowing the JVM's 64 KB
    codegen method limit — Spark then silently falls back to interpreted
    evaluation for the whole stage, the slowest possible path for the
    hottest text scan in the repo.
    """
    raw = F.col(text_col)
    norm, toks = F.col("_norm"), F.col("_toks")
    feats = quality_features_from(raw, norm, toks)
    return (
        df.select(
            "*",
            normalize_text(text_col).alias("_norm"),
            tokens(text_col).alias("_toks"),
        )
        .select(
            "*",
            feats["n_tokens"].alias("n_tokens"),
            feats["distinct_token_ratio"].alias("distinct_token_ratio"),
            feats["alpha_ratio"].alias("alpha_ratio"),
            quality_score_from(raw, norm, toks).alias("quality_score"),
            detect_language_from_tokens(toks).alias("detected_lang"),
            F.md5(norm).alias("fingerprint"),
        )
        .drop("_norm", "_toks")
    )


def _c_raw(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def ngram_repetition_features(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style repetition quality signals per document.

    Output: ``(id, n_grams, top_gram_c, dup_gram_c, top_gram_frac,
    dup_gram_frac)`` — the ``_c`` columns are the engine-exact integer
    numerators of the fractions that follow;
    ``top_gram_frac`` is the fraction of n-gram occurrences claimed by the
    single most repeated n-gram; ``dup_gram_frac`` the fraction belonging
    to any n-gram that occurs more than once. Both are standard corpus
    quality filters (machine-generated / boilerplate text scores high).
    NULL-text rows drop out (no grams to measure).

    Plan shape at scale: the metric is entirely per-document and every
    document's grams already live in one row, so the whole computation is
    a single map-only projection — sort the gram array, then fold it once
    counting equal-run lengths (max run = top gram count, runs > 1 = dup
    occurrences). ZERO shuffles, no explode, no windows, no Python; an
    explode + double groupBy formulation would shuffle the full gram
    stream twice for a result each row can compute locally.
    """
    # NULL text must drop out (no grams to measure) — without the filter
    # the window construction yields a single NULL gram per NULL row
    toks = df.select(F.col(id_col), tokens(text_col).alias("_t")) \
        .where(F.col("_t").isNotNull())
    grams = F.array_sort(ngrams_from_tokens("_t", n))
    # fold state: (prev gram, current run length, max run, dup-occurrence
    # total); a run ends when the gram changes — runs of length > 1 are
    # duplicated occurrences
    init = F.struct(
        F.lit(None).cast("string").alias("p"),
        F.lit(0).alias("r"), F.lit(0).alias("m"), F.lit(0).alias("d"))
    step = lambda a, x: F.struct(
        x.alias("p"),
        F.when(a["p"].eqNullSafe(x), a["r"] + 1).otherwise(F.lit(1)).alias("r"),
        F.greatest(
            a["m"],
            F.when(a["p"].eqNullSafe(x), a["r"] + 1).otherwise(F.lit(1)),
        ).alias("m"),
        F.when(~a["p"].eqNullSafe(x) & (a["r"] > 1), a["d"] + a["r"])
         .otherwise(a["d"]).alias("d"),
    )
    # close out the final run, then project the fractions
    fin = lambda a: F.struct(
        a["m"].alias("m"),
        F.when(a["r"] > 1, a["d"] + a["r"]).otherwise(a["d"]).alias("d"))
    # stage the sorted array and the fold as named columns: CollapseProject
    # keeps non-cheap expressions that are referenced more than once in
    # their own projection step, so the sort + fold each run ONCE per row
    # instead of being re-inlined into every output column
    staged = (
        toks.select(F.col(id_col), grams.alias("_g"))
        .select(
            F.col(id_col),
            F.size("_g").alias("_n"),
            F.aggregate("_g", init, step, fin).alias("_st"),
        )
    )
    return staged.select(
        F.col(id_col),
        F.col("_n").cast("long").alias("n_grams"),
        # integer numerators first: engine-exact (no float representation),
        # so cross-engine comparisons can avoid round(x/y) ties entirely
        F.col("_st")["m"].cast("long").alias("top_gram_c"),
        F.col("_st")["d"].cast("long").alias("dup_gram_c"),
        (F.col("_st")["m"] / F.col("_n")).alias("top_gram_frac"),
        (F.col("_st")["d"] / F.col("_n")).alias("dup_gram_frac"),
    )


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Detect-and-redact pass: per-kind match counts + redacted text.

    One map-only projection (``regexp_count`` per kind + the
    :func:`~bigdata_tag_system_spark.functions.text.redact_pii` chain) —
    zero shuffle at any scale. Callers filter on the counts (quarantine
    docs over a threshold) and/or keep the redacted column.
    """
    counts = pii_counts(text_col)
    return df.select(
        F.col(id_col),
        *[c.alias(f"n_{kind}") for kind, c in counts.items()],
        redact_pii(text_col).alias("redacted_text"),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 top-k over a document corpus: ``(id, score)``.

    The standard lexical retrieval ranker. Plan shape: tokenize once
    (map), explode and FILTER to the query terms before any aggregate —
    the shuffled relation is (id, query-term) rows only, a vanishing
    fraction of the corpus; per-term document frequencies are a
    ≤|query|-row broadcast; N and the average doc length ride one
    crossJoin-broadcast row. ``idf = ln((N - df + 0.5)/(df + 0.5) + 1)``
    (the +1 variant, always positive); score sums
    ``idf · tf·(k1+1) / (tf + k1·(1 − b + b·len/avgdl))``. NULL-text
    docs are excluded; ties rank by lowest id.
    """
    if not query_terms:
        raise ValueError("bm25_topk needs at least one query term")
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), tokens(text_col).alias("_t"))
    # lens feeds the corpus stats AND the score join; tf feeds the
    # per-term document frequencies AND the score join — each consumer
    # re-executed its tokenize pass (4 total). Lazy-checkpoint the two
    # NARROW relations ((id, len) and (id, term, tf)) so the corpus is
    # tokenized twice, never four times; the wide token arrays
    # themselves are deliberately not materialized.
    lens = base.select(
        F.col(id_col),
        F.when(F.array_join("_t", "") == "", F.lit(0))
        .otherwise(F.size("_t")).alias("_len")).localCheckpoint(eager=False)
    stats = lens.agg(
        F.count(F.lit(1)).alias("_n"), F.avg("_len").alias("_avgdl"))
    terms = base.select(
        F.col(id_col), F.explode("_t").alias("_term")
    ).where(F.col("_term").isin(list(query_terms)))
    tf = terms.groupBy(id_col, "_term").agg(
        F.count(F.lit(1)).alias("_tf")).localCheckpoint(eager=False)
    dfreq = tf.groupBy("_term").agg(F.count(F.lit(1)).alias("_df"))
    idf = F.log(
        (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5) + 1.0)
    contrib = (
        tf.join(F.broadcast(dfreq), "_term")
        .join(lens, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            (idf * (F.col("_tf") * (k1 + 1))
             / (F.col("_tf")
                + k1 * (1 - b + b * F.col("_len") / F.col("_avgdl")))
             ).alias("_c"),
        )
    )
    return (
        contrib.groupBy(id_col).agg(F.sum("_c").alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(int(k))
    )


def hard_negative_mining(
    df: DataFrame,
    queries: dict[str, list[str]],
    positives: dict[str, list[int]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training: per
    query, the BM25 top-``k`` documents EXCLUDING the known positives —
    the standard negatives a bi-encoder is trained against (high
    lexical score, labeled non-relevant).

    One corpus pass for ALL queries (vs a bm25_topk loop): tokenize
    once, explode and filter to the UNION of query terms (the shuffled
    relation is (doc, query-term) rows only), per-term tf/df exactly as
    :func:`bm25_topk`, then the ≤Σ|terms|-row literal query relation
    broadcast-joins tf to score every (query, doc) pair in one
    aggregate. Positives drop via a broadcast anti-join BEFORE the
    rank, so each query still yields ``k`` negatives; ranks come from a
    per-query window (partitioned — never a global sort). Both literal
    relations are built from ``VALUES``-style struct arrays over
    ``spark.range(1)``: plan-literal, no driver RDD.

    Output: ``(query_id, doc_id, rank, score)``, rank 1 = hardest.
    """
    if not queries:
        raise ValueError("hard_negative_mining needs at least one query")
    for qid, terms in queries.items():
        if not terms:
            raise ValueError(f"query {qid!r} has no terms")
    from pyspark.sql import Window

    seed = df.sparkSession.range(1)
    # dedupe within each query's term list: a repeated term would emit
    # duplicate (query_id, term) qrel rows and double-count that term's
    # BM25 contribution, breaking parity with bm25_topk
    qrel = seed.select(F.explode(F.array(*[
        F.struct(F.lit(qid).alias("query_id"), F.lit(t).alias("_term"))
        for qid, terms in sorted(queries.items())
        for t in sorted(set(terms))
    ])).alias("_q")).select("_q.query_id", "_q._term")
    pos_pairs = [(qid, d) for qid, docs in sorted(positives.items())
                 for d in docs]
    if pos_pairs:
        prel = seed.select(F.explode(F.array(*[
            F.struct(F.lit(qid).alias("query_id"),
                     F.lit(d).cast("long").alias(id_col))
            for qid, d in pos_pairs
        ])).alias("_p")).select("_p.query_id", f"_p.{id_col}")
    all_terms = sorted({t for ts in queries.values() for t in ts})

    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), tokens(text_col).alias("_t"))
    lens = base.select(
        F.col(id_col),
        F.when(F.array_join("_t", "") == "", F.lit(0))
        .otherwise(F.size("_t")).alias("_len"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("_n"), F.avg("_len").alias("_avgdl"))
    terms = base.select(
        F.col(id_col), F.explode("_t").alias("_term")
    ).where(F.col("_term").isin(all_terms))
    tf = terms.groupBy(id_col, "_term").agg(F.count(F.lit(1)).alias("_tf"))
    dfreq = tf.groupBy("_term").agg(F.count(F.lit(1)).alias("_df"))
    idf = F.log(
        (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5) + 1.0)
    scored = (
        tf.join(F.broadcast(qrel), "_term")
        .join(F.broadcast(dfreq), "_term")
        .join(lens, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id", F.col(id_col),
            (idf * (F.col("_tf") * (k1 + 1))
             / (F.col("_tf")
                + k1 * (1 - b + b * F.col("_len") / F.col("_avgdl")))
             ).alias("_c"))
        .groupBy("query_id", id_col)
        .agg(F.sum("_c").alias("score"))
    )
    if pos_pairs:
        scored = scored.join(
            F.broadcast(prel), ["query_id", id_col], "left_anti")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
        .select("query_id", id_col, "rank", "score")
    )


def heaps_fit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_docs: int = 25,
    gram_n: int = 3,
) -> DataFrame:
    """Heaps'-law fit of type growth: OLS of ln(distinct ``gram_n``-gram
    types) on ln(cumulative tokens) as the corpus grows in ``id_col``
    order — V(n) ≈ K·n^β. Natural corpora grow sub-linearly (β well
    inside (0, 1)); β near 1 flags unbounded novelty (noise/IDs), β
    collapsing toward 0 a templated or over-deduplicated corpus. Types
    are n-gram shingles (``gram_n=1`` = classic unigram Heaps) — the
    vocabulary-growth dual of :func:`zipf_fit`'s spectrum fingerprint
    and the scalar summary of the novelty curve.

    Scale shape: one staged tokenize feeds BOTH aggregates — per-type
    min(doc) for first occurrences (shingle rows, the same ledger the
    dedup family shuffles), and per-checkpoint-bucket token counts
    (bucket = ``id_col div bucket_docs``); the cumulative then runs
    over the ≤(corpus/bucket_docs)-row bucket relation, never doc or
    token rows (size ``bucket_docs`` so checkpoints stay config-sized;
    the two-level bucketed cumsum of quality_ks_drift is the fallback
    beyond that). Fit = one 1-row aggregate of the logs.

    Returns one row: ``(n_points, beta, k, r2)``.
    """
    from pyspark.sql import Window

    if bucket_docs <= 0:
        raise ValueError(f"bucket_docs must be positive, got {bucket_docs}")
    if gram_n <= 0:
        raise ValueError(f"gram_n must be positive, got {gram_n}")
    base = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokens(text_col).alias("_t"))
        .select(
            id_col,
            F.filter("_t", lambda x: x != "").alias("_t"))
    )
    # floor division (not cast-truncation, which rounds toward zero):
    # negative ids must bucket like the oracle's `//` and the integer
    # `div` layout_zone_skip uses
    bk = F.floor(F.col(id_col) / bucket_docs).cast("long")
    btok = base.groupBy(bk.alias("_bk")).agg(
        F.sum(F.size("_t")).alias("_ntok"))
    seg = F.array_join(F.slice("_t", F.col("_i") + 1, gram_n), " ")
    types = (
        base.where(F.size("_t") >= gram_n)
        .select(
            F.col(id_col),
            F.explode(F.sequence(
                F.lit(0), F.size("_t") - gram_n)).alias("_i"),
            F.col("_t"))
        .select(F.col(id_col), seg.alias("_g"))
    )
    firsts = types.groupBy("_g").agg(F.min(id_col).alias("_fd"))
    bnew = firsts.groupBy(
        F.floor(F.col("_fd") / bucket_docs).cast("long").alias("_bk")
    ).agg(F.count(F.lit(1)).alias("_nv"))
    buckets = (
        btok.join(bnew, "_bk", "full_outer")
        .select(
            "_bk",
            F.coalesce("_ntok", F.lit(0)).alias("_ntok"),
            F.coalesce("_nv", F.lit(0)).alias("_nv"))
    )
    w = Window.orderBy("_bk").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    pts = (
        buckets.select(
            F.sum("_ntok").over(w).alias("_ct"),
            F.sum("_nv").over(w).alias("_cv"))
        .where((F.col("_ct") > 0) & (F.col("_cv") > 0))
        .select(
            F.log(F.col("_ct").cast("double")).alias("x"),
            F.log(F.col("_cv").cast("double")).alias("y"))
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    # + 0.0 normalizes IEEE -0.0 to 0.0 on a degenerate (flat) fit —
    # engines round to signed zeros inconsistently
    beta = num / denx + 0.0
    return s.select(
        F.col("n").alias("n_points"),
        beta.alias("beta"),
        F.exp((F.col("sy") - beta * F.col("sx")) / F.col("n")).alias("k"),
        (F.when(deny != 0, num * num / (denx * deny)) + 0.0).alias("r2"))


def url_domain_counts(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Per-domain document frequency over a corpus: ``(domain, doc_freq)``.

    The blocklist-curation / source-analysis primitive of web-crawl
    pipelines: domains extracted with one ``regexp_extract_all``
    (map-only), de-duplicated within each document so a page quoting a
    domain 50 times counts once, then one partial-aggregated count per
    domain. The only shuffle carries (domain, partial-count) pairs.
    """
    from bigdata_tag_system_spark.functions.text import extract_url_domains

    ex = df.select(
        F.explode(F.array_distinct(extract_url_domains(text_col))).alias("domain"))
    return ex.groupBy("domain").agg(F.count(F.lit(1)).alias("doc_freq"))


def filter_blocked_domains(
    df: DataFrame, blocklist: list[str], text_col: str = "text"
) -> DataFrame:
    """Drop documents containing any blocklisted URL domain (map-only).

    The blocklist folds into an expression literal (blocklists are
    config-sized; for millions of entries, join against a broadcast
    table instead). Docs with no URLs — or NULL text — pass through.
    """
    from bigdata_tag_system_spark.functions.text import extract_url_domains

    doms = F.array_distinct(extract_url_domains(text_col))
    blocked = F.arrays_overlap(
        doms, F.array(*[F.lit(d) for d in blocklist]))
    return df.where(~F.coalesce(blocked, F.lit(False)))


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_overlap: int = 1,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing word n-grams with an
    evaluation set.

    Output: ``(id, overlap_grams, hit_benchmark_docs)`` — the number of
    DISTINCT n-grams a corpus document shares with any benchmark document
    and how many benchmark documents it touches; filter at
    ``min_overlap`` (raise for long-n-gram policies like the common
    13-gram rule).

    Scale shape: both sides explode their distinct shingles; the join is
    keyed by gram with the benchmark side broadcast (eval sets are tiny
    next to a 100 TB corpus — set ``broadcast_benchmark=False`` only if
    the benchmark genuinely exceeds broadcast size, where it becomes an
    ordinary hash join). The corpus is never self-joined and never
    shuffled beyond the final per-doc aggregation.
    """
    from bigdata_tag_system_spark.functions.text import shingles_from_tokens

    def _ex(frame: DataFrame, out_id: str) -> DataFrame:
        t = frame.select(F.col(id_col).alias(out_id), tokens(text_col).alias("_t")) \
            .where(F.col("_t").isNotNull())  # NULL text: nothing to match
        return t.select(
            out_id, F.explode(shingles_from_tokens("_t", n)).alias("_g"))

    c_ex = _ex(corpus, "_cid")
    b_ex = _ex(benchmark, "_bid")
    if broadcast_benchmark:
        b_ex = F.broadcast(b_ex)
    hits = c_ex.join(b_ex, "_g")
    return (
        hits.groupBy("_cid")
        .agg(
            F.countDistinct("_g").alias("overlap_grams"),
            F.countDistinct("_bid").alias("hit_benchmark_docs"),
        )
        .where(F.col("overlap_grams") >= min_overlap)
        .withColumnRenamed("_cid", id_col)
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document: (id, term, tfidf, rank).

    tf = term count within the document; idf = ln(N / df) over the
    corpus (natural log, df = number of documents containing the term) —
    the classic raw-tf formulation, chosen because it is exactly
    reproducible in any SQL engine for cross-checking. Ties break on the
    term string so the top-k is deterministic.

    Plan shape at scale: one explode → two map-side-combined hash
    aggregations (per-(doc, term) tf; per-term df) → broadcast-joinable
    df table only if small, else a shuffle join keyed by term → one
    window partitioned by document for the top-k. No driver-side vocab,
    no collect; the corpus document count is a scalar agg folded in via
    a cross join of a 1-row frame (Spark broadcasts it).
    """
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    # tf feeds the document-frequency aggregate AND the score join —
    # lazy-checkpoint so tokenize+explode+count runs once, not twice
    tf = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf")).localCheckpoint(eager=False)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def remove_repeated_segments(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 8,
    max_count: int = 2,
) -> DataFrame:
    """Corpus-level repeated-segment removal (the CCNet/RefinedWeb move:
    boilerplate shows up as the same span in many documents; drop spans
    whose corpus frequency exceeds ``max_count`` and keep the rest of
    each document).

    Documents are chunked into non-overlapping ``seg_words``-word
    segments of the normalized text. Scale shape: segment frequencies
    are counted on the 8-byte ``xxhash64`` of the segment (the global
    shuffle carries (doc, pos, hash), never segment text); only the
    *hot* hashes (count > max_count — a tiny relation by construction,
    boilerplate is rare among distinct segments) flow into a semi-join
    that yields per-document drop-position lists, and each document is
    rebuilt in place with an indexed ``filter`` over its own segment
    array — document text is never exploded through a shuffle. Distinct
    segments colliding on xxhash64 would be conflated (~2⁻⁶⁴ per pair);
    acceptable for corpus cleaning.

    Returns (id, kept_segments, total_segments, cleaned_text); rows with
    NULL text pass through with 0 segments and ``''``.
    """
    w = int(seg_words)
    if w <= 0:
        raise ValueError(f"seg_words must be positive, got {seg_words}")
    toks = F.coalesce(
        F.split(normalize_text(text_col), " "), F.array().cast("array<string>"))
    from pyspark.storagelevel import StorageLevel

    base = (
        df.select(F.col(id_col), toks.alias("_t"))
        .withColumn("_nseg", F.ceil(F.size("_t") / w).cast("int"))
        .withColumn(
            "_segs",
            F.when(F.col("_nseg") > 0, F.transform(
                F.sequence(F.lit(0), F.col("_nseg") - 1),
                lambda i: F.array_join(F.slice("_t", i * w + 1, w), " "),
            )).otherwise(F.array().cast("array<string>")),
        )
        .drop("_t")
        # base feeds three branches (hot counts, drop positions, final
        # rebuild join) — persist so normalize+tokenize+segment runs once
        # per row, same convention as the shingle frames in dedup.py
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    segs = base.select(
        F.col(id_col), F.posexplode("_segs").alias("pos", "_seg")
    ).select(F.col(id_col), "pos", F.xxhash64("_seg").alias("_h"))
    hot = (
        segs.groupBy("_h").agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") > max_count)
        .select("_h")
    )
    drops = (
        segs.join(hot, "_h", "left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("_drop"))
    )
    dropped = F.coalesce("_drop", F.array().cast("array<int>"))
    return (
        base.join(drops, id_col, "left")
        .select(
            F.col(id_col),
            (F.col("_nseg") - F.size(dropped)).alias("kept_segments"),
            F.col("_nseg").alias("total_segments"),
            F.array_join(
                F.filter("_segs", lambda s, i: ~F.array_contains(dropped, i)), " "
            ).alias("cleaned_text"),
        )
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping fixed-size token windows — the
    context-window chunking step before embedding/training: chunk ``i``
    covers tokens ``[i·stride, i·stride + chunk_tokens)`` of the
    normalized text, ``stride = chunk_tokens - overlap``.

    Pure expressions (tokenize once per row, slice per chunk) with one
    ``posexplode`` — no shuffle at all; chunk counts follow
    ``max(1, ceil((n - overlap) / stride))`` so every document emits at
    least one chunk and every token lands in ≥1 chunk. NULL-text rows
    emit no chunks (filter upstream to keep them).

    Returns ``(id, chunk_id, chunk_text, chunk_tokens)``.
    """
    ct, ov = int(chunk_tokens), int(overlap)
    if ct <= 0 or ov < 0 or ov >= ct:
        raise ValueError(
            f"need chunk_tokens > 0 and 0 <= overlap < chunk_tokens, "
            f"got {chunk_tokens=} {overlap=}")
    stride = ct - ov
    toks = F.split(normalize_text(text_col), " ")
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), toks.alias("_t"), F.size(toks).alias("_n"))
    n_chunks = F.greatest(
        F.lit(1), F.ceil((F.col("_n") - F.lit(ov)) / F.lit(stride)).cast("int"))
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice("_t", i * stride + 1, ct),
    )
    return base.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_id", "_c")
    ).select(
        F.col(id_col),
        "chunk_id",
        F.array_join("_c", " ").alias("chunk_text"),
        F.size("_c").alias("chunk_tokens"),
    )


def source_token_kl(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group KL divergence of the token distribution vs the corpus:
    ``KL(p_g ‖ q) = Σ_t p_g(t) · ln(p_g(t) / q(t))`` — the mixture-
    balancing diagnostic for training-data curation (a high-KL source
    is lexically unlike the blend it feeds; near-zero means redundant).

    One tokenize+explode pass builds the (group, token, count) table;
    corpus totals re-aggregate THOSE counts (sum of sums — the raw text
    is scanned exactly once), the join back is on the token key, and
    ``p_g(t) > 0 ⟹ q(t) > 0`` by construction so the log never sees
    zero. Shuffles are all on (group, token) / token — never raw text.
    """
    from bigdata_tag_system_spark.functions.text import tokens

    gt = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(group_col), F.explode(tokens(text_col)).alias("_t"))
        .groupBy(group_col, "_t")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    gt = gt.persist()
    g_tot = gt.groupBy(group_col).agg(F.sum("_c").alias("_ng"))
    t_tot = gt.groupBy("_t").agg(F.sum("_c").alias("_ct"))
    n_all = gt.agg(F.sum("_c").alias("_n"))
    joined = (
        gt.join(t_tot, "_t")
        .join(F.broadcast(g_tot), group_col)
        .crossJoin(F.broadcast(n_all))
    )
    term = (F.col("_c") / F.col("_ng")) * (
        F.log(F.col("_c") / F.col("_ng")) - F.log(F.col("_ct") / F.col("_n"))
    )
    return (
        joined.groupBy(group_col)
        .agg(
            F.max("_ng").cast("long").alias("n_tokens"),
            F.sum(term).alias("kl_nats"),
        )
    )


def bigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 0.5,
) -> DataFrame:
    """Self-trained bigram language-model score per document — the
    KenLM-free perplexity proxy for quality filtering: documents whose
    word transitions are unlike the corpus (boilerplate, gibberish,
    wrong language) score low and can be culled by threshold.

    ``score = mean over doc bigrams of ln P(w₂|w₁)`` with add-k
    smoothing ``P = (c(w₁w₂)+k) / (c(w₁•)+k·V)``, ``V`` the distinct
    follower vocabulary. One tokenize+explode pass builds the per-doc
    bigram relation (persisted — it feeds both the count aggregation
    and the score join); the continuation totals ``c(w₁•)`` re-aggregate
    the bigram counts (sum of sums), so raw text is scanned exactly
    once. The scoring join shuffles (bigram, count) pairs — never text.
    Documents with fewer than 2 tokens are absent from the output.
    """
    from pyspark.storagelevel import StorageLevel

    from bigdata_tag_system_spark.functions.text import (
        ngrams_from_tokens, token_count, tokens,
    )

    # two-phase select (r14): the token array must be a REAL column
    # before it feeds the n-gram HOF — inlining tokens() re-runs the
    # regex split once per bigram index inside the transform lambda
    # (measured 4.0 s vs 0.55 s for this explode at sf0.1; same rows)
    gb = (
        df.where(
            F.col(text_col).isNotNull() & (token_count(text_col) >= 2))
        .select(F.col(id_col), tokens(text_col).alias("_t"))
        .select(
            F.col(id_col),
            F.explode(ngrams_from_tokens("_t", 2))
            .alias("_bg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    c2 = gb.groupBy("_bg").agg(F.count(F.lit(1)).alias("_c2"))
    c2 = c2.select(
        "_bg", "_c2",
        F.substring_index(F.col("_bg"), " ", 1).alias("_w1"),
        F.substring_index(F.col("_bg"), " ", -1).alias("_w2"),
    # the transition table feeds THREE consumers (score join, history
    # totals, follower vocab) — lazy-checkpoint so the bigram count
    # aggregation runs once, not per consumer. r14 ABAB probe
    # (plans/r14_abab_checkpoints.log): checkpoint wins here in all 3
    # rounds (best 1.107 vs 1.197 s) — the SELF-trained table is
    # consumed against the full persisted gb relation, unlike the
    # cross-scores variant below where the same checkpoint regressed.
    # (§5 size policy: |vocab-bigrams| rows, dimension-sized.)
    ).localCheckpoint(eager=False)
    c1 = c2.groupBy("_w1").agg(F.sum("_c2").alias("_c1"))
    v = c2.agg(F.countDistinct("_w2").alias("_v"))
    logp = F.log(
        (F.col("_c2") + F.lit(smoothing))
        / (F.col("_c1") + F.lit(smoothing) * F.col("_v")))
    scored = (
        gb.join(c2.select("_bg", "_c2", "_w1"), "_bg")
        .join(c1, "_w1")
        .crossJoin(F.broadcast(v))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(logp).alias("avg_logp"),
        )
    )


def dup_shingle_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
    portable: bool = True,
) -> DataFrame:
    """Per-document duplicate n-gram COVERAGE: the fraction of each
    document's token positions lying under at least one overlapping
    ``n``-token shingle that also appears in ``min_docs``-or-more
    distinct documents (the RefinedWeb/Gopher "fraction of tokens in
    duplicated n-grams" curation signal).

    Distinct from :func:`remove_repeated_segments` on two axes: shingles
    OVERLAP (so coverage is an interval-union, not a segment count) and
    duplication means cross-document (distinct-doc count), not raw
    corpus frequency.

    Scale shape: the corpus-wide shuffle carries ``(doc, pos, hash)``
    only; hot hashes come from one groupBy(hash) with a distinct-doc
    count; the interval union per document is the gaps-and-islands
    window (fixed shingle length ⇒ interval ends are monotone in
    ``pos``, so an island breaks exactly when the position gap exceeds
    ``n-1``) — one keyed window pass over dup positions, never an
    all-pairs interval join. ``portable=True`` hashes shingles with the
    md5-derived 60-bit hash an external SQL oracle can replay;
    production corpora flip to ``xxhash64`` (one JVM call, no hex
    round-trip).

    Output: ``(id, n_tokens, dup_tokens, dup_frac)`` per document.
    """
    from pyspark.sql import Window

    from bigdata_tag_system_spark.functions.text import (
        normalize_text, portable_hash60,
    )

    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    toks = F.coalesce(
        F.split(normalize_text(text_col), " "),
        F.array().cast("array<string>"))
    base = (
        df.select(F.col(id_col), toks.alias("_t"))
        .withColumn("_ntok", F.greatest(F.size("_t"), F.lit(0)))
    )
    seg = F.array_join(F.slice("_t", F.col("_i") + 1, n), " ")
    hcol = portable_hash60(seg) if portable else F.xxhash64(seg)
    shingles = (
        base.where(F.col("_ntok") >= n)
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.lit(0), F.col("_ntok") - n)).alias("_i"),
            F.col("_t"))
        .select(F.col(id_col), F.col("_i").alias("pos"), hcol.alias("_h"))
    )
    dup = (
        shingles.groupBy("_h")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("_h")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    dup_pos = (
        shingles.join(dup, "_h", "left_semi")
        .select(id_col, "pos")
        .withColumn(
            "_brk",
            F.when(
                F.col("pos") - F.lag("pos").over(w) <= n - 1, 0
            ).otherwise(1))
        .withColumn(
            "_isl",
            F.sum("_brk").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    covered = (
        dup_pos.groupBy(id_col, "_isl")
        .agg((F.max("pos") - F.min("pos") + n).alias("_len"))
        .groupBy(id_col)
        .agg(F.sum("_len").alias("_covered"))
    )
    cov = F.coalesce(F.col("_covered"), F.lit(0).cast("long"))
    return (
        base.join(covered, id_col, "left")
        .select(
            F.col(id_col),
            F.col("_ntok").cast("long").alias("n_tokens"),
            cov.alias("dup_tokens"),
            F.when(F.col("_ntok") > 0,
                   F.round(cov / F.col("_ntok"), 4))
            .otherwise(F.lit(0.0)).alias("dup_frac"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
    portable: bool = True,
) -> DataFrame:
    """Cross-document duplicated-SPAN removal — the ExactSubstr dedup of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"), at token granularity: every maximal run of token positions
    covered by an overlapping ``n``-token shingle that appears in
    ``min_docs``-or-more distinct documents is CUT OUT of the document,
    and the surviving text is rebuilt from the kept gaps in order.

    Reference parity note: the reference engine has no span-removal
    operator; this extends its text-curation surface the way its
    repeated-segment scrub (remove_repeated_segments) extends CCNet.
    Distinct from both siblings: :func:`dup_shingle_coverage` only
    MEASURES the covered fraction, :func:`remove_repeated_segments`
    drops non-overlapping fixed segments by raw corpus frequency. Here
    duplication is cross-document, shingles overlap, and the duplicated
    spans themselves are subtracted (from EVERY copy — the paper's
    "remove all" policy; a keep-one policy is a trivial filter on top).

    Scale shape: identical to :func:`dup_shingle_coverage` up to the
    island aggregate — the corpus-wide shuffle carries ``(doc, pos,
    hash)`` triples only; hot hashes come from one groupBy(hash)
    distinct-doc count; maximal covered runs are gaps-and-islands (one
    keyed window over dup START positions — islands break exactly when
    the start gap exceeds ``n-1``, so consecutive islands' cover
    intervals ``[mn, mx+n-1]`` are provably disjoint). The rebuild then
    stays MAP-ONLY: islands collapse to one small sorted
    ``array<struct>`` per affected doc (one groupBy on the doc key),
    joined back to the tokenized base, and the kept text is a pure
    ``zip_with``/``slice``/``flatten`` expression over the gap
    boundaries — no token ever crosses a shuffle a second time, no
    per-token join, no Python. ``portable=True`` uses the md5-derived
    60-bit hash an external SQL oracle replays; production corpora flip
    to ``xxhash64``.

    Output: ``(id, n_tokens, removed_tokens, cleaned_text)`` per doc.
    """
    from pyspark.sql import Window

    from bigdata_tag_system_spark.functions.text import (
        normalize_text, portable_hash60,
    )

    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    toks = F.coalesce(
        F.split(normalize_text(text_col), " "),
        F.array().cast("array<string>"))
    base = (
        df.select(F.col(id_col), toks.alias("_t"))
        .withColumn("_ntok", F.greatest(F.size("_t"), F.lit(0)))
    )
    seg = F.array_join(F.slice("_t", F.col("_i") + 1, n), " ")
    hcol = portable_hash60(seg) if portable else F.xxhash64(seg)
    shingles = (
        base.where(F.col("_ntok") >= n)
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.lit(0), F.col("_ntok") - n)).alias("_i"),
            F.col("_t"))
        .select(F.col(id_col), F.col("_i").alias("pos"), hcol.alias("_h"))
    )
    dup = (
        shingles.groupBy("_h")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("_h")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = (
        shingles.join(dup, "_h", "left_semi")
        .select(id_col, "pos")
        .withColumn(
            "_brk",
            F.when(
                F.col("pos") - F.lag("pos").over(w) <= n - 1, 0
            ).otherwise(1))
        .withColumn(
            "_isl",
            F.sum("_brk").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(id_col, "_isl")
        .agg(F.min("pos").alias("_mn"),
             (F.max("pos") + n - 1).alias("_en"))
        .groupBy(id_col)
        .agg(F.array_sort(
            F.collect_list(F.struct("_mn", "_en"))).alias("_spans"))
    )
    spans = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<_mn:int,_en:int>>"))
    # kept gaps: starts = [0] + [en+1 ...]; ends(excl) = [mn ...] + [ntok]
    gap_starts = F.concat(
        F.array(F.lit(0)),
        F.transform(spans, lambda s: s["_en"] + 1))
    gap_ends = F.concat(
        F.transform(spans, lambda s: s["_mn"]),
        F.array(F.col("_ntok")))
    kept = F.flatten(F.zip_with(
        gap_starts, gap_ends,
        lambda a, b: F.slice("_t", a + 1, F.greatest(b - a, F.lit(0)))))
    removed = F.aggregate(
        spans, F.lit(0).cast("long"),
        lambda acc, s: acc + s["_en"] - s["_mn"] + 1)
    return (
        base.join(islands, id_col, "left")
        .select(
            F.col(id_col),
            F.col("_ntok").cast("long").alias("n_tokens"),
            removed.alias("removed_tokens"),
            F.array_join(kept, " ").alias("cleaned_text"),
        )
    )


def cdc_chunk_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    divisor: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS dedup primitive, at
    token granularity): cut AFTER every token whose hash ≡ 0 mod
    ``divisor`` — chunk boundaries are a pure function of LOCAL
    content, so inserting a sentence re-chunks only its neighborhood
    instead of shifting every downstream boundary the way fixed-size
    windows do. Expected chunk length = ``divisor`` tokens.

    Each chunk is identified by the hash of its joined tokens; a chunk
    appearing in ≥ ``min_docs`` distinct documents is duplicated
    content. Per document this reports the token mass inside such
    chunks — the insertion-robust cousin of
    :func:`dup_shingle_coverage` (which measures OVERLAPPING fixed-n
    shingles: shingles catch any repeated n-gram, CDC chunks catch
    repeated variable-size blocks at ~1/divisor the row volume).

    Scale shape: deliberately RELATIONAL, not nested higher-order
    functions — posexplode to one row per token (the per-token md5
    runs once, in a flat codegen-able projection; an earlier HOF
    formulation re-evaluated the boundary array inside a lambda,
    turning O(n) hashing into O(n²) per document), then chunk ids by
    one per-document running-count window, chunk content by one
    groupBy — two exchanges on the same document key (AQE reuses the
    layout), identical to the sibling shingle operator's documented
    shuffle. Hashes are the portable md5-60 so the oracle replays
    every boundary decision.

    Output: ``(id, n_tokens, n_chunks, dup_chunk_tokens)`` — exact
    integers, engine-portable.
    """
    from pyspark.sql import Window

    from bigdata_tag_system_spark.functions.text import (
        normalize_text,
        portable_hash60,
    )

    if divisor < 1:
        raise ValueError(f"divisor must be >= 1, got {divisor}")
    norm = normalize_text(text_col)
    base = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.split(norm, " ").alias("_t"))
        .where(F.array_join("_t", "") != "")
    )
    toks = base.select(
        id_col, F.size("_t").alias("_n"),
        F.posexplode("_t").alias("_pos", "_tok"),
    ).withColumn(
        "_is_cut",
        (F.pmod(portable_hash60("_tok"), F.lit(divisor)) == 0)
        .cast("int"),
    )
    w = (
        Window.partitionBy(id_col).orderBy("_pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    assigned = toks.withColumn(
        "_chunk", F.coalesce(F.sum("_is_cut").over(w), F.lit(0)))
    chunks = assigned.groupBy(id_col, "_chunk").agg(
        F.max("_n").alias("_n"),
        F.count(F.lit(1)).alias("_len"),
        F.md5(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col("_pos"), F.col("_tok")))),
                lambda s: s["_tok"],
            ), " ")).alias("_h"),
    )
    # the chunk relation feeds the hot-chunk census AND the coverage
    # join — lazy-checkpoint so the posexplode→window→collect chain
    # runs once, not twice
    chunks = chunks.localCheckpoint(eager=False)
    hot = chunks.groupBy("_h").agg(
        F.countDistinct(id_col).alias("_docs"))
    joined = chunks.join(hot, "_h")
    return joined.groupBy(id_col).agg(
        F.max("_n").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("_docs") >= min_docs, F.col("_len"))
              .otherwise(F.lit(0))).alias("dup_chunk_tokens"),
    )


def tfidf_cosine_topk(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_df_ratio: float = 0.5,
    idf_scale: int = 100,
) -> DataFrame:
    """Top-``k`` most-similar documents per document by SPARSE lexical
    cosine over an inverted-index join — the third similarity modality
    next to BM25 (query retrieval) and embedding cosine (dense): pure
    corpus-internal lexical nearest neighbors.

    Engine-exactness by construction: weights are INTEGER
    ``tf · (N·idf_scale div df)`` (rational idf — ``ln`` differs by
    1 ulp across engines and would flip quantized weights, so it is
    deliberately avoided), dots and norms are exact integer sums
    (order-free), and the final ``dot/sqrt(norm_a·norm_b)`` is one
    IEEE-correctly-rounded op pair — bit-identical in any engine.

    Scale shape: postings join keyed by term, with stop-term pruning
    (``df/N > max_df_ratio`` dropped) bounding posting-list length —
    the hot-bucket guard every set-similarity join needs; weights keep
    int64 headroom for corpora to ~10⁶ docs at the default scale
    (raise ``idf_scale`` only with headroom math: ``max_dot ≈
    Σ tf²·(N·scale)²`` must stay under 2⁶³).

    Output: ``(id, rank, other_id, cosine)``, rank 1..k per doc among
    docs sharing ≥1 surviving term.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # Each checkpoint segment is rendered as ONE parsed SQL statement
    # (r14, guide §5): the Column-API build paid ~1,300 py4j
    # round-trips (~1.2 s driver-blocked). The CTE bodies transcribe
    # the former transformations verbatim — tokenize→tf→df→idf with
    # the stop-term prune, the postings self-join, the IEEE cosine —
    # so the analyzed plan and every value are unchanged; only the
    # driver RPC count drops.
    from bigdata_tag_system_spark.functions.sqlrender import fresh_ids, ident

    spark = df.sparkSession
    i, t = ident(id_col), ident(text_col)
    posts = spark.sql(
        f"""
        WITH toks AS (
          SELECT {i}, explode(split(trim(regexp_replace(lower({t}),
                 '\\\\s+', ' ')), ' ')) AS term FROM {{d1}}),
        tf AS (SELECT {i}, term, count(1) AS tf
               FROM toks GROUP BY {i}, term),
        dfreq AS (SELECT term, count(1) AS df FROM tf GROUP BY term),
        nd AS (SELECT count(1) AS n_docs FROM {{d2}})
        SELECT /*+ BROADCAST(nd) */
               {i}, term, tf * ((n_docs * {int(idf_scale)}) DIV df) AS _w
        FROM tf JOIN dfreq USING (term) CROSS JOIN nd
        WHERE df / n_docs <= {float(max_df_ratio)!r}D
        """,
        d1=df, d2=fresh_ids(df),
        # postings feed THREE consumers (norms + both join sides) —
        # lazy-checkpoint so the tokenize→tf→df→idf chain is computed
        # and analyzed once, not per consumer (stays one job; the
        # checkpoint materializes inside the final action)
    ).localCheckpoint(eager=False)
    # reuse points (norms feeding both cosine sides, the symmetric
    # self-union below) stay on the DataFrame API, whose analyzer
    # re-aliases duplicate relations; a multi-referenced CTE hits the
    # same AttributeMap failure as a repeated parameter
    norms = spark.sql(
        f"SELECT {i}, sum(_w * _w) AS _norm FROM {{p}} GROUP BY {i}",
        p=posts)
    dots = spark.sql(
        f"""
        WITH a AS (SELECT {i} AS _ia, term, _w AS _wa FROM {{p1}}),
        b AS (SELECT {i} AS _ib, term, _w AS _wb FROM {{p2}})
        SELECT _ia, _ib, sum(_wa * _wb) AS _dot
        FROM a JOIN b USING (term) WHERE _ia < _ib
        GROUP BY _ia, _ib
        """,
        p1=fresh_ids(posts), p2=fresh_ids(posts))
    scored = (
        dots.join(norms.select(F.col(id_col).alias("_ia"),
                               F.col("_norm").alias("_na")), "_ia")
        .join(norms.select(F.col(id_col).alias("_ib"),
                           F.col("_norm").alias("_nb")), "_ib")
        .select(
            "_ia", "_ib",
            (F.col("_dot")
             / F.sqrt(F.col("_na").cast("double")
                      * F.col("_nb").cast("double"))).alias("_cos"),
        )
        # scored is consumed twice (both orientations of the symmetric
        # union) — checkpoint so the pair join+agg runs once
    ).localCheckpoint(eager=False)
    # the symmetric self-union stays on the Column API: a UNION ALL
    # over two references of the same spark.sql DataFrame parameter
    # trips Catalyst's Union constraint rewrite (key-not-found in
    # AttributeMap on Spark 4.1); the segment is ~25 ops — negligible
    from pyspark.sql import Window

    sym = scored.unionAll(scored.select(
        F.col("_ib").alias("_ia"), F.col("_ia").alias("_ib"), "_cos"))
    w = Window.partitionBy("_ia").orderBy(F.desc("_cos"), F.asc("_ib"))
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("_ia").alias(id_col), "rank",
                F.col("_ib").alias("other_id"),
                F.round("_cos", 4).alias("cosine"))
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 100,
) -> DataFrame:
    """Zipf's-law fit of the corpus frequency spectrum: OLS of
    ln(frequency) on ln(rank) over the ``top_n`` most frequent tokens.
    A natural-language corpus sits near slope −1; heavily templated or
    deduplicated-to-death corpora drift flat (slope → 0) and
    boilerplate-dominated ones drift steep — a one-row corpus
    fingerprint for curation dashboards.

    Scale shape: one tokenize+explode → token hash-agg →
    TakeOrderedAndProject(top_n) — the rank window then runs over a
    BOUNDED ≤ top_n-row relation (never the full vocabulary), and the
    fit is a single 1-row aggregate of its logs. Ties rank
    deterministically by (count desc, token asc) so independent
    engines see the identical spectrum.

    Returns one row: (n_terms, slope, intercept, r2).
    """
    from pyspark.sql import Window

    freq = (
        df.where(F.col(text_col).isNotNull())
        .select(F.explode(tokens(text_col)).alias("_t"))
        .where(F.col("_t") != "")
        .groupBy("_t").agg(F.count(F.lit(1)).alias("_f"))
        .orderBy(F.col("_f").desc(), F.col("_t"))
        .limit(int(top_n))
    )
    ranked = freq.withColumn(
        "_r", F.row_number().over(
            Window.orderBy(F.col("_f").desc(), F.col("_t"))))
    pts = ranked.select(
        F.log(F.col("_r").cast("double")).alias("x"),
        F.log(F.col("_f").cast("double")).alias("y"))
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = num / denx
    return s.select(
        F.col("n").alias("n_terms"),
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n"))
        .alias("intercept"),
        F.when(deny != 0, num * num / (denx * deny)).alias("r2"))


def bigram_lm_cross_scores(
    train_df: DataFrame,
    score_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 0.5,
) -> DataFrame:
    """HELD-OUT bigram-LM scoring: train transition counts on one
    corpus slice, score another — the domain-shift measure
    :func:`bigram_lm_scores` (self-trained) cannot give, and the
    standard way to ask "how unlike my curated seed data is this new
    source?" before admitting it to a training mix.

    Same add-k model, but counts, continuation totals and the
    follower vocabulary ``V`` come from TRAIN only; a scored bigram
    unseen in training backs off to ``c₂ = 0`` (and ``c₁ = 0`` for an
    unseen history), so ``ln P = ln(k / (k·V)) = −ln V`` — the uniform
    floor. Two tokenize+explode passes (one per side), two LEFT joins
    carrying (bigram, count) pairs, never text. Docs with <2 tokens
    are absent. Returns (id, n_bigrams, oov_bigrams, avg_logp).
    """
    from bigdata_tag_system_spark.functions.text import (
        ngrams_from_tokens, token_count, tokens,
    )

    def _bigrams(df):
        # two-phase select — same per-element re-tokenization trap as
        # bigram_lm_scores (r14); see the comment there
        return (
            df.where(
                F.col(text_col).isNotNull()
                & (token_count(text_col) >= 2))
            .select(F.col(id_col), tokens(text_col).alias("_t"))
            .select(
                F.col(id_col),
                F.explode(ngrams_from_tokens("_t", 2))
                .alias("_bg")))

    tb = _bigrams(train_df)
    c2 = tb.groupBy("_bg").agg(F.count(F.lit(1)).alias("_c2"))
    c2 = c2.select(
        "_bg", "_c2",
        F.substring_index(F.col("_bg"), " ", 1).alias("_w1"),
        F.substring_index(F.col("_bg"), " ", -1).alias("_w2"),
    # NOT checkpointed (r14): r13's lazy checkpoint here regressed
    # text_cross_ppl (quiet 1.12→1.44 s, VERDICT r13); the r14 ABAB
    # probe (plans/r14_abab_checkpoints.log) confirms the drop wins in
    # all 3 rounds (best 1.129 vs 1.486 s) — ReusedExchange already
    # dedupes the TRAIN-side aggregation, and unlike bigram_lm_scores
    # there is no persisted gb relation to join back against.
    )
    c1 = c2.groupBy("_w1").agg(F.sum("_c2").alias("_c1"))
    v = c2.agg(F.countDistinct("_w2").alias("_v"))
    sb = _bigrams(score_df).select(
        id_col, "_bg",
        F.substring_index(F.col("_bg"), " ", 1).alias("_w1"))
    scored = (
        sb.join(c2.select("_bg", "_c2"), "_bg", "left")
        .join(c1, "_w1", "left")
        .crossJoin(F.broadcast(v)))
    k = F.lit(float(smoothing))
    logp = F.log(
        (F.coalesce(F.col("_c2"), F.lit(0)) + k)
        / (F.coalesce(F.col("_c1"), F.lit(0)) + k * F.col("_v")))
    return (
        scored.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bigrams"),
             F.sum(F.when(F.col("_c2").isNull(), 1).otherwise(0))
             .alias("oov_bigrams"),
             F.avg(logp).alias("avg_logp"))
    )


def readability_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flesch reading-ease per document — the classic fluency signal
    for training-data curation (too-hard legalese and too-easy listicle
    spam both sit at the tails), computed from three EXACT integer
    components so an independent engine replays it bit-for-bit:

    - words: whitespace tokens of the normalized text;
    - sentences: maximal ``[.!?]+`` runs in the RAW text, floored at 1
      (fragments still read as one sentence);
    - syllables ≈ ``[aeiouy]+`` vowel groups of the normalized text,
      floored at 1 — the standard regex proxy (hyphenation dictionaries
      are neither portable nor deterministic across engines).

    The score is the textbook ``206.835 − 1.015·(W/S) − 84.6·(Y/W)``
    evaluated in that exact operation order (two IEEE divisions on
    exact integers → identical doubles in any engine). Map-only: one
    projection, no shuffle; pair with
    :func:`quality_score`'s length/ratio signals for a composite
    curation gate.
    """
    from bigdata_tag_system_spark.functions.text import (
        normalize_text, token_count,
    )

    words = token_count(text_col)
    sents = F.greatest(
        F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")), F.lit(1))
    syll = F.greatest(
        F.regexp_count(normalize_text(text_col), F.lit("[aeiouy]+")),
        F.lit(1))
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sents.cast("double"))
        - F.lit(84.6) * (syll.cast("double") / words.cast("double")))
    return df.where(F.col(text_col).isNotNull() & (words > 0)).select(
        F.col(id_col),
        words.alias("n_words"),
        sents.alias("n_sentences"),
        syll.alias("n_syllable_groups"),
        F.round(flesch, 2).alias("flesch"),
    )


_RAKE_STOPWORDS = (
    "the", "a", "an", "of", "to", "and", "or", "in", "is", "are",
    "was", "on", "for", "with", "at", "by", "from", "as", "it",
    "that", "this", "be", "has", "have",
)


def rake_keywords(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 20,
    max_words: int = 4,
    stopwords: tuple[str, ...] = _RAKE_STOPWORDS,
) -> DataFrame:
    """RAKE corpus keyword extraction (Rose et al., 2010): candidate
    phrases are the maximal stopword/punctuation-free token runs, a
    word's score is its co-occurrence degree over frequency, and a
    phrase scores the sum of its words — the unsupervised multiword
    complement to per-doc TF-IDF terms (``tfidf_top_terms``) and
    collocation lift (``bigram_lift``).

    Engine-replayable by construction:

    - phrase extraction is STRING-level — lowercase, collapse
      non-letters to single spaces, then TWO passes of replacing
      `` (stop1|stop2|…) `` with `` | `` (the second pass catches
      adjacent stopwords whose shared space the first pass consumed —
      same left-to-right non-overlapping semantics in Java and DuckDB
      regex engines), split on ``|``;
    - word score is INTEGER basis points: ``(10⁴ · Σ(len(phrase)−1))
      DIV freq`` per word (degree counts co-occurring positions over
      all phrase occurrences);
    - a phrase's score is the integer SUM of its words' bp scores
      (per position — a repeated word counts each time), so ranking
      is hash-exact; ties break on the phrase string.

    Two shuffles past the scan: a (word) aggregate and a (phrase)
    aggregate joined back through the exploded positions — explode
    factor is words-per-doc, the same envelope as every shingle op.
    """
    pat = " (" + "|".join(stopwords) + ") "
    s = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z]+", " ")
    s = F.concat(F.lit(" "), s, F.lit(" "))
    s = F.regexp_replace(s, pat, " | ")
    s = F.regexp_replace(s, pat, " | ")
    phrases = (
        df.select(F.explode(F.split(s, "\\|")).alias("_p"))
        .select(F.trim(F.col("_p")).alias("phrase"))
        .where(F.col("phrase") != "")
        .select("phrase", F.split("phrase", " ").alias("_ws"))
        .where(F.size("_ws").between(1, int(max_words)))
    )
    occ = phrases.select(
        "phrase", F.size("_ws").alias("_len"),
        F.explode("_ws").alias("word"))
    wstats = occ.groupBy("word").agg(
        F.count(F.lit(1)).alias("_freq"),
        F.sum(F.col("_len") - 1).alias("_deg"))
    wscore = wstats.select(
        "word", F.expr("(10000 * _deg) DIV _freq").alias("_wbp"))
    pscore = (
        occ.join(wscore, "word")
        .groupBy("phrase")
        .agg((F.count(F.lit(1)) / F.max("_len")).cast("long")
             .alias("phrase_freq"),
             F.max("_len").alias("n_words"),
             (F.sum("_wbp") / (F.count(F.lit(1)) / F.max("_len")))
             .cast("long").alias("score_bp"))
    )
    return (pscore.orderBy(F.desc("score_bp"), "phrase")
            .limit(int(top_k))
            .select("phrase", "n_words", "phrase_freq", "score_bp"))
