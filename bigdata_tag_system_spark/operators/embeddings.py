"""Embedding-column operators: group mean-pooling, L2 normalization,
per-dimension scale fitting, and integer quantization.

Training-data pipeline surface (no reference equivalent — the reference
has no vector processing). Everything here treats ``array<float/double>``
columns with pure Catalyst expressions or one small aggregate; the corpus
is never collected and the only shuffles are the per-dimension partial
aggregates (``(pos, partial)`` pairs — 64·P rows for dim 64, independent
of corpus size).

Scale notes (100 TB):
- :func:`label_centroids` shuffles ``(group, pos, partial-sum)`` — partial
  aggregation runs map-side, so the exchange carries
  |groups| × dim × |partitions| rows at most, not the corpus.
- :func:`dim_scales` is the same shape with a global key.
- :func:`quantize_embeddings` is map-only after a broadcast of the
  one-row scale vector (crossJoin of a 1-row relation broadcasts); the
  quantized corpus never re-shuffles. int8 storage is 4× smaller than
  float32 — the standard trick to keep an ANN corpus in memory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_tag_system_spark.functions.arrays import (
    _arr_sql,
    lit_double_array,
    lit_double_array_sql,
)
from bigdata_tag_system_spark.functions.sqlrender import sql_lit


def _vec(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def normalize_vectors(df: DataFrame, vec_col: str = "embedding",
                      out_col: str | None = None) -> DataFrame:
    """L2-normalize an embedding column in place (map-only, no shuffle).

    Zero vectors normalize to zero (guarded denominator), NULL vectors
    stay NULL — no division-by-zero NaNs enter downstream cosine math.
    """
    v = _vec(vec_col)
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    safe = F.when(norm > 0, norm).otherwise(F.lit(1.0))
    return df.withColumn(
        out_col or vec_col, F.transform(v, lambda x: x / safe))


def label_centroids(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mean-pooled centroid per group: ``(group, centroid, n_members)``.

    The embedding-aggregation primitive (class prototypes, cluster
    summaries, dedup-cluster representatives): posexplode to
    ``(group, pos, val)``, per-(group, pos) average with map-side partial
    aggregation, then reassemble the array ordered by position. NULL
    vectors are excluded (they carry no dimensions to pool).
    """
    ex = df.select(
        F.col(group_col).alias("_g"),
        F.posexplode(_vec(vec_col)).alias("_pos", "_val"),
    )
    per_dim = ex.groupBy("_g", "_pos").agg(
        F.avg("_val").alias("_avg"), F.count(F.lit(1)).alias("_n"))
    return (
        per_dim.groupBy("_g")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_avg"))),
                lambda s: s["_avg"],
            ).alias("centroid"),
            F.max("_n").alias("n_members"),
        )
        .select(F.col("_g").alias(group_col), "centroid", "n_members")
    )


def dim_scales(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """One-row relation: per-dimension max(|value|) as a sorted array.

    The symmetric-quantization scale vector. Computed with one partial
    aggregate over the exploded corpus; the result is dim-sized
    (broadcastable by construction).
    """
    ex = df.select(F.posexplode(_vec(vec_col)).alias("_pos", "_val"))
    per_dim = ex.groupBy("_pos").agg(F.max(F.abs(F.col("_val"))).alias("_m"))
    return per_dim.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_pos", "_m"))),
            lambda s: s["_m"],
        ).alias("scales")
    )


def quantized_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rescore: int = 4,
    scales: list[float] | None = None,
) -> DataFrame:
    """Memory-efficient cosine top-k: int8 prefilter + exact rescore.

    The pattern a quantized in-memory corpus enables at 100 TB: the
    cheap pass scores every vector against the int8-quantized query
    with an integer dot product (4× less memory traffic than float32,
    products bounded by 127²·dim — safe in int64), keeps the top
    ``rescore × k`` candidates via ``orderBy+limit``
    (TakeOrderedAndProject — per-partition heaps, no full sort), then
    rescores ONLY those with the exact float cosine. Ranking quality is
    set by ``rescore``: candidates beyond the quantization noise floor
    never reach the exact pass, and ``rescore × k ≥ corpus`` degrades
    to exact brute force (the oracle path; recall at small factors is
    pytest-checked). ``scales`` accepts a frozen per-dimension scale
    vector (list of floats) so query and a stored quantized corpus
    share one layout.
    """
    if rescore < 1:
        raise ValueError(f"rescore must be >= 1, got {rescore}")
    if scales is None:
        scales = [float(s) for s in
                  dim_scales(df, vec_col).collect()[0]["scales"]]
    if len(scales) != len(query):
        raise ValueError(
            f"scale vector has dim {len(scales)}, query has {len(query)}")
    import math

    qmax = 127
    # same floor(+0.5) rounding as quantize_embeddings, so query and
    # corpus share one quantization semantics
    q_int = [0 if s <= 0 else math.floor((v / s) * qmax + 0.5)
             for v, s in zip(query, scales)]
    sc_df = _scales_df(df, scales)
    quant = quantize_embeddings(df, vec_col, scales=sc_df)
    q_arr = F.array(*[F.lit(x) for x in q_int])
    approx = F.aggregate(
        F.zip_with("qvec", q_arr, lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    cands = (
        quant.select(F.col(id_col), F.col(vec_col), approx.alias("_approx"))
        .orderBy(F.desc("_approx"), F.col(id_col))
        .limit(rescore * k)
    )
    v = _vec(vec_col)
    qlit = lit_double_array(query)
    dot = F.aggregate(F.zip_with(v, qlit, lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    qn = sum(x * x for x in query) ** 0.5 or 1.0
    vn = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    cos = dot / (vn * F.lit(qn))
    return (
        cands.select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def _scales_df(df: DataFrame, scales: list[float]) -> DataFrame:
    """One-row scales relation from an explicit scale vector."""
    spark = df.sparkSession
    return spark.createDataFrame(
        [(list(map(float, scales)),)], "scales array<double>")


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    bits: int = 8,
    scales: DataFrame | None = None,
    out_col: str = "qvec",
) -> DataFrame:
    """Symmetric per-dimension integer quantization of an embedding column.

    ``q = floor(v / scale * (2^(bits-1) - 1) + 0.5)`` — explicit
    floor(+0.5) round-half-up instead of ``round()`` so any SQL engine
    reproduces the integers bit-for-bit (round() tie behavior differs
    across engines). Zero-scale dimensions (constant-zero across the
    corpus) quantize to 0.

    ``scales`` defaults to :func:`dim_scales` of ``df`` itself; pass a
    precomputed/stored scale vector to quantize new batches under a
    frozen layout (same contract as the IVF index sidecar). The corpus
    pass is map-only: the one-row scale relation broadcasts through the
    crossJoin, and ``zip_with`` does the per-element math in-plan.
    """
    if not 1 < bits <= 16:
        raise ValueError(f"bits must be in 2..16, got {bits}")
    qmax = (1 << (bits - 1)) - 1
    sc = scales if scales is not None else dim_scales(df, vec_col)
    q = F.zip_with(
        _vec(vec_col),
        F.col("_scales"),
        lambda v, s: F.when(
            s > 0, F.floor(v / s * F.lit(qmax) + F.lit(0.5)).cast("int")
        ).otherwise(F.lit(0)),
    )
    return (
        df.crossJoin(F.broadcast(sc.select(F.col("scales").alias("_scales"))))
        .withColumn(out_col, q)
        .drop("_scales")
    )


def _pq_geometry(dim: int, codebooks: list) -> tuple[int, int, int]:
    """Validate codebook shape against ``dim``; return (m, k, dsub)."""
    m = len(codebooks)
    if m == 0 or dim % m != 0:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    dsub = dim // m
    k = len(codebooks[0])
    for j, book in enumerate(codebooks):
        if len(book) != k:
            raise ValueError(f"subspace {j} has {len(book)} centroids, "
                             f"expected {k}")
        for cent in book:
            if len(cent) != dsub:
                raise ValueError(
                    f"subspace {j} centroid dim {len(cent)} != {dsub}")
    return m, k, dsub


def pq_code_expr(vec_col: Column | str, codebooks: list, dim: int) -> Column:
    """``array<int>`` of per-subspace nearest-centroid codes, as one
    pure Catalyst expression (map-only, codegen'd, no UDF).

    Per subspace j the code is the argmin over that subspace's centroids
    of the squared L2 distance between the subvector and the centroid,
    ties broken toward the lower code: ``array_min`` over
    ``struct(distance, code)`` compares lexicographically, so any SQL
    engine that orders struct/row values the same way (DuckDB
    ``list_sort(...)[1]``) reproduces the codes exactly — distance terms
    are accumulated left-to-right so the doubles are bit-identical too.
    """
    v = _vec(vec_col)
    m, k, dsub = _pq_geometry(dim, codebooks)
    codes = []
    for j, book in enumerate(codebooks):
        # literal k × dsub codebook + higher-order functions: the
        # distance loop runs at RUNTIME over the literal array instead
        # of unrolling m·k·dsub subtract-multiply terms into generated
        # Java — the unrolled form overflows the JVM's 64 KB codegen
        # method limit at (8, 16, 8) and drops the whole stage to
        # interpreted evaluation. Arithmetic is unchanged: zip_with +
        # left-fold aggregate accumulates (a−b)² in subvector order,
        # bit-identical to an explicit left-associated sum.
        cb = F.array(*[lit_double_array(cent) for cent in book])
        sub = F.slice(v, j * dsub + 1, dsub)
        cands = F.transform(
            cb,
            lambda cent, i: F.struct(
                F.aggregate(
                    F.zip_with(sub, cent, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0), lambda acc, x: acc + x).alias("d"),
                i.cast("int").alias("c"),
            ),
        )
        codes.append(F.array_min(cands)["c"])
    return F.array(*codes)


def pq_encode(
    df: DataFrame,
    codebooks: list,
    dim: int,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Product-quantization encode: ``dim``-dim vectors → ``m`` small
    integer codes (``codebooks``: list[m] of list[k] of list[dim/m]).

    The compressed representation behind large-scale ANN (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011):
    m=8, k=16 stores a 64-dim float32 vector in 8 nibbles — 64× smaller
    — while asymmetric-distance scoring (:func:`pq_adc_topk`) keeps
    ranking quality far above scalar int8 at the same budget. Map-only:
    codebooks fold into the expression as literals; the corpus never
    shuffles, so encoding 100 TB is one pass that pipelines with the
    scan exactly like :func:`quantize_embeddings`.
    """
    return df.withColumn(out_col, pq_code_expr(vec_col, codebooks, dim))


def pq_distance_table(codebooks: list, query: list) -> list:
    """Driver-side ADC lookup tables: ``dtab[j][c] = ||q_j − cb[j][c]||²``
    (left-associated double accumulation, mirroring :func:`pq_code_expr`).
    """
    m, k, dsub = _pq_geometry(len(query), codebooks)
    dtab = []
    for j, book in enumerate(codebooks):
        row = []
        for cent in book:
            d = 0.0
            for t, w in enumerate(cent):
                x = float(query[j * dsub + t]) - float(w)
                d = d + x * x
            row.append(d)
        dtab.append(row)
    return dtab


def pq_adc_topk(
    df: DataFrame,
    codebooks: list,
    query: list,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rescore: int = 0,
) -> DataFrame:
    """Asymmetric-distance top-k over a PQ-encoded corpus.

    The query stays un-quantized: per subspace the squared distance to
    every centroid is precomputed on the driver (m × k doubles —
    :func:`pq_distance_table`) and folded into the plan as literal
    arrays, so scoring a row is ``m`` array lookups + adds in
    whole-stage codegen — no float vector is ever read after encode.
    Top-k via ``orderBy+limit`` (TakeOrderedAndProject: per-partition
    heaps, no global sort). ``rescore > 0`` re-ranks the top
    ``rescore × k`` ADC candidates with the exact float cosine, the
    same funnel as :func:`quantized_topk`; at 100 TB the encoded corpus
    (64× smaller) is what makes the first pass memory-resident.

    Returns ``(id_col, pq_dist)`` ordered by ascending approximate
    distance (or exact cosine descending when ``rescore > 0``).
    """
    dim = len(query)
    dtab = pq_distance_table(codebooks, query)
    # materialize the codes in a lower projection so the (m × k × dim/m)-term
    # encode expression is emitted ONCE; the ADC lookups reference the
    # column (same 64 KB-codegen-limit discipline as text.analyze_documents)
    enc = df.select(
        F.col(id_col), F.col(vec_col),
        pq_code_expr(vec_col, codebooks, dim).alias("pq_code"))
    adist = None
    for j, row in enumerate(dtab):
        lookup = F.element_at(
            lit_double_array(row),
            F.element_at("pq_code", j + 1) + 1)
        adist = lookup if adist is None else adist + lookup
    cands = (
        enc.select(F.col(id_col), F.col(vec_col), F.col("pq_code"),
                   adist.alias("pq_dist"))
        .orderBy("pq_dist", id_col)
        .limit(rescore * k if rescore > 0 else k)
    )
    if rescore <= 0:
        return cands.select(id_col, "pq_code", "pq_dist")
    v = _vec(vec_col)
    qlit = lit_double_array(query)
    dot = F.aggregate(F.zip_with(v, qlit, lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    qn = sum(x * x for x in query) ** 0.5 or 1.0
    vn = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    safe_vn = F.when(vn > 0, vn).otherwise(F.lit(1.0))
    cos = dot / (safe_vn * F.lit(qn))
    return (
        cands.select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def fit_pq_codebooks(
    df: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iterations: int = 5,
    seed: int = 42,
) -> list:
    """Fit PQ codebooks: Euclidean Lloyd k-means run over all ``m``
    subspaces CONCURRENTLY — one Spark job per iteration total, not per
    subspace.

    Unlike :func:`~.similarity.fit_centroids_distributed` (cosine
    k-means for IVF routing) this clusters raw subvectors under L2 —
    normalizing 8-dim slices would distort the reconstruction metric PQ
    minimizes. Initialization is a deterministic hash-ranked sample of
    ``k`` rows (bounded: k × dim doubles to the driver); each Lloyd
    round assigns all m codes in one expression, explodes to
    ``(subspace, code, dim)`` cells and map-side-combines the means, so
    exactly ``m × k × dim/m = k × dim`` aggregate cells reach the
    driver per round regardless of corpus size. Empty clusters keep
    their previous centroid. Returns list[m][k][dim/m], directly usable
    with :func:`pq_encode` / :func:`pq_adc_topk`.
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    u = df.select(
        F.col(id_col).alias("_id"),
        _vec(vec_col).alias("_v"),
    ).where(
        F.col("_v").isNotNull() & (F.size("_v") == dim)
        & ~F.exists("_v", lambda x: x.isNull())
    )
    init = (
        u.orderBy(F.xxhash64(F.col("_id"), F.lit(seed)), "_id")
        .limit(k).collect()
    )
    if len(init) < k:
        raise ValueError(
            f"fit_pq_codebooks: need at least k={k} vectors, got {len(init)}")
    books = [
        [[float(x) for x in r["_v"][j * dsub:(j + 1) * dsub]] for r in init]
        for j in range(m)
    ]
    for _ in range(iterations):
        codes = pq_code_expr(F.col("_v"), books, dim)
        sub = (F.col("_pos") / dsub).cast("int")
        # codes in their OWN projection before the posexplode: placing a
        # lambda-built struct expression in the same select as a
        # generator makes Spark's generator extraction re-analyze the
        # lambda and drop the struct field names (FIELD_NOT_FOUND on
        # `c`); a resolved column reference is immune
        enc = u.select(codes.alias("_codes"), F.col("_v"))
        cells = (
            enc.select("_codes",
                       F.posexplode("_v").alias("_pos", "_val"))
            .select(sub.alias("_j"),
                    F.element_at("_codes", sub + 1).alias("_c"),
                    (F.col("_pos") % dsub).alias("_d"),
                    F.col("_val"))
            .groupBy("_j", "_c", "_d")
            .agg(F.avg("_val").alias("_m"))
            .collect()
        )
        fresh: dict[tuple, list] = {}
        for r in cells:
            fresh.setdefault((r["_j"], r["_c"]),
                             [None] * dsub)[r["_d"]] = r["_m"]
        for (j, c), mean in fresh.items():
            if all(x is not None for x in mean):
                books[j][c] = [float(x) for x in mean]
    return books


def fit_pca(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int | None = None,
):
    """Distributed PCA fit: returns ``(mean: list, components: list of
    list, explained_variance: list)`` — the whitening/compression step
    of an embedding pipeline (dim reduction before ANN, decorrelation
    before quantization).

    Only DIM-sized state ever reaches the driver: one aggregate computes
    the per-dimension sums and the dim×dim raw second-moment matrix as
    flattened partial sums (map-side combine; the exchange carries
    dim + dim² cells per partition, independent of corpus size), then
    the covariance eigendecomposition runs on the driver with numpy —
    an O(dim³) dense solve on a matrix that fits in a cache line budget,
    exactly like the k-means‖ driver re-cluster. The corpus itself is
    never collected.

    Eigenvectors are sign-normalized (largest-|component| coordinate
    made positive) so the fit is deterministic up to eigenvalue ties.
    """
    import numpy as np

    first = df.select(F.size(_vec(vec_col)).alias("d")).first()
    if first is None:
        raise ValueError("fit_pca: empty input")
    dim = first["d"]
    v = _vec(vec_col)
    sums = [F.sum(F.element_at(v, i + 1)).alias(f"s{i}")
            for i in range(dim)]
    moments = [
        F.sum(F.element_at(v, i + 1) * F.element_at(v, j + 1))
        .alias(f"m{i}_{j}")
        for i in range(dim) for j in range(i, dim)
    ]
    row = df.agg(F.count(F.lit(1)).alias("n"), *sums, *moments).first()
    n = row["n"]
    mean = np.array([row[f"s{i}"] / n for i in range(dim)])
    cov = np.zeros((dim, dim))
    for i in range(dim):
        for j in range(i, dim):
            m = row[f"m{i}_{j}"] / n - mean[i] * mean[j]
            cov[i, j] = cov[j, i] = m
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1]
    vals, vecs = vals[order], vecs[:, order]
    if k is not None:
        vals, vecs = vals[:k], vecs[:, :k]
    # deterministic sign: make the largest-|coordinate| entry positive
    for c in range(vecs.shape[1]):
        i = int(np.argmax(np.abs(vecs[:, c])))
        if vecs[i, c] < 0:
            vecs[:, c] = -vecs[:, c]
    return (mean.tolist(), vecs.T.tolist(),
            np.maximum(vals, 0.0).tolist())


def project_pca(
    df: DataFrame,
    mean: list,
    components: list,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Map-only projection onto fitted components:
    ``out[c] = Σ_i (v[i] − mean[i]) · comp[c][i]``.

    The fitted (mean, components) ship as literals folded into the
    expression — no join, no broadcast table, whole-stage codegen'd;
    the corpus pass pipelines with the scan like every other embedding
    transform here.

    The whole projection is rendered as ONE parsed SQL expression
    (r14, guide §5): a Column-API fold paid one py4j round-trip per ±/×
    node — ~5,400 round-trips (~0.6 s driver-blocked) for a 2×64
    projection. The string renders the left fold ``0.0 + (e−m)·w + …``.
    """
    v = _arr_sql(vec_col)
    comps_sql = []
    for comp in components:
        term = "0.0D"
        for i, (m, w) in enumerate(zip(mean, comp)):
            if float(w) == 0.0:
                continue
            term = (f"{term} + (element_at({v}, {i + 1}) - "
                    f"{sql_lit(float(m))}) * {sql_lit(float(w))}")
        comps_sql.append(term)
    return df.withColumn(
        out_col, F.expr("array(" + ", ".join(comps_sql) + ")"))


def label_outlier_scores(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    z2_threshold: float = 2.0,
    eps: float = 1e-12,
) -> DataFrame:
    """Per-label embedding outliers: mean squared z-score of each vector
    against its label's diagonal Gaussian (per-dimension mean/variance)
    — the cheap Mahalanobis that catches mislabeled / corrupted vectors
    without a dim×dim covariance.

    Scale shape: per-(label, dim) moments come from ONE partial
    aggregate over the exploded corpus (the same shuffle budget as
    :func:`label_centroids`); the stats reassemble into label-keyed
    μ/σ² ARRAYS — a labels-sized relation, broadcast by construction —
    so scoring is a broadcast join plus a map-only ``zip_with`` fold
    per vector. No per-vector shuffle, no second pass over the corpus.

    ``z2_mean`` ≈ 1 for in-distribution vectors (it averages ~χ²(1)
    terms); ``is_outlier`` flags ``z2_mean > z2_threshold``. Zero-
    variance dimensions contribute 0 (guarded by ``eps``).

    Output: ``(id, label, z2_mean, is_outlier)`` per vector.
    """
    ex = df.select(
        F.col(label_col).alias("_g"),
        F.posexplode(_vec(vec_col)).alias("_pos", "_val"),
    )
    per_dim = ex.groupBy("_g", "_pos").agg(
        F.avg("_val").alias("_mu"), F.var_pop("_val").alias("_v"))
    stats = (
        per_dim.groupBy("_g")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_mu", "_v"))),
                lambda s: s["_mu"],
            ).alias("_mus"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_v", "_mu"))),
                lambda s: s["_v"],
            ).alias("_vars"),
        )
    )
    d2 = F.zip_with(
        F.zip_with(
            _vec(vec_col), F.col("_mus"),
            lambda x, m: (x - m) * (x - m)),
        F.col("_vars"),
        lambda d, v: d / F.greatest(v, F.lit(eps)),
    )
    score = (
        F.aggregate(d2, F.lit(0.0), lambda a, x: a + x)
        / F.size(_vec(vec_col))
    )
    return (
        df.join(
            F.broadcast(stats),
            df[label_col] == stats["_g"])
        .select(
            F.col(id_col), F.col(label_col),
            F.round(score, 4).alias("z2_mean"),
            (score > z2_threshold).cast("int").alias("is_outlier"),
        )
    )


def quantized_recall_report(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    rescore: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Measured recall@k of the int8-prefilter ANN at a REDUCED rescore
    budget against the exact brute-force ranking — the vector-side
    twin of ``dedup.minhash_recall_report``: theory says the integer
    prefilter is nearly order-preserving, this measures it on YOUR
    corpus before committing a rescore budget at 100 TB scale.

    Both rankings are deterministic (integer prefilter ties and float
    cosine ties break by id), so the metric is a pure function of the
    corpus: ``recall_bp = (10000 · |approx_topk ∩ exact_topk|) DIV k``.
    Returns one row: (k, rescore, n_hits, recall_bp).
    """
    from bigdata_tag_system_spark.operators.similarity import cosine_topk

    approx = quantized_topk(
        df, query, k=k, rescore=rescore,
        vec_col=vec_col, id_col=id_col).select(id_col)
    exact = cosine_topk(
        df, query, k=k, vec_col=vec_col, id_col=id_col).select(id_col)
    hits = approx.join(exact, id_col, "left_semi").agg(
        F.count(F.lit(1)).alias("n_hits"))
    return hits.select(
        F.lit(int(k)).alias("k"),
        F.lit(int(rescore)).alias("rescore"),
        "n_hits",
        F.expr(f"(10000 * n_hits) DIV {int(k)}").alias("recall_bp"))


def label_noise_report(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    centroids: list[list[float]] | None = None,
    nprobe: int | None = None,
    per_vec: DataFrame | None = None,
) -> DataFrame:
    """Label-noise audit by kNN disagreement — the confident-learning
    screen for mislabeled training examples: a vector whose nearest
    neighbors mostly carry a DIFFERENT label is a relabel/drop
    candidate. Complements :func:`label_outlier_scores` (which flags
    geometric outliers; this flags examples sitting in the WRONG
    cluster, which outlier distance misses).

    Per vector: its ``k`` nearest neighbors by cosine (ties → lower
    id, self excluded), mismatch count = neighbors whose label
    differs. Census per label: suspects = vectors with strict-majority
    disagreement (mismatch > k/2), mean mismatch in basis points —
    integer arithmetic, no float-threshold flips.

    Neighbor stage, two modes:

    - ``centroids`` given → the SCALE path: both sides route through
      :func:`~bigdata_tag_system_spark.operators.similarity.knn_join_bucketed`
      and meet in a plain hash join on the nearest-centroid bucket —
      never a |N|² broadcast nested loop. With
      ``nprobe = len(centroids)`` bucketing only prunes, so the result
      (and the SQL oracle) is EXACTLY the brute census; smaller
      ``nprobe`` trades recall for a pair space cut to ~nprobe/buckets
      (partial-probe agreement is pytest-measured).
    - ``centroids=None`` → the brute-force |N|² pair mode, kept as the
      oracle-eval twin (same deliberate choice as dedup_cosine_pairs);
      its plan carries an explicit ``bnl_join`` lint allowance wherever
      it ships.

    ``per_vec`` accepts a precomputed per-vector mismatch relation
    ``(_qid, _qlbl, _mism)`` (see :func:`label_noise_per_vec`) and
    skips the neighbor stage entirely — the memoized-exact-pass path
    shared with :func:`label_noise_probe_audit`.
    """
    from pyspark.sql import Window

    if per_vec is not None:
        return _label_noise_census(per_vec, k, label_col)
    c = df.select(F.col(id_col), F.col(label_col),
                  F.col(vec_col).cast("array<double>").alias("_v"))
    if centroids is not None:
        per_vec = _per_vec_mismatch_bucketed(
            c, k, centroids,
            nprobe if nprobe is not None else len(centroids), id_col,
            label_col)
        return _label_noise_census(per_vec, k, label_col)
    q = c.select(F.col(id_col).alias("_qid"),
                 F.col(label_col).alias("_qlbl"),
                 F.col("_v").alias("_qv"))
    dot = F.aggregate(F.zip_with("_qv", "_v", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    qn = F.sqrt(F.aggregate("_qv", F.lit(0.0), lambda a, x: a + x * x))
    vn = F.sqrt(F.aggregate("_v", F.lit(0.0), lambda a, x: a + x * x))
    scored = (
        F.broadcast(q).crossJoin(c)
        .where(F.col("_qid") != F.col(id_col))
        .select("_qid", "_qlbl", F.col(label_col).alias("_nlbl"),
                F.col(id_col).alias("_nid"),
                (dot / (qn * vn)).alias("_cos")))
    w = Window.partitionBy("_qid").orderBy(F.col("_cos").desc(),
                                           F.col("_nid"))
    top = scored.withColumn("_rk", F.row_number().over(w)) \
        .where(F.col("_rk") <= k)
    per_vec = top.groupBy("_qid", "_qlbl").agg(
        F.sum((F.col("_nlbl") != F.col("_qlbl")).cast("int"))
        .alias("_mism"))
    return _label_noise_census(per_vec, k, label_col)


def label_noise_per_vec(
    df: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """The per-vector kNN label-mismatch relation ``(_qid, _qlbl,
    _mism)`` — the shared intermediate both :func:`label_noise_report`
    (census) and :func:`label_noise_probe_audit` (exact side) are
    derived from. Exposed so a pipeline can materialize the expensive
    exact pass ONCE and feed both consumers (at ``nprobe =
    num_buckets`` the relation is exact and centroid-independent —
    bucketing only prunes)."""
    c = df.select(F.col(id_col), F.col(label_col),
                  F.col(vec_col).cast("array<double>").alias("_v"))
    return _per_vec_mismatch_bucketed(
        c, k, centroids,
        nprobe if nprobe is not None else len(centroids),
        id_col, label_col)


def _per_vec_mismatch_bucketed(
    c: DataFrame, k: int, centroids: list[list[float]], nprobe: int,
    id_col: str, label_col: str,
) -> DataFrame:
    """Per-vector kNN label-mismatch counts ``(_qid, _qlbl, _mism)`` via
    the bucketed hash-join neighbor stage — shared by
    :func:`label_noise_report` and :func:`label_noise_probe_audit`.
    ``c`` must carry ``(id_col, label_col, _v)``; the label column is
    named explicitly (a positional guess would silently score the
    wrong column if a caller reorders its select)."""
    from pyspark.sql import Window

    from bigdata_tag_system_spark.operators.similarity import (
        knn_join_bucketed,
    )
    q = c.select(F.col(id_col).alias("_qid"),
                 F.col(label_col).alias("_qlbl"), "_v")
    # ask for k+1 (self scores cosine 1.0 and lands in the top),
    # drop self, re-rank the ≤k+1 survivors: the true top-k
    # excluding self is always contained in the top-(k+1)
    nn = knn_join_bucketed(
        q, c, centroids, k=k + 1, nprobe=nprobe,
        q_id="_qid", q_vec="_v", c_id=id_col, c_vec="_v")
    lbl = c.select(F.col(id_col).alias("_nid"),
                   F.col(label_col).alias("_nlbl"))
    w2 = Window.partitionBy("_qid").orderBy(F.col("cosine").desc(),
                                            F.col("_nid"))
    top = (
        nn.where(F.col("_qid") != F.col(id_col))
        .select("_qid", F.col(id_col).alias("_nid"), "cosine")
        .withColumn("_rk", F.row_number().over(w2))
        .where(F.col("_rk") <= k)
        .join(lbl, "_nid"))
    qlbl = c.select(F.col(id_col).alias("_qid"),
                    F.col(label_col).alias("_qlbl"))
    return top.join(qlbl, "_qid").groupBy("_qid", "_qlbl").agg(
        F.sum((F.col("_nlbl") != F.col("_qlbl")).cast("int"))
        .alias("_mism"))


def label_noise_probe_audit(
    df: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    exact_per_vec: DataFrame | None = None,
) -> DataFrame:
    """Measured agreement of a REDUCED-probe label-noise configuration
    against the lossless full-probe census — the audit row a 100 TB run
    needs before shipping ``nprobe < num_buckets``. At full probe the
    bucketed kNN join only prunes (exact by construction), so its
    per-vector mismatch relation is ground truth; the probed twin
    re-runs the IDENTICAL plan at ``nprobe`` and this report scores,
    per label: suspect counts on both sides, the basis-point rate at
    which the probed suspect FLAG agrees with the exact one (a vector
    the probed pass never saw counts as non-suspect), and both mean
    mismatch rates. Same harness discipline as
    :func:`quantized_recall_report` /
    :func:`~bigdata_tag_system_spark.operators.dedup.candidate_recall_report`:
    an approximation ships WITH its measured-agreement row, never on
    faith. Candidate volume of the probed pass is ~``nprobe/len(
    centroids)`` of the exact pass's |N|²/buckets-balanced volume.

    ``exact_per_vec`` accepts a precomputed exact per-vector mismatch
    relation ``(_qid, _qlbl, _mism)`` in place of the full-probe pass —
    valid because at ``nprobe = num_buckets`` bucketing only prunes, so
    the exact relation is a pure function of ``(corpus, k)`` and NOT of
    the centroid choice; a caller that already ran the lossless census
    (e.g. :func:`label_noise_report`) can share it and skip the most
    expensive pass here.
    """
    if not centroids:
        raise ValueError("label_noise_probe_audit requires centroids")
    if not 0 < int(nprobe) < len(centroids):
        raise ValueError(
            f"nprobe must be in 1..{len(centroids) - 1} (a reduced "
            f"probe; use label_noise_report for the lossless config), "
            f"got {nprobe}")
    c = df.select(F.col(id_col), F.col(label_col),
                  F.col(vec_col).cast("array<double>").alias("_v"))
    exact = (exact_per_vec if exact_per_vec is not None
             else _per_vec_mismatch_bucketed(
                 c, k, centroids, len(centroids), id_col, label_col))
    probed = _per_vec_mismatch_bucketed(
        c, k, centroids, int(nprobe), id_col, label_col).select(
        "_qid", F.col("_mism").alias("_mism_p"))
    j = exact.join(probed, "_qid", "left")
    flag_e = (F.col("_mism") * 2 > k).cast("int")
    flag_p = (F.coalesce(F.col("_mism_p"), F.lit(0)) * 2 > k).cast("int")
    return (
        j.groupBy(F.col("_qlbl").alias(label_col))
        .agg(F.count(F.lit(1)).alias("n_vecs"),
             F.sum(flag_e).alias("suspects_exact"),
             F.sum(flag_p).alias("suspects_probed"),
             F.sum((flag_e == flag_p).cast("int")).alias("_agree"),
             F.sum("_mism").alias("_me"),
             F.sum(F.coalesce("_mism_p", F.lit(0))).alias("_mp"))
        .select(label_col, "n_vecs", "suspects_exact", "suspects_probed",
                F.expr("(10000 * _agree) DIV n_vecs")
                .alias("flag_agree_bp"),
                F.expr(f"(10000 * _me) DIV ({int(k)} * n_vecs)")
                .alias("mean_mismatch_bp_exact"),
                F.expr(f"(10000 * _mp) DIV ({int(k)} * n_vecs)")
                .alias("mean_mismatch_bp_probed"))
        .orderBy(label_col)
    )


def _label_noise_census(per_vec: DataFrame, k: int,
                        label_col: str) -> DataFrame:
    """Per-label census over a (_qid, _qlbl, _mism) relation — shared by
    the brute and bucketed neighbor stages of :func:`label_noise_report`."""
    return (
        per_vec.groupBy(F.col("_qlbl").alias(label_col))
        .agg(F.count(F.lit(1)).alias("n_vecs"),
             F.sum(F.when(F.col("_mism") * 2 > k, 1).otherwise(0))
             .alias("suspects"),
             F.expr(f"(10000 * sum(_mism)) DIV ({int(k)} * count(1))")
             .alias("mean_mismatch_bp"))
        .orderBy(label_col)
    )


def arrow_batch_norms(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-row L2 norms via ``df.mapInArrow`` — the zero-copy
    Arrow-native sibling of the ``mapInPandas`` media ops (no pandas
    detour, no per-row Python): each task receives pyarrow
    RecordBatches; the list column flattens to ONE contiguous float64
    buffer and a single ``np.add.reduceat`` segmented reduction
    computes every row's Σx² in C (sequential within each segment, so
    the fold order matches a SQL engine's list_inner_product exactly —
    at dim ≤ 128 numpy does not switch to pairwise summation). Norms
    are quantized to 9 decimals half-up (the engine convention) so the
    output is hash-exact cross-engine. Rows with empty vectors emit
    0.0 (documented; the fleet's embeddings are fixed-dim); NULL
    vectors emit NULL (SQL semantics). Segment lengths come from
    ``value_lengths()`` with nulls zeroed — NOT from raw offsets,
    which keep advancing under null slots that ``flatten()`` omits
    and would misalign every subsequent row's segment.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    out_schema = f"{id_col} bigint, norm9 double"

    def fn(batches):
        for b in batches:
            ids = b.column(0)
            col = b.column(1)
            vals = np.asarray(col.flatten(), dtype=np.float64)
            # flatten() drops values under null slots, so lengths must
            # too: value_lengths() is null at null slots -> fill 0
            lens = np.asarray(
                pc.fill_null(col.value_lengths(), 0), dtype=np.int64)
            starts = np.zeros(len(lens), dtype=np.int64)
            if len(lens) > 1:
                np.cumsum(lens[:-1], out=starts[1:])
            sq = vals * vals
            sums = np.zeros(len(lens), dtype=np.float64)
            nz = lens > 0
            if nz.any():
                sums[nz] = np.add.reduceat(sq, starts[nz])
            norms = np.floor(np.sqrt(sums) * 1e9 + 0.5) / 1e9
            null_mask = np.asarray(col.is_null())
            yield pa.RecordBatch.from_arrays(
                [ids.cast(pa.int64()),
                 pa.array(norms, pa.float64(), mask=null_mask)],
                names=[id_col, "norm9"])

    src = df.select(F.col(id_col),
                    F.col(vec_col).cast("array<double>"))
    return src.mapInArrow(fn, schema=out_schema)


def dimension_variance_report(
    df: DataFrame,
    vec_col: str = "embedding",
    top_m: int = 10,
) -> DataFrame:
    """Per-dimension variance spectrum of an embedding column — the
    cheap PCA-free screen for dead or dominating dimensions before
    committing to an index build: a near-zero-variance dimension wastes
    index bits (prune it), one dimension holding most of the variance
    distorts unnormalized L2 buckets (scale it). Complements
    :func:`pca_project` (which needs the full covariance); this is ONE
    posexplode + (dim) aggregate — map-side combinable, shuffle carries
    ``dim × 3`` doubles, never vectors.

    Returns the ``top_m`` dimensions by population variance — ranked on
    the variance ROUNDED to 6 dp (ties → lower dim) so the top-m cut is
    stable across engines whose var_pop accumulation orders differ by
    an ulp: (dim, mean, variance, share_bp) where share_bp is the
    dimension's integer basis-point share of total variance.
    """
    ex = df.where(F.col(vec_col).isNotNull()).select(
        F.posexplode(F.col(vec_col).cast("array<double>"))
        .alias("dim", "_x"))
    per_dim = ex.groupBy("dim").agg(
        F.avg("_x").alias("_mu"), F.var_pop("_x").alias("_v"))
    tot = per_dim.agg(F.sum("_v").alias("_tot"))
    return (
        per_dim.crossJoin(F.broadcast(tot))
        .orderBy(F.desc(F.round("_v", 6)), "dim").limit(int(top_m))
        .select(
            "dim",
            F.round("_mu", 4).alias("mean"),
            F.round("_v", 4).alias("variance"),
            F.when(F.col("_tot") > 0,
                   F.floor(F.col("_v") * 10000 / F.col("_tot"))
                   .cast("bigint"))
            .alias("share_bp"))
    )


def srp_hyperplanes(dim: int, n_bits: int = 16, seed: int = 7) -> list[list[float]]:
    """Deterministic signed-random-projection hyperplanes: ``n_bits``
    unit-free Gaussian directions from a fixed-seed PRNG. Frozen by
    (dim, n_bits, seed), so query-time signatures, stored signatures,
    and an external SQL oracle all see the SAME planes — the same
    frozen-layout contract as the quantization scale vector."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return [[float(x) for x in rng.standard_normal(dim)]
            for _ in range(n_bits)]


def srp_signature(vec_col: str, hyperplanes: list[list[float]]) -> Column:
    """``n_bits``-bit SRP signature as ONE bigint: bit j = (v·h_j ≥ 0).

    Pure folded expressions (the assign_bucket_from_centroids pattern):
    each dot product is a left-to-right ``aggregate`` fold over
    ``zip_with`` against a literal plane, so any engine replaying the
    same fold order reproduces the signature bit-for-bit. For two
    vectors at angle θ, P[bit agrees] = 1 − θ/π (Goemans–Williamson) —
    the cosine-domain analogue of MinHash's Jaccard property.
    """
    v = _arr_sql(vec_col)
    terms = []
    for j, h in enumerate(hyperplanes):
        dot = (f"aggregate(zip_with({v}, {lit_double_array_sql(h)}, "
               f"(a, b) -> a * b), 0.0D, (acc, x) -> acc + x)")
        terms.append(f"(CASE WHEN {dot} >= 0.0D THEN {1 << j}L ELSE 0L END)")
    return F.expr("CAST(0 AS BIGINT) + " + " + ".join(terms))


def srp_candidate_pairs(
    df: DataFrame,
    hyperplanes: list[list[float]],
    bands: int = 4,
    min_cosine: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Hyperplane-LSH near-dup pairs over an embedding column — the
    VECTOR-domain blocking family beside MinHash (sets), SimHash
    (text), and sorted-neighborhood (sort keys): signatures band into
    ``bands`` bit-chunks, a pair collides when ANY chunk matches
    (P = 1 − (1 − p^(bits/bands))^bands with p = 1 − θ/π), and every
    candidate is verified with the EXACT cosine before being emitted —
    LSH prunes, exact measures decide, as everywhere in this engine.

    Plan shape mirrors ``simhash_pairs``: one signature projection
    (map-only folded expressions), explode into (chunk_id, chunk_val)
    buckets, hash self-join on the bucket, exact-cosine verify. Pair
    space is the bucket-collision volume, never |N|²; measure the
    S-curve on YOUR corpus with ``candidate_recall_report`` against
    ``cosine`` ground truth before trusting a banding config at scale.
    """
    n_bits = len(hyperplanes)
    if bands < 1 or n_bits % bands:
        raise ValueError(
            f"bands must divide n_bits={n_bits}, got {bands}")
    width = n_bits // bands
    # norms are computed ONCE per row here, never per candidate pair:
    # the verify stage's HOF folds are interpreted (CodegenFallback),
    # so a per-pair norm recomputation multiplies the dominant cost by
    # 3 (measured 22.8 s → 8 s at sf0.1 when hoisted)
    v = _vec(vec_col)
    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col), v.alias("_v"),
        F.sqrt(F.aggregate(v, F.lit(0.0), lambda a_, x: a_ + x * x))
        .alias("_n"),
        srp_signature(vec_col, hyperplanes).alias("_sig"),
    # base feeds THREE consumers (band explode + both verify sides) —
    # lazy-checkpoint so the interpreted n_bits-plane signature fold
    # and the norm run once per row, not once per consumer
    ).localCheckpoint(eager=False)
    chunk = F.explode(F.array(*[
        F.struct(
            F.lit(i).alias("chunk_id"),
            F.shiftrightunsigned(F.col("_sig"), width * i)
            .bitwiseAND(F.lit((1 << width) - 1)).alias("chunk_val"))
        for i in range(bands)
    ])).alias("_c")
    # the band join and the duplicate-collision distinct carry BARE id
    # pairs — vectors would multiply the shuffle by 2·dim doubles per
    # candidate; they join back afterwards from the |N|-row base
    # relation (broadcast-sized here, a plain hash join at scale)
    banded = base.select(id_col, chunk).select(
        id_col, "_c.chunk_id", "_c.chunk_val")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, on=[
            F.col("a.chunk_id") == F.col("b.chunk_id"),
            F.col("a.chunk_val") == F.col("b.chunk_val"),
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
        ])
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"))
        .distinct())
    va = base.select(F.col(id_col).alias("id_a"),
                     F.col("_v").alias("_va"), F.col("_n").alias("_na"))
    vb = base.select(F.col(id_col).alias("id_b"),
                     F.col("_v").alias("_vb"), F.col("_n").alias("_nb"))
    scored = cand.join(va, "id_a").join(vb, "id_b")
    dot = F.aggregate(F.zip_with("_va", "_vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    return (
        scored.select("id_a", "id_b",
                      (dot / (F.col("_na") * F.col("_nb"))).alias("cosine"))
        .where(F.col("cosine") >= min_cosine)
    )


def truncated_recall_report(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    dims: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Matryoshka-style truncation eval: recall@k of the top-k ranking
    computed on only the FIRST ``dims`` vector dimensions against the
    exact full-dimension top-k (Kusupati et al., NeurIPS'22). The
    decision this feeds: how many leading dimensions a first-pass
    index can keep — at 100 TB a 4× narrower scan pass is the
    difference between an in-memory prefilter and a disk-bound one —
    measured on YOUR corpus instead of assumed from the paper.

    Both rankings are TakeOrdered heaps with id tie-breaks (pure
    functions of the corpus); truncation is ``slice``, never a re-embed.
    Returns one row: (k, dims, n_hits, recall_bp).
    """
    from bigdata_tag_system_spark.operators.similarity import cosine_topk

    trunc = df.select(
        F.col(id_col),
        F.slice(F.col(vec_col), 1, int(dims)).alias(vec_col))
    approx = cosine_topk(
        trunc, list(query)[:int(dims)], k=k,
        vec_col=vec_col, id_col=id_col).select(id_col)
    exact = cosine_topk(
        df, list(query), k=k, vec_col=vec_col, id_col=id_col
    ).select(id_col)
    hits = approx.join(exact, id_col, "left_semi").agg(
        F.count(F.lit(1)).alias("n_hits"))
    return hits.select(
        F.lit(int(k)).alias("k"),
        F.lit(int(dims)).alias("dims"),
        "n_hits",
        F.expr(f"(10000 * n_hits) DIV {int(k)}").alias("recall_bp"))
