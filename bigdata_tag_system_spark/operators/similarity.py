"""Similarity search over an embedding column (array<float>).

Training-data pipeline surface (no reference equivalent): brute-force
cosine top-k as the exact baseline, and an IVF-style (centroid-bucketed)
approximate variant as the scale path.

Scale design: the query side is tiny (one vector or a small batch) —
always broadcast it; the corpus side never shuffles for brute force (map +
partial top-k via sort/limit handled by Spark's TakeOrderedAndProject).
For IVF, corpus vectors are assigned once to the nearest of k seeded
pseudo-random centroids (deterministic — no kmeans fit needed for the
pruning guarantee to be useful), and a query probes only ``nprobe``
nearest centroid buckets — at 100 TB this turns a full corpus scan into a
partition-pruned read when the table is written partitioned by bucket id.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_tag_system_spark.functions.arrays import (
    _arr_sql,
    _cosine_sql,
    _dot_sql,
    _norm_sql,
    lit_double_array_sql,
)
from bigdata_tag_system_spark.functions.sqlrender import attr


def cosine_to_query(vec_col: str, query: Sequence[float]) -> Column:
    """cosine(corpus_vec, query) as a pure expression (query folded to literals).

    Vectors are cast to double so similarity math runs in f64 regardless of
    the stored element type (float32 accumulation drifts enough to flip
    rank order near ties).
    """
    return F.expr(_cosine_sql(_arr_sql(vec_col), lit_double_array_sql(query)))


def cosine_to_query_arrow(vec_col: str, query: Sequence[float]) -> Column:
    """cosine(corpus_vec, query) as a vectorized Pandas UDF.

    The Arrow path for wide embeddings / big partitions: each batch
    stacks to a (batch, dim) float64 matrix and the scores are one BLAS
    matvec — ~dim× fewer interpreter steps than the expression form
    (higher-order lambdas are CodegenFallback). Exact same math/result
    as :func:`cosine_to_query`.
    """
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(query, dtype=np.float64)
    qn = np.linalg.norm(q) or 1.0

    @pandas_udf("double")
    def _cos(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0
        return pd.Series(m @ q / (norms * qn))

    return _cos(F.col(vec_col))


def cosine_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    impl: str = "expr",
) -> DataFrame:
    """Exact top-k by cosine similarity — the brute-force baseline.

    orderBy+limit compiles to TakeOrderedAndProject: per-partition heap
    top-k, no full sort, no shuffle of the corpus. ``impl="arrow"``
    scores with the vectorized Pandas UDF instead of the expression —
    same result, better throughput on wide vectors.
    """
    score = (
        cosine_to_query_arrow(vec_col, query)
        if impl == "arrow"
        else cosine_to_query(vec_col, query)
    )
    return (
        df.select(F.col(id_col), score.alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF-style bucketed ANN
# ---------------------------------------------------------------------------

def _centroid(dim: int, c: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit 'centroid' (hash-seeded)."""
    import hashlib
    import struct

    vals = []
    for i in range(dim):
        h = hashlib.md5(f"{seed}:{c}:{i}".encode()).digest()[:8]
        (u,) = struct.unpack("<q", h)
        vals.append((u % 2_000_001 - 1_000_000) / 1_000_000.0)
    n = sum(x * x for x in vals) ** 0.5 or 1.0
    return [x / n for x in vals]


def _probe_buckets(
    query: Sequence[float], centroids: list[list[float]], nprobe: int
) -> list[int]:
    """Indices of the nprobe centroids nearest the query (by cosine)."""
    qnorm = sum(x * x for x in query) ** 0.5 or 1.0
    qdots = sorted(
        ((sum(q * x for q, x in zip(query, cen)) / qnorm, c)
         for c, cen in enumerate(centroids)),
        reverse=True,
    )
    return [c for _, c in qdots[:nprobe]]


def _probe_buckets_expr(
    vec_col: str, centroids: list[list[float]], nprobe: int
) -> Column:
    """:func:`_probe_buckets` in-plan, per row: sort (−dot, bucket)
    structs asc — the vector's norm is constant per row, so raw dot
    order == cosine order."""
    structs = ",".join(
        f"named_struct('negdot', -({_dot_sql(attr(vec_col), s)}), "
        f"'bucket', {b})"
        for b, s in enumerate(map(lit_double_array_sql, centroids)))
    return F.expr(
        f"transform(slice(array_sort(array({structs})), 1, "
        f"{int(nprobe)}), s -> s.bucket)")


def _scored_topk(
    df: DataFrame, query: Sequence[float], k: int, vec_col: str, id_col: str
) -> DataFrame:
    return (
        df.select(F.col(id_col), cosine_to_query(vec_col, query).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def assign_ivf_bucket(
    vec_col: str, dim: int, num_buckets: int = 16, seed: int = 42
) -> Column:
    """Nearest-centroid bucket id over the seeded pseudo-random centroids."""
    return assign_bucket_from_centroids(
        vec_col, [_centroid(dim, c, seed) for c in range(num_buckets)]
    )


def ivf_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_buckets: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: probe only the ``nprobe`` buckets nearest the query.

    Recall grows with nprobe (nprobe=num_buckets → exact). On a
    bucket-partitioned corpus the non-probed buckets are never read.
    """
    dim = len(query)
    centroids = [_centroid(dim, c, seed) for c in range(num_buckets)]
    probe = _probe_buckets(query, centroids, nprobe)
    bucketed = df.withColumn(
        "_bucket", assign_bucket_from_centroids(vec_col, centroids))
    return _scored_topk(
        bucketed.where(F.col("_bucket").isin(probe)), query, k, vec_col, id_col)


def fit_centroids(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_buckets: int = 16,
    sample_size: int = 4096,
    iterations: int = 5,
    seed: int = 42,
) -> list[list[float]]:
    """Deterministic sampled k-means (Lloyd) centroids for IVF.

    A bounded, hash-ordered sample (first ``sample_size`` rows by
    ``xxhash64(id, seed)`` — stable under partitioning/row order) is
    collected and refined with a few numpy Lloyd iterations on the
    driver. Centroids are tiny (k × dim floats); the corpus itself never
    leaves the executors. Compared to the seeded pseudo-random
    hyperplane centroids (:func:`_centroid`), fitted centroids track the
    real embedding distribution, so bucket sizes balance and nprobe
    recall rises for the same probe budget.
    """
    sample = (
        df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(sample_size)
        .collect()
    )
    if len(sample) < num_buckets:
        raise ValueError(
            f"need ≥ {num_buckets} sample vectors to fit {num_buckets} "
            f"centroids, got {len(sample)}")
    x = np.array([r["_v"] for r in sample], dtype=np.float64)
    if x.shape[1] != dim:
        raise ValueError(f"embedding dim {x.shape[1]} != declared dim {dim}")
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    x = x / norms
    # deterministic init: first k sample points (already hash-shuffled)
    cents = x[:num_buckets].copy()
    for _ in range(iterations):
        sims = x @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(num_buckets):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m) or 1.0
                cents[c] = m / n
    return [list(map(float, c)) for c in cents]


def _best_dot(vec_col: str, centroids: list[list[float]]) -> Column:
    """max over centroids of dot(vec, centroid) — centroids folded to
    literals (same envelope as :func:`assign_bucket_from_centroids`),
    the whole max-dot one parsed expression."""
    dots = [_dot_sql(attr(vec_col), lit_double_array_sql(cen))
            for cen in centroids]
    return F.expr(dots[0] if len(dots) == 1
                  else "greatest(" + ",".join(dots) + ")")


def _best_dot_arrow(vec_col: str, centroids: list[list[float]]) -> Column:
    """Arrow-batched max-dot — pairs with
    :func:`assign_bucket_from_centroids_arrow` for large candidate sets."""
    from pyspark.sql.functions import pandas_udf

    c = np.array(centroids, dtype=np.float64).T

    @pandas_udf("double")
    def _bd(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        return pd.Series((m @ c).max(axis=1))

    return _bd(F.col(vec_col))


def _resolve_assign_impl(impl: str, k: int, dim: int) -> str:
    """'auto' → 'arrow' once k × dim outgrows comfortable expression
    folding (task binaries grow ~MBs and codegen chokes past that)."""
    if impl == "auto":
        return "arrow" if k * dim > 16384 else "expr"
    if impl not in ("expr", "arrow"):
        raise ValueError(f"assign_impl must be auto|expr|arrow, got {impl!r}")
    return impl


def _kmeans_parallel_init(
    u: DataFrame,
    dim: int,
    k: int,
    id_col: str,
    seed: int,
    rounds: int = 3,
    oversample: int | None = None,
    impl: str = "expr",
) -> list[list[float]]:
    """k-means‖ initialization (Bahmani et al., VLDB 2012) over unit
    vectors in ``u`` (columns: id, ``_u``).

    Each round samples every corpus row with probability
    ``l · d²(x, C) / φ`` — far-from-current-candidates rows are likelier
    — using a deterministic per-row hash draw (replayable, no RNG state
    on executors). After ``rounds`` rounds the candidate sketch has
    O(l·rounds) rows; each candidate is weighted by how many corpus rows
    it is nearest to (one map-side-combined count job), and the weighted
    sketch is Lloyd-reclustered to ``k`` centers on the driver. Only
    candidates and (candidate, weight) cells ever reach the driver —
    never corpus-sized data. Cosine distance d² = 1 − max-dot since all
    vectors are unit-normalized.
    """
    l = oversample or 2 * k

    # first center: hash-least row (deterministic under any partitioning)
    first = u.orderBy(F.xxhash64(F.col(id_col), F.lit(seed))).limit(1).collect()
    if not first:
        raise ValueError("cannot fit centroids over an empty corpus")
    if len(first[0]["_u"]) != dim:
        raise ValueError(
            f"embedding dim {len(first[0]['_u'])} != declared dim {dim}")
    cands: list[list[float]] = [list(map(float, first[0]["_u"]))]
    seen_ids = {first[0][id_col]}

    for r in range(rounds):
        best = (_best_dot_arrow("_u", cands) if impl == "arrow"
                else _best_dot("_u", cands))
        d2 = F.lit(1.0) - best
        phi = u.agg(F.sum(d2).alias("phi")).first()["phi"] or 0.0
        if phi <= 0.0:  # every row coincides with a candidate
            break
        draw = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed + 1 + r)),
                      F.lit(1_000_000)) / F.lit(1_000_000.0)
        picked = (
            u.where(draw < F.lit(float(l)) * d2 / F.lit(float(phi)))
            .select(id_col, "_u")
            .limit(8 * l)   # degenerate-φ backstop; expected count is l
            .collect()
        )
        for row in picked:
            if row[id_col] not in seen_ids:
                seen_ids.add(row[id_col])
                cands.append(list(map(float, row["_u"])))

    if len(cands) < k:
        # tiny/degenerate corpus: top up from hash order (dedup by id)
        extra = u.orderBy(F.xxhash64(F.col(id_col), F.lit(seed))) \
            .limit(k + len(seen_ids)).collect()
        for row in extra:
            if row[id_col] not in seen_ids:
                seen_ids.add(row[id_col])
                cands.append(list(map(float, row["_u"])))
            if len(cands) >= k:
                break
    if len(cands) < k:
        raise ValueError(
            f"need ≥ {k} distinct corpus vectors to fit {k} centroids, "
            f"got {len(cands)}")

    # weight candidates by nearest-assignment counts (one corpus pass)
    assign = (assign_bucket_from_centroids_arrow("_u", cands) if impl == "arrow"
              else assign_bucket_from_centroids("_u", cands))
    counts = {
        r2["_b"]: r2["n"]
        for r2 in u.select(assign.alias("_b"))
        .groupBy("_b").agg(F.count(F.lit(1)).alias("n")).collect()
        if r2["_b"] is not None
    }
    x = np.array(cands, dtype=np.float64)
    w = np.array([counts.get(i, 0) for i in range(len(cands))], dtype=np.float64)

    # driver-side weighted Lloyd on the sketch (O(l·rounds) rows)
    order = np.lexsort((np.arange(len(cands)), -w))
    cents = x[order[:k]].copy()
    for _ in range(10):
        assign = (x @ cents.T).argmax(axis=1)
        for c in range(k):
            mask = assign == c
            tot = w[mask].sum()
            if tot > 0:
                m = (x[mask] * w[mask, None]).sum(axis=0) / tot
                n = np.linalg.norm(m) or 1.0
                cents[c] = m / n
    return [list(map(float, c)) for c in cents]


def fit_centroids_distributed(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_buckets: int = 16,
    iterations: int = 5,
    seed: int = 42,
    assign_impl: str = "auto",
) -> list[list[float]]:
    """Cluster-resident k-means fit — the scale path past
    :func:`fit_centroids`'s driver-side sample.

    ``assign_impl``: ``expr`` folds centroids into Catalyst literals
    (JVM-side, best for small k × dim); ``arrow`` scores each batch with
    one BLAS matmul against a closure-shipped centroid matrix (the
    large-k path — expression folding grows task binaries ~MBs past a
    few hundred centroids); ``auto`` (default) switches on k × dim.

    The corpus never leaves the executors: initialization is k-means‖
    (:func:`_kmeans_parallel_init` — oversampled distance-weighted
    sampling rounds on executors, weighted driver re-cluster of the
    O(k·rounds) sketch; a hash-ordered ``limit(k)`` pick would seed
    whatever cluster structure the hash happens to land on), and each
    Lloyd iteration is one job — nearest-centroid assignment as in-plan
    expressions (current centroids folded to literals), ``posexplode``
    to (bucket, dimension) cells, map-side-combined ``avg`` — so only
    ``num_buckets × dim`` aggregate cells ever reach the driver per
    iteration. Same contract as :func:`fit_centroids`: returns
    unit-normalized centroid lists usable with
    :func:`ivf_topk_fitted` / :func:`knn_join_bucketed`.
    """
    from pyspark.storagelevel import StorageLevel

    # NULL / zero-norm guard (mirrors fit_centroids): drop NULL vectors,
    # coalesce a zero norm to 1.0 — otherwise x/0 yields NULL elements,
    # the row's bucket becomes NULL, and the driver fold crashes
    u = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).where(
        F.col("_v").isNotNull() & ~F.exists("_v", lambda x: x.isNull())
    ).withColumn(
        "_n", F.expr(f"IF({_norm_sql('_v')} = 0.0D, 1.0D, {_norm_sql('_v')})")
    ).select(
        F.col(id_col),
        F.transform("_v", lambda x: x / F.col("_n")).alias("_u"),
    ).persist(StorageLevel.MEMORY_AND_DISK)

    impl = _resolve_assign_impl(assign_impl, num_buckets, dim)
    try:
        cents = _kmeans_parallel_init(u, dim, num_buckets, id_col, seed,
                                      impl=impl)
    except ValueError:
        u.unpersist()
        raise
    if len(cents[0]) != dim:
        u.unpersist()
        raise ValueError(f"embedding dim {len(cents[0])} != declared dim {dim}")

    for _ in range(iterations):
        assign = (
            assign_bucket_from_centroids_arrow("_u", cents) if impl == "arrow"
            else assign_bucket_from_centroids("_u", cents))
        cells = (
            u.select(
                assign.alias("_b"),
                F.posexplode("_u"),
            )
            .groupBy("_b", "pos")
            .agg(F.avg("col").alias("m"))
            .collect()
        )
        sums: dict[int, list[float]] = {}
        for r in cells:
            if r["_b"] is None:  # defensive: unassignable row (shouldn't occur post-guard)
                continue
            sums.setdefault(r["_b"], [0.0] * dim)[r["pos"]] = r["m"]
        for c, mean in sums.items():
            n = sum(x * x for x in mean) ** 0.5 or 1.0
            cents[c] = [x / n for x in mean]
        # empty buckets keep their previous centroid
    u.unpersist()
    return cents


def assign_bucket_from_centroids(
    vec_col: str, centroids: list[list[float]]
) -> Column:
    """Nearest-centroid bucket id for explicit centroid vectors: the
    first index achieving the max dot, NULL when the best dot is NaN
    or NULL.

    Centroids fold into Catalyst literals — JVM-side and codegen-friendly
    for small/medium k, but the expression (and each task binary) grows
    with k × dim; past a few hundred centroids switch to
    :func:`assign_bucket_from_centroids_arrow`, which broadcasts the
    centroid matrix once and scores each Arrow batch with one BLAS
    matmul.
    """
    v = _arr_sql(vec_col)
    ds = "array(" + ",".join(_dot_sql(v, lit_double_array_sql(cen))
                             for cen in centroids) + ")"
    return F.expr(
        f"IF(isnan(array_max({ds})), NULL, "
        f"CAST(array_position({ds}, array_max({ds})) AS INT) - 1)")


def assign_bucket_from_centroids_arrow(
    vec_col: str, centroids: list[list[float]]
) -> Column:
    """Nearest-centroid bucket id via a vectorized Pandas UDF — the
    large-k path.

    The (k × dim) centroid matrix ships to executors once inside the UDF
    closure instead of being folded into k × dim expression literals, and
    each Arrow batch scores with a single ``(batch × dim) @ (dim × k)``
    matmul + argmax. Ties resolve to the lowest bucket id, matching the
    expression form. NULL vectors, vectors containing NULL/NaN elements,
    and vectors of the wrong length all yield NULL buckets — same as the
    expression form's null-propagating dot product, so
    ``assign_impl="auto"`` produces identical assignments on either side
    of the k × dim switch-over (callers filter upstream, as the fit does).
    """
    from pyspark.sql.functions import pandas_udf

    c = np.array(centroids, dtype=np.float64).T  # (dim, k)
    dim = c.shape[0]

    @pandas_udf("int")
    def _assign(vecs: pd.Series) -> pd.Series:
        out = pd.Series([None] * len(vecs), index=vecs.index, dtype="object")
        mask = vecs.notna()
        if mask.any():
            sub = vecs[mask]
            # ragged lengths would crash np.stack; score only well-shaped
            # vectors, everything else stays NULL
            ok = sub[sub.map(len) == dim]
            if len(ok):
                # NULL elements arrive as None → NaN under the float cast;
                # any NaN poisons its dot products, so the row's bucket
                # must be NULL, not argmax-of-NaN (which is 0)
                m = np.stack(ok.to_numpy()).astype(np.float64)
                best = (m @ c).argmax(axis=1).astype(object)
                best[np.isnan(m).any(axis=1)] = None
                out[ok.index] = best
        return out.astype("Int32")

    return _assign(F.col(vec_col))


def ivf_topk_fitted(
    df: DataFrame,
    query: Sequence[float],
    centroids: list[list[float]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-k probing the nprobe nearest FITTED centroids."""
    probe = _probe_buckets(query, centroids, nprobe)
    bucketed = df.withColumn(
        "_bucket", assign_bucket_from_centroids(vec_col, centroids))
    return _scored_topk(
        bucketed.where(F.col("_bucket").isin(probe)), query, k, vec_col, id_col)


def write_ivf_index(
    df: DataFrame,
    path: str,
    dim: int,
    vec_col: str = "embedding",
    num_buckets: int = 16,
    seed: int = 42,
    mode: str = "overwrite",
) -> None:
    """Materialize the corpus as bucket-partitioned parquet.

    One-time build: assign every vector its nearest-centroid bucket and
    write ``partitionBy("_bucket")``. Queries then read ONLY the probed
    buckets — at 100 TB the non-probed ~(1 - nprobe/num_buckets) of the
    corpus is pruned at the file-listing level, never scanned
    (PartitionFilters, plan-asserted in tests).
    """
    bucketed = df.withColumn(
        "_bucket", assign_ivf_bucket(vec_col, dim, num_buckets, seed))
    bucketed.write.mode(mode).partitionBy("_bucket").parquet(path)


def write_ivf_index_fitted(
    df: DataFrame,
    path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Bucket-partitioned corpus store under FITTED centroids.

    Same partition-pruning contract as :func:`write_ivf_index` but with
    k-means centroids (:func:`fit_centroids` /
    :func:`fit_centroids_distributed`) — measurably better bucket
    balance than the seeded hyperplanes, so probe selectivity is more
    uniform. The centroid set is persisted in a sidecar so readers and
    later appends can't drift from the layout on disk.

    ``mode="append"`` adds new vectors into the existing bucket
    directories — bucketing is a pure function of the stored centroids,
    so incremental corpus growth never requires re-indexing (re-FIT,
    when drift warrants it, is a rebuild).
    """
    import json
    import os

    meta_path = os.path.join(path, "_ivf_meta.json")
    if mode == "append" and os.path.exists(meta_path):
        # appending under different centroids would leave old files in
        # buckets the new layout never probes — silent recall loss
        with open(meta_path) as fh:
            existing = json.load(fh)["centroids"]
        if existing != [list(map(float, c)) for c in centroids]:
            raise ValueError(
                f"IVF index at {path} was built with different centroids "
                f"— appends must use the sidecar's centroid set "
                f"(re-fitting requires a rebuild)")
    bucketed = df.withColumn(
        "_bucket", assign_bucket_from_centroids(vec_col, centroids))
    bucketed.write.mode(mode).partitionBy("_bucket").parquet(path)
    with open(meta_path, "w") as fh:
        json.dump({"centroids": centroids}, fh)


def ivf_topk_indexed_fitted(
    spark,
    path: str,
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-k over a :func:`write_ivf_index_fitted` store —
    probed buckets prune at the file listing, centroids come from the
    index's own sidecar (no caller-side centroid bookkeeping)."""
    import json
    import os

    with open(os.path.join(path, "_ivf_meta.json")) as fh:
        centroids = json.load(fh)["centroids"]
    probe = _probe_buckets(query, centroids, nprobe)
    corpus = spark.read.parquet(path).where(F.col("_bucket").isin(probe))
    return _scored_topk(corpus, query, k, vec_col, id_col)


def ivf_topk_indexed(
    spark,
    path: str,
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_buckets: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k over a :func:`write_ivf_index` store.

    Same math as :func:`ivf_topk`, but the bucket filter lands on the
    partition column, so Spark prunes non-probed directories before any
    I/O happens.
    """
    dim = len(query)
    centroids = [_centroid(dim, c, seed) for c in range(num_buckets)]
    probe = _probe_buckets(query, centroids, nprobe)
    corpus = spark.read.parquet(path).where(F.col("_bucket").isin(probe))
    return _scored_topk(corpus, query, k, vec_col, id_col)


def rrf_fuse(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    c: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked lists: ``(id, rrf)``.

    The standard hybrid-search combiner (lexical BM25 ranks × vector
    cosine ranks): each list contributes ``1/(c + rank)``, ids missing
    from a list contribute 0 for it. Both inputs are top-k-sized
    relations, so the full-outer join is trivially small regardless of
    corpus size — fusion cost never scales with data.
    """
    fa = a.select(F.col(id_col), (1.0 / (c + F.col(rank_col))).alias("_ra"))
    fb = b.select(F.col(id_col), (1.0 / (c + F.col(rank_col))).alias("_rb"))
    fused = fa.join(fb, id_col, "full_outer").select(
        F.col(id_col),
        (F.coalesce("_ra", F.lit(0.0)) + F.coalesce("_rb", F.lit(0.0))).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), F.col(id_col)).limit(int(k))


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Top-k corpus neighbors for EACH query row (broadcast the queries).

    Window rank per query after a broadcast nested-loop — right shape when
    |queries| is small; for large query sets, bucket both sides (IVF) first.
    """
    from pyspark.sql import Window

    q = queries.select(F.col(q_id), F.col(q_vec).cast("array<double>").alias("_q"))
    c = corpus.select(F.col(c_id), F.col(c_vec).cast("array<double>").alias("_c"))
    scored = F.broadcast(q).crossJoin(c).select(
        q_id,
        c_id,
        F.expr(_cosine_sql("_q", "_c")).alias("cosine"),
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("cosine"), F.col(c_id))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def knn_join_bucketed(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Top-k neighbors for each query — IVF-bucketed, for LARGE query sets.

    :func:`knn_join` broadcasts the queries into a nested-loop cross join:
    |Q| × |C| score evaluations, right only when |Q| is tiny. Here both
    sides route through the shared centroid space instead:

    - each corpus vector gets its single nearest-centroid bucket;
    - each query expands to its ``nprobe`` nearest buckets (pure
      expressions — centroid ranking runs in-plan, no driver round-trip
      per query);
    - queries ⋈ corpus on the bucket id is a plain hash join whose pair
      space is |Q| × nprobe/num_buckets of the corpus, not |Q| × |C|;
    - per-query top-k by window rank, exact cosine as the score.

    A corpus row sits in exactly one bucket, so no (q, c) pair is scored
    twice and ``nprobe = len(centroids)`` degrades gracefully to the
    exact brute-force result (bucketing only prunes). Hot buckets are an
    AQE skew-join case; at 100 TB pair the corpus side with
    :func:`write_ivf_index` so non-probed buckets are partition-pruned.
    """
    from pyspark.sql import Window

    if not 0 < nprobe <= len(centroids):
        raise ValueError(f"nprobe must be in 1..{len(centroids)}, got {nprobe}")
    q = queries.select(F.col(q_id), F.col(q_vec).cast("array<double>").alias("_q"))
    c = corpus.select(
        F.col(c_id),
        F.col(c_vec).cast("array<double>").alias("_c"),
        assign_bucket_from_centroids(c_vec, centroids).alias("_bucket"),
    )
    probes = _probe_buckets_expr("_q", centroids, nprobe)
    qb = q.select(q_id, "_q", F.explode(probes).alias("_bucket"))
    scored = qb.join(c, "_bucket").select(
        q_id,
        c_id,
        F.expr(_cosine_sql("_q", "_c")).alias("cosine"),
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("cosine"), F.col(c_id))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def mmr_rerank(
    df: "DataFrame",
    query: "Sequence[float]",
    k: int = 5,
    pool: int = 16,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> "DataFrame":
    """Maximal-marginal-relevance diversity re-rank (Carbonell &
    Goldstein, SIGIR'98): from the top-``pool`` cosine candidates,
    greedily select ``k`` maximizing ``λ·rel − (1−λ)·max sim to the
    already-selected`` — the data-curation selector that trades
    relevance against redundancy (a pure top-k returns five copies of
    the same near-dup; MMR returns one plus four genuinely different).

    The corpus-scale work is the TakeOrdered candidate heap; the
    greedy loop is inherently sequential over ≤ ``pool`` rows, so it
    runs driver-side on the collected pool (bounded top-k collect
    convention) and ships back as a literal plan. Every similarity is
    quantized to 9 decimals (half-up, ``floor(x·1e9 + 0.5)/1e9`` — the
    same expression the SQL oracle runs) BEFORE any comparison, so the
    greedy argmax can never flip on a cross-engine summation-order ulp;
    ties break by id.
    """
    import math

    from pyspark.sql import functions as F

    qv = [float(x) for x in query]
    qn = math.sqrt(sum(x * x for x in qv))
    # Cross-engine weight alignment: a SQL oracle writes the redundancy
    # weight as a decimal literal (0.3), but 1.0 - 0.7 is a DIFFERENT
    # double (0.30000000000000004). Round the complement to its
    # shortest-decimal value so both engines multiply by the same IEEE
    # double and near-tied MMR scores cannot diverge on that ulp.
    mu = round(1.0 - lam, 12)

    def q9(x: float) -> float:
        return math.floor(x * 1e9 + 0.5) / 1e9

    def cos(a: list[float], b: list[float]) -> float:
        num = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return num / (na * nb) if na > 0 and nb > 0 else 0.0

    score = cosine_to_query(vec_col, qv)
    rows = (df.select(F.col(id_col).alias("_id"),
                      F.col(vec_col).cast("array<double>").alias("_v"),
                      score.alias("_rel"))
            .orderBy(F.desc("_rel"), F.col("_id"))
            .limit(int(pool))
            .collect())
    cand = [(r["_id"], list(r["_v"]), q9(float(r["_rel"])))
            for r in rows]

    selected: list[tuple[object, float, float]] = []  # (id, rel9, score)
    chosen_vecs: list[list[float]] = []
    remaining = list(cand)
    for _ in range(min(int(k), len(cand))):
        best = None
        for cid, cv, rel9 in remaining:
            red = max((q9(cos(cv, sv)) for sv in chosen_vecs),
                      default=0.0)
            s = lam * rel9 - mu * red
            key = (-s, cid)
            if best is None or key < best[0]:
                best = (key, cid, cv, rel9, s)
        _, cid, cv, rel9, s = best
        selected.append((cid, rel9, s))
        chosen_vecs.append(cv)
        remaining = [c for c in remaining if c[0] != cid]

    spark = df.sparkSession
    # ids ship back as literals of the column's NATIVE type — id_col is
    # a generic parameter, so no int() coercion (strings/uuids stay
    # strings); the cast pins F.lit's inferred type back to the source
    # schema (e.g. int32 ids would otherwise widen to long).
    id_type = df.schema[id_col].dataType
    out = [
        F.struct(F.lit(i + 1).alias("rank"),
                 F.lit(cid).cast(id_type).alias(id_col),
                 F.lit(round(rel9, 4)).alias("relevance"),
                 F.lit(round(s, 4)).alias("mmr_score"))
        for i, (cid, rel9, s) in enumerate(selected)
    ]
    return (spark.range(1)
            .select(F.explode(F.array(*out)).alias("s"))
            .select("s.rank", f"s.{id_col}", "s.relevance",
                    "s.mmr_score")
            .orderBy("rank"))
