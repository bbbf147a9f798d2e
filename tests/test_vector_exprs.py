"""Vector math renders as SQL text only.

Each operator below used to keep a Column-API build next to its SQL
text build. The Column formulations live on here, inline, as the
reference each surviving SQL build must match, over non-finite and
empty literals, zero vectors, ties and NaN dots.
"""

from __future__ import annotations

import math
import re

import pytest
from pyspark.sql import functions as F

from bigdata_tag_system_spark.functions.arrays import (
    lit_double_array,
    lit_double_array_sql,
)
from bigdata_tag_system_spark.operators import similarity as S

INF, NAN = float("inf"), float("nan")


# --- the deleted Column formulations -----------------------------------

def _old_lit(values):
    return F.array(*[F.lit(float(x)) for x in values]).cast("array<double>")


def _old_dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                       lambda acc, v: acc + v)


def _old_norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0),
                              lambda acc, v: acc + v))


def _old_dots(vec, centroids):
    return [_old_dot(vec, _old_lit(cen)) for cen in centroids]


# --- helpers ---------------------------------------------------------------

def _key(v):
    """A NaN-aware comparison key for collected values."""
    if isinstance(v, float) and math.isnan(v):
        return "nan"
    if isinstance(v, (list, tuple)):
        return tuple(_key(x) for x in v)
    return v


def _pairs(df, new, old, order="id"):
    rows = df.select(order, new.alias("new"), old.alias("old")) \
        .orderBy(order).collect()
    return [(_key(r["new"]), _key(r["old"])) for r in rows]


def _same(df, new, old):
    got = _pairs(df, new, old)
    assert all(n == o for n, o in got), got


def _optimized(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+L?", "#", plan)


@pytest.fixture(scope="module")
def vecs(spark):
    # zero vector, NULL vector, NULL element, a tie between centroids
    # 0 and 1 (id 4), non-finite elements (ids 6, 7)
    rows = [(1, [1.0, 2.0, -4.0]), (2, [0.0, 0.0, 0.0]), (3, None),
            (4, [1.0, 1.0, 0.0]), (5, [3.0, None, 2.0]),
            (6, [INF, 0.0, 1.0]), (7, [NAN, 1.0, 1.0]),
            (8, [-1.0, 6.0, 0.5])]
    return spark.createDataFrame(rows, "id long, e array<double>")


CENTS = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, -1.0]]


class TestLiteralText:
    @pytest.mark.parametrize("values", [[INF, 1.0], [NAN, -INF], [],
                                        [0.1, -0.0, 1e-320]])
    def test_equals_per_element_build(self, spark, values):
        one = spark.range(1)
        new, old = lit_double_array(values), _old_lit(values)
        row = one.select(new.alias("a"), old.alias("b")).first()
        assert _key(row["a"]) == _key(row["b"])
        assert one.select(new).schema[0].dataType.simpleString() == \
            "array<double>"
        assert _optimized(one.select(new.alias("a"))) == \
            _optimized(one.select(old.alias("a")))

    def test_text_always_renders(self):
        assert lit_double_array_sql([]) == "CAST(array() AS ARRAY<DOUBLE>)"
        assert lit_double_array_sql([NAN, INF, -INF]) == (
            "array(CAST('NaN' AS DOUBLE),CAST('Infinity' AS DOUBLE),"
            "CAST('-Infinity' AS DOUBLE))")


class TestSimilarityParity:
    @pytest.mark.parametrize("query", [[1.0, 2.0, 2.0], [INF, 1.0, 0.0],
                                       [NAN, 1.0, 1.0], []])
    def test_cosine_to_query(self, vecs, query):
        # a zero norm divides by zero (an error under ANSI), so the
        # zero vector sits this one out
        v = F.col("e").cast("array<double>")
        q = _old_lit(query)
        _same(vecs.where("id != 2"), S.cosine_to_query("e", query),
              _old_dot(v, q) / (_old_norm(v) * _old_norm(q)))

    @pytest.mark.parametrize("cents", [CENTS, CENTS[:1],
                                       [[NAN, 0.0, 0.0], [0.0, 1.0, 0.0]]])
    def test_best_dot(self, vecs, cents):
        dots = _old_dots(F.col("e"), cents)
        old = F.greatest(*dots) if len(dots) > 1 else dots[0]
        _same(vecs, S._best_dot("e", cents), old)

    def test_assign_bucket(self, vecs):
        # first index achieving the max dot: the tie (id 4) and the
        # zero vector (id 2, all dots 0) go to bucket 0
        v = F.col("e").cast("array<double>")
        dots = _old_dots(v, CENTS)
        best = F.greatest(*dots)
        old = F.coalesce(*[F.when(dots[c] == best, F.lit(c))
                           for c in range(len(dots))])
        got = dict(zip(range(1, 9), _pairs(
            vecs, S.assign_bucket_from_centroids("e", CENTS), old)))
        assert got[4] == (0, 0) and got[2] == (0, 0)
        # a NaN best dot (ids 6, 7): the Column build matched it with
        # `=` (Spark orders NaN = NaN as true) and returned its index;
        # the SQL build returns NULL, as the Arrow assigner does for a
        # NaN element (id 7)
        assert got[6] == (None, 1) and got[7] == (None, 0)
        assert all(n == o for i, (n, o) in got.items() if i not in (6, 7))
        arrow = {r["id"]: r["a"] for r in vecs.select(
            "id", S.assign_bucket_from_centroids_arrow("e", CENTS)
            .alias("a")).collect()}
        assert arrow[7] is None

    @pytest.mark.parametrize("nprobe", [1, 2, 3])
    def test_probe_ranking(self, vecs, nprobe):
        cents = CENTS + [[NAN, 0.0, 0.0]]
        ranked = F.array_sort(F.array(*[
            F.struct((-_old_dot(F.col("e"), _old_lit(cen))).alias("negdot"),
                     F.lit(b).alias("bucket"))
            for b, cen in enumerate(cents)]))
        old = F.transform(F.slice(ranked, 1, nprobe), lambda s: s["bucket"])
        _same(vecs, S._probe_buckets_expr("e", cents, nprobe), old)

    def test_fit_centroids_distributed_unchanged(self, spark):
        # the Lloyd assignment and the k-means‖ weights used to build
        # the Column twin; the SQL build must land on the same floats
        import random

        random.seed(11)
        rows = [(i, [random.gauss(0, 1) for _ in range(4)])
                for i in range(60)]
        rows[5] = (5, [0.0, 0.0, 0.0, 0.0])
        rows[9] = (9, list(rows[8][1]))  # a duplicate: exact ties
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cents = S.fit_centroids_distributed(df, dim=4, num_buckets=4,
                                            iterations=3, assign_impl="expr")

        # replay with the Column twin swapped back in
        def old_assign(vec_col, centroids):
            v = F.col(vec_col).cast("array<double>")
            dots = _old_dots(v, centroids)
            best = F.greatest(*dots) if len(dots) > 1 else dots[0]
            return F.coalesce(*[F.when(dots[c] == best, F.lit(c))
                                for c in range(len(dots))])

        orig = S.assign_bucket_from_centroids
        S.assign_bucket_from_centroids = old_assign
        try:
            want = S.fit_centroids_distributed(
                df, dim=4, num_buckets=4, iterations=3, assign_impl="expr")
        finally:
            S.assign_bucket_from_centroids = orig
        assert cents == want


class TestEmbeddingParity:
    @pytest.mark.parametrize("mean,comps", [
        ([0.5, -1.0, 2.0], [[0.6, 0.0, 0.8], [0.0, 1.0, 0.0]]),
        ([NAN, 0.0, 0.0], [[1.0, 0.0, 0.0]]),
        ([0.0, 0.0, 0.0], [[INF, 0.0, 1.0], [0.0, -INF, 0.0]]),
        ([0.0, 0.0, 0.0], []),
    ])
    def test_project_pca(self, vecs, mean, comps):
        from bigdata_tag_system_spark.operators.embeddings import project_pca

        v = F.col("e").cast("array<double>")
        outs = []
        for comp in comps:
            term = F.lit(0.0)
            for i, (m, w) in enumerate(zip(mean, comp)):
                if w == 0.0:
                    continue
                term = term + (F.element_at(v, i + 1) - F.lit(float(m))) \
                    * F.lit(float(w))
            outs.append(term)
        got = project_pca(vecs, mean, comps, vec_col="e", out_col="new") \
            .withColumn("old", F.array(*outs)).orderBy("id").collect()
        assert [_key(r["new"]) for r in got] == [_key(r["old"]) for r in got]

    def test_srp_signature_nonfinite_planes(self, vecs):
        from bigdata_tag_system_spark.operators.embeddings import (
            srp_signature,
        )

        planes = [[1.0, -1.0, 0.5], [INF, 0.0, 0.0], [NAN, 1.0, 1.0],
                  [0.0, 0.0, 0.0]]
        v = F.col("e").cast("array<double>")
        old = F.lit(0).cast("bigint")
        for j, h in enumerate(planes):
            dot = F.aggregate(F.zip_with(v, _old_lit(h), lambda a, b: a * b),
                              F.lit(0.0), lambda acc, x: acc + x)
            old = old + F.when(dot >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        _same(vecs, srp_signature("e", planes), old)


class TestDedupParity:
    def test_cosine_dup_pairs_brute_force(self, spark):
        from bigdata_tag_system_spark.operators.dedup import cosine_dup_pairs

        rows = [(1, [1.0, 0.0]), (2, [2.0, 0.0]), (3, [0.6, 0.8]),
                (4, [0.8, 0.6]), (5, [-1.0, 0.0]), (6, [1.0, 1e-9]),
                (7, [INF, 1.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = cosine_dup_pairs(df, threshold=-2.0, brute_force=True)
        v = df.select("vec_id", F.col("embedding").cast("array<double>")
                      .alias("_v"))
        norm = v.select("vec_id", F.transform(
            "_v", lambda x: x / _old_norm(F.col("_v"))).alias("_u"))
        a, b = norm.alias("a"), norm.alias("b")
        want = a.join(b, on=F.col("a.vec_id") < F.col("b.vec_id")).select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"),
            _old_dot(F.col("a._u"), F.col("b._u")).alias("cosine"),
        ).where(F.col("cosine") >= -2.0)

        def rows_of(df_):
            return sorted((r["id_a"], r["id_b"], _key(r["cosine"]))
                          for r in df_.collect())

        assert rows_of(got) == rows_of(want)
        # every pair: the infinite vector's NaN cosines pass the
        # threshold, as Spark orders NaN above every number
        assert len(rows_of(got)) == 21


class TestPy4jTraffic:
    """Building the vector math sends a fixed number of py4j commands
    whatever the centroid count; a Column-API build grows with every
    centroid (one higher-order-function tree each)."""

    @staticmethod
    def _count(fn) -> int:
        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command
        calls = 0

        def counting(self, command, *a, **kw):
            nonlocal calls
            # "m" commands release Python-side proxies of earlier objects
            # whenever the garbage collector runs; they are not build work
            if not command.startswith("m\n"):
                calls += 1
            return orig(self, command, *a, **kw)

        ClientServerConnection.send_command = counting
        try:
            fn()
        finally:
            ClientServerConnection.send_command = orig
        return calls

    def test_fit_centroids_distributed_flat_in_k(self, spark):
        import random

        random.seed(3)
        df = spark.createDataFrame(
            [(i, [random.gauss(0, 1) for _ in range(4)]) for i in range(200)],
            "vec_id long, embedding array<double>").cache()
        df.count()

        def fit(k):
            return self._count(lambda: S.fit_centroids_distributed(
                df, dim=4, num_buckets=k, iterations=2, assign_impl="expr"))

        fit(4)  # warm the JVM-side lookups once
        few, many = fit(4), fit(32)
        df.unpersist()
        assert abs(many - few) <= 10, (few, many)
