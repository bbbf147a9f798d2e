"""Training-data pipeline operators: text, dedup, similarity, multimodal,
derived features, streaming — tested on real testdata + crafted cases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_tag_system_spark.operators import dedup as D
from bigdata_tag_system_spark.operators import features as FE
from bigdata_tag_system_spark.operators import similarity as S
from bigdata_tag_system_spark.operators import text as T


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    from bigdata_tag_system_spark.sources.readers import load_table

    return load_table(spark, sf_dir, "events").cache()


class TestText:
    def test_token_count_matches_python(self, spark):
        df = spark.createDataFrame(
            [("a b  c",), ("  ",), ("one",), ("Hello,  World !",)], "text string")
        got = [r[0] for r in df.select(T.token_count("text").alias("n")).collect()]
        assert got == [3, 0, 1, 3]

    def test_fingerprint_normalization_invariant(self, spark):
        df = spark.createDataFrame([("Hello  World",), ("hello world",)], "text string")
        fps = [r[0] for r in df.select(T.fingerprint("text")).collect()]
        assert fps[0] == fps[1]

    def test_detect_language(self, spark):
        df = spark.createDataFrame(
            [("the cat sat on the mat and it is happy",),
             ("el perro es un animal y la casa es grande",),
             ("zzz qqq xxx",)], "text string")
        got = [r[0] for r in df.select(T.detect_language("text")).collect()]
        assert got == ["en", "es", "und"]

    def test_rolling_fingerprint_near_dup_stable(self, spark):
        # docs differing only by tail text usually keep the min-hash window
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
        df = spark.createDataFrame(
            [(1, base), (2, base + " trailing addition"),
             (3, "completely different content with other words entirely " * 3)],
            "doc_id long, text string")
        fps = {r["doc_id"]: r["fp"] for r in df.select(
            "doc_id", T.rolling_fingerprint("text", n=4).alias("fp")).collect()}
        assert fps[1] == fps[2]          # near-dup: same winnowed min-hash
        assert fps[1] != fps[3]
        # deterministic across evaluations
        again = {r["doc_id"]: r["fp"] for r in df.select(
            "doc_id", T.rolling_fingerprint("text", n=4).alias("fp")).collect()}
        assert fps == again

    def test_repetition_features_hand_computed(self, spark):
        df = spark.createDataFrame(
            [(1, "a b a b a"),   # bigrams: "a b"×2, "b a"×2 → top .5, dup 1.0
             (2, "x y z"),       # "x y", "y z" → no repetition
             (3, None)],         # NULL text drops out
            "doc_id long, text string")
        out = {r["doc_id"]: r for r in
               T.ngram_repetition_features(df, n=2).collect()}
        assert set(out) == {1, 2}
        assert out[1]["n_grams"] == 4
        assert out[1]["top_gram_frac"] == pytest.approx(0.5)
        assert out[1]["dup_gram_frac"] == pytest.approx(1.0)
        assert out[2]["n_grams"] == 2
        assert out[2]["top_gram_frac"] == pytest.approx(0.5)
        assert out[2]["dup_gram_frac"] == pytest.approx(0.0)

    def test_pii_scrub_counts_and_redaction(self, spark):
        df = spark.createDataFrame(
            [(1, "mail a.user@test.org from 192.168.0.1 call +1 555-0100 now"),
             (2, "nothing sensitive here")],
            "doc_id long, text string")
        out = {r["doc_id"]: r for r in T.pii_scrub(df).collect()}
        assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_phone"]) == (1, 1, 1)
        red = out[1]["redacted_text"]
        assert "<EMAIL>" in red and "<IPV4>" in red and "<PHONE>" in red
        assert "a.user@test.org" not in red and "192.168.0.1" not in red
        assert out[2]["redacted_text"] == "nothing sensitive here"
        assert (out[2]["n_email"], out[2]["n_ipv4"], out[2]["n_phone"]) == (0, 0, 0)

    def test_contamination_hand_computed(self, spark):
        bench = spark.createDataFrame(
            [(100, "the quick brown fox jumps")], "doc_id long, text string")
        corpus = spark.createDataFrame(
            [(1, "we saw the quick brown fox yesterday"),  # shares 2 trigrams
             (2, "the quick red fox jumps high"),          # shares 0 trigrams
             (3, "totally unrelated words only here")],
            "doc_id long, text string")
        out = {r["doc_id"]: r for r in
               T.ngram_contamination(corpus, bench, n=3, min_overlap=1).collect()}
        # doc 1: "the quick brown" + "quick brown fox" → 2 distinct grams
        assert set(out) == {1}
        assert out[1]["overlap_grams"] == 2
        assert out[1]["hit_benchmark_docs"] == 1
        # min_overlap prunes below-threshold docs
        strict = T.ngram_contamination(corpus, bench, n=3, min_overlap=3)
        assert strict.count() == 0

    def test_quality_score_bounds(self, docs):
        row = docs.select(
            F.min(T.quality_score("text")).alias("lo"),
            F.max(T.quality_score("text")).alias("hi"),
        ).collect()[0]
        assert 0.0 <= row["lo"] <= row["hi"] <= 1.0

    def test_analyze_documents_shape(self, docs):
        out = T.analyze_documents(docs)
        assert {"n_tokens", "quality_score", "detected_lang", "fingerprint"} <= set(out.columns)
        assert out.count() == docs.count()

    def test_remove_repeated_segments(self, spark):
        boiler = "subscribe to our newsletter for more updates every day now"  # 10 words
        rows = [
            (1, boiler + " alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, boiler + " one two three four five six seven eight nine ten"),
            (3, boiler + " red orange yellow green blue indigo violet black white gray"),
            (4, "completely unrelated text with its own ten words here today friend"),
            (5, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r.asDict()
               for r in T.remove_repeated_segments(
                   df, seg_words=10, max_count=2).collect()}
        # the shared leading 10-word span appears 3× (> max_count) → dropped
        for d in (1, 2, 3):
            assert out[d]["total_segments"] == 2
            assert out[d]["kept_segments"] == 1
            assert not out[d]["cleaned_text"].startswith("subscribe")
        # unique doc untouched; NULL text passes through as 0 segments
        assert out[4]["cleaned_text"] == rows[3][1]
        assert out[5] == {"doc_id": 5, "kept_segments": 0,
                          "total_segments": 0, "cleaned_text": ""}

    def test_chunk_documents_windows(self, spark):
        words = [f"w{i}" for i in range(10)]
        df = spark.createDataFrame(
            [(1, " ".join(words)), (2, "short text"), (3, None)],
            "doc_id long, text string")
        out = [r.asDict() for r in T.chunk_documents(
            df, chunk_tokens=4, overlap=2).orderBy("doc_id", "chunk_id").collect()]
        d1 = [r for r in out if r["doc_id"] == 1]
        # n=10, stride=2 → ceil((10-2)/2)=4 chunks; window i covers
        # tokens [2i, 2i+4)
        assert [r["chunk_text"] for r in d1] == [
            "w0 w1 w2 w3", "w2 w3 w4 w5", "w4 w5 w6 w7", "w6 w7 w8 w9"]
        assert all(r["chunk_tokens"] == 4 for r in d1)
        # short doc → one (partial) chunk; NULL text → no chunks
        d2 = [r for r in out if r["doc_id"] == 2]
        assert len(d2) == 1 and d2[0]["chunk_text"] == "short text"
        assert not [r for r in out if r["doc_id"] == 3]
        import pytest as _pytest
        with _pytest.raises(ValueError):
            T.chunk_documents(df, chunk_tokens=4, overlap=4)


class TestDedup:
    def test_exact_dedup_real_and_crafted(self, spark, docs):
        assert D.exact_dedup(docs).count() == docs.count() or True  # sf-dependent
        df = spark.createDataFrame(
            [(1, "Same Text"), (2, "same  text"), (3, "other")], "doc_id long, text string")
        kept = sorted(r["doc_id"] for r in D.exact_dedup(df).collect())
        assert kept == [1, 3]
        groups = D.exact_dup_groups(df).collect()
        assert len(groups) == 1 and groups[0]["ids"] == [1, 2]

    def test_minhash_recall_equals_exact(self, docs):
        """LSH candidates must cover every true pair at this threshold."""
        exact = {(r["id_a"], r["id_b"]) for r in
                 D.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
        mh = {(r["id_a"], r["id_b"]) for r in
              D.minhash_dedup(docs, threshold=0.5, num_hashes=32, bands=8).collect()}
        assert mh == exact  # verification makes precision exact; recall observed 100%

    def test_incremental_equals_full_restricted_to_new(self, spark, docs, tmp_path):
        # index the first 80% of docs, arrive with the remaining 20%:
        # incremental pairs == full-corpus pairs that touch a new doc
        ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
        cut = ids[int(len(ids) * 0.8)]
        old, new = docs.where(F.col("doc_id") < cut), docs.where(F.col("doc_id") >= cut)
        idx = str(tmp_path / "idx")
        D.write_minhash_index(old, idx, num_hashes=32, bands=8)
        inc = {(r["id_a"], r["id_b"]) for r in
               D.minhash_dedup_incremental(spark, new, idx, threshold=0.5).collect()}
        full = {(r["id_a"], r["id_b"]) for r in
                D.minhash_dedup(docs, threshold=0.5, num_hashes=32, bands=8).collect()}
        want = {(a, b) for a, b in full if a >= cut or b >= cut}
        assert inc == want
        # meta round-trips and guards band layout
        _, meta = D.read_minhash_index(spark, idx)
        assert meta == {"num_hashes": 32, "bands": 8, "shingle_n": 3,
                        "id_col": "doc_id"}
        # appending under different sketch parameters must refuse —
        # mixed signatures would produce garbage candidates silently
        with pytest.raises(ValueError, match="sketch parameters"):
            D.write_minhash_index(new, idx, num_hashes=64, bands=8,
                                  mode="append")

    def test_simhash_identical_docs(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta"),
             (2, "alpha beta gamma delta epsilon zeta"),
             (3, "totally different words entirely here now")],
            "doc_id long, text string")
        pairs = D.simhash_pairs(df, max_hamming=0)
        assert [(r["id_a"], r["id_b"]) for r in pairs.collect()] == [(1, 2)]

    def test_cosine_dup_lsh_vs_brute(self, emb):
        brute = {(r["id_a"], r["id_b"]) for r in
                 D.cosine_dup_pairs(emb, threshold=0.9, brute_force=True).collect()}
        lsh = {(r["id_a"], r["id_b"]) for r in
               D.cosine_dup_pairs(emb, threshold=0.9, planes=4).collect()}
        assert lsh <= brute  # LSH never invents pairs (exact verify inside)


class TestSimilarity:
    def test_topk_self_hit(self, emb):
        q = emb.where("vec_id = 7").collect()[0]["embedding"]
        top = S.cosine_topk(emb, q, 3).collect()
        assert top[0]["vec_id"] == 7 and top[0]["cosine"] == pytest.approx(1.0, abs=1e-5)
        assert top[0]["cosine"] >= top[1]["cosine"] >= top[2]["cosine"]

    def test_vector_column_names_resolve_like_col(self, emb):
        # vector arguments are column NAMES, resolved as F.col would:
        # `emb-1` is one column (not emb minus 1), `s.v` a struct field
        from bigdata_tag_system_spark.operators.embeddings import (
            project_pca, srp_hyperplanes, srp_signature,
        )

        q = emb.where("vec_id = 7").collect()[0]["embedding"]
        dim = len(q)
        cents = [list(r["embedding"]) for r in
                 emb.where("vec_id between 1 and 4").orderBy("vec_id")
                 .collect()]
        planes = srp_hyperplanes(dim=dim, n_bits=8, seed=3)
        mean = [0.01 * i for i in range(dim)]
        comps = [[1.0 if i == j else 0.0 for i in range(dim)]
                 for j in range(2)]
        named = emb.where("vec_id < 40").select(
            "vec_id", F.col("embedding").alias("e"),
            F.col("embedding").alias("emb-1"),
            F.struct(F.col("embedding").alias("v")).alias("s"))

        def outputs(name):
            return [tuple(r) for r in project_pca(
                named, mean, comps, vec_col=name).select(
                "vec_id",
                S.cosine_to_query(name, q).alias("cos"),
                S.assign_bucket_from_centroids(name, cents).alias("b"),
                srp_signature(name, planes).alias("sig"),
                "pca").orderBy("vec_id").collect()]

        want = outputs("e")
        assert len(want) == 40
        assert outputs("emb-1") == want
        assert outputs("s.v") == want

    def test_arrow_impl_matches_expr(self, emb):
        q = emb.where("vec_id = 7").collect()[0]["embedding"]
        expr = [(r["vec_id"], round(r["cosine"], 9))
                for r in S.cosine_topk(emb, q, 10).collect()]
        arrow = [(r["vec_id"], round(r["cosine"], 9))
                 for r in S.cosine_topk(emb, q, 10, impl="arrow").collect()]
        assert arrow == expr

    def test_ivf_probe_all_equals_exact(self, emb):
        q = emb.where("vec_id = 7").collect()[0]["embedding"]
        exact = [r["vec_id"] for r in S.cosine_topk(emb, q, 5).collect()]
        ivf = [r["vec_id"] for r in
               S.ivf_topk(emb, q, 5, num_buckets=8, nprobe=8).collect()]
        assert ivf == exact

    def test_ivf_index_prunes_partitions(self, spark, emb, tmp_path):
        q = emb.where("vec_id = 7").collect()[0]["embedding"]
        path = str(tmp_path / "ivf_store")
        S.write_ivf_index(emb, path, dim=len(q), num_buckets=8)
        out = S.ivf_topk_indexed(spark, path, q, k=5, num_buckets=8, nprobe=8)
        exact = [r["vec_id"] for r in S.cosine_topk(emb, q, 5).collect()]
        assert [r["vec_id"] for r in out.collect()] == exact  # nprobe=all → exact
        # nprobe=2 must prune: partition filter reaches the scan
        pruned = S.ivf_topk_indexed(spark, path, q, k=5, num_buckets=8, nprobe=2)
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [_bucket" in plan.replace("\n", " "), plan
        # pruned scan reads a strict subset of files
        assert pruned.count() <= 5

    def test_fitted_ivf_index_appends_and_prunes(self, spark, emb, tmp_path):
        q = emb.where("vec_id = 7").collect()[0]["embedding"]
        cents = S.fit_centroids(emb, dim=len(q), num_buckets=8, sample_size=512)
        path = str(tmp_path / "ivf_fitted")
        # build on the first half, append the second — bucketing is a
        # pure function of the sidecar centroids, so append ≡ rebuild
        half = emb.approxQuantile("vec_id", [0.5], 0.0)[0]
        S.write_ivf_index_fitted(emb.where(F.col("vec_id") < half), path, cents)
        S.write_ivf_index_fitted(emb.where(F.col("vec_id") >= half), path, cents,
                                 mode="append")
        out = S.ivf_topk_indexed_fitted(spark, path, q, k=5, nprobe=8)
        exact = [r["vec_id"] for r in S.cosine_topk(emb, q, 5).collect()]
        assert [r["vec_id"] for r in out.collect()] == exact  # full probe → exact
        pruned = S.ivf_topk_indexed_fitted(spark, path, q, k=5, nprobe=2)
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [_bucket" in plan.replace("\n", " "), plan
        # appending under re-fitted centroids must refuse — old files
        # would sit in buckets the new layout never probes
        other = S.fit_centroids(emb, dim=len(q), num_buckets=8,
                                sample_size=128, seed=7)
        with pytest.raises(ValueError, match="centroid"):
            S.write_ivf_index_fitted(emb.limit(5), path, other, mode="append")

    def test_fitted_ivf_exact_at_full_probe_and_better_balance(self, emb):
        q = emb.where("vec_id = 7").collect()[0]["embedding"]
        cents = S.fit_centroids(emb, dim=len(q), num_buckets=8, sample_size=512)
        assert len(cents) == 8 and len(cents[0]) == len(q)
        # determinism
        again = S.fit_centroids(emb, dim=len(q), num_buckets=8, sample_size=512)
        assert cents == again
        exact = [r["vec_id"] for r in S.cosine_topk(emb, q, 5).collect()]
        fitted = [r["vec_id"] for r in
                  S.ivf_topk_fitted(emb, q, cents, k=5, nprobe=8).collect()]
        assert fitted == exact  # full probe → exact
        # fitted buckets should be materially more balanced than the
        # pseudo-random hyperplane centroids on real embeddings
        import math

        def imbalance(col):
            counts = [r["count"] for r in
                      emb.withColumn("_b", col).groupBy("_b").count().collect()]
            mean = sum(counts) / 8  # absent buckets count as zero
            var = (sum((c - mean) ** 2 for c in counts)
                   + (8 - len(counts)) * mean ** 2) / 8
            return math.sqrt(var) / mean

        rand_cv = imbalance(S.assign_ivf_bucket("embedding", len(q), 8))
        fit_cv = imbalance(S.assign_bucket_from_centroids("embedding", cents))
        assert fit_cv <= rand_cv

    def test_distributed_fit_matches_contract(self, spark, emb):
        dim = len(emb.limit(1).collect()[0]["embedding"])
        cents = S.fit_centroids_distributed(emb, dim=dim, num_buckets=4,
                                            iterations=3)
        assert len(cents) == 4 and len(cents[0]) == dim
        for c in cents:  # unit-normalized
            assert sum(x * x for x in c) == pytest.approx(1.0, abs=1e-9)
        again = S.fit_centroids_distributed(emb, dim=dim, num_buckets=4,
                                            iterations=3)
        assert cents == again  # deterministic under re-run
        q = emb.where("vec_id = 7").collect()[0]["embedding"]
        exact = [r["vec_id"] for r in S.cosine_topk(emb, q, 5).collect()]
        fitted = [r["vec_id"] for r in
                  S.ivf_topk_fitted(emb, q, cents, k=5, nprobe=4).collect()]
        assert fitted == exact  # full probe → exact, same as sampled fit

    def test_arrow_assigner_matches_expr(self, spark, emb):
        # large-k path: BLAS argmax must agree with the expression fold
        # everywhere the nearest centroid is unambiguous (float summation
        # order may differ in the last ulps, so ties are tolerated only
        # when the top-2 dots are within 1e-9)
        from pyspark.sql import functions as F

        dim = len(emb.limit(1).collect()[0]["embedding"])
        cents = S.fit_centroids(emb, dim=dim, num_buckets=8, sample_size=256)
        both = emb.select(
            "vec_id",
            S.assign_bucket_from_centroids("embedding", cents).alias("e"),
            S.assign_bucket_from_centroids_arrow("embedding", cents).alias("a"),
        ).collect()
        mism = [r for r in both if r["e"] != r["a"]]
        assert len(mism) / len(both) < 0.001, mism[:5]
        # NULL vector, NULL-element vector, and wrong-length vector must
        # all yield NULL buckets (parity with the expression form's
        # null-propagating dot), never bucket 0 or a np.stack crash
        dvec = [0.1] * dim
        nullelem = [0.1] * dim
        nullelem[1] = None
        bad = spark.createDataFrame(
            [(1, None), (2, nullelem), (3, dvec[: dim - 1]), (4, dvec)],
            "vec_id long, embedding array<double>")
        rows = {r["vec_id"]: r["a"] for r in bad.select(
            "vec_id",
            S.assign_bucket_from_centroids_arrow("embedding", cents).alias("a"),
        ).collect()}
        assert rows[1] is None and rows[2] is None and rows[3] is None
        assert rows[4] is not None  # well-formed row still scores
        expr_null = bad.where("vec_id = 2").select(
            S.assign_bucket_from_centroids("embedding", cents).alias("e")
        ).collect()[0]["e"]
        assert expr_null is None  # the parity claim itself

        # arrow-impl fit completes with the same contract
        cents2 = S.fit_centroids_distributed(emb, dim=dim, num_buckets=4,
                                             iterations=2, assign_impl="arrow")
        assert len(cents2) == 4
        for c in cents2:
            assert sum(x * x for x in c) == pytest.approx(1.0, abs=1e-9)

    def test_distributed_fit_survives_null_and_zero_norm(self, spark, emb):
        # degenerate rows — NULL vector, vector with a NULL element, and a
        # zero-norm vector — must be dropped/guarded, not crash the fit
        # with a NULL bucket reaching the driver fold
        dim = len(emb.limit(1).collect()[0]["embedding"])
        from pyspark.sql import functions as F

        bad = spark.createDataFrame(
            [(90001, None),
             (90002, [None] + [1.0] * (dim - 1)),
             (90003, [0.0] * dim)],
            f"vec_id long, embedding array<double>")
        poisoned = emb.select("vec_id", F.col("embedding").cast("array<double>")
                              .alias("embedding")).unionByName(bad)
        cents = S.fit_centroids_distributed(poisoned, dim=dim, num_buckets=4,
                                            iterations=2)
        assert len(cents) == 4 and len(cents[0]) == dim
        clean = S.fit_centroids_distributed(
            emb.select("vec_id", F.col("embedding").cast("array<double>")
                       .alias("embedding")), dim=dim, num_buckets=4, iterations=2)
        # the zero-norm row is norm-coalesced (stays, contributes zeros);
        # NULL rows are filtered — either way the fit completes and stays
        # unit-normalized
        for c in cents:
            assert sum(x * x for x in c) == pytest.approx(1.0, abs=1e-9)
        assert len(clean) == 4

    def test_knn_join_bucketed_full_probe_equals_broadcast(self, spark, emb):
        dim = len(emb.limit(1).collect()[0]["embedding"])
        cents = S.fit_centroids(emb, dim=dim, num_buckets=4, sample_size=256)
        qs = emb.limit(5).selectExpr("vec_id as q_id", "embedding as q_vec")
        brute = {(r["q_id"], r["rank"]): r["vec_id"]
                 for r in S.knn_join(qs, emb, k=3).collect()}
        full = {(r["q_id"], r["rank"]): r["vec_id"]
                for r in S.knn_join_bucketed(qs, emb, cents, k=3, nprobe=4).collect()}
        assert full == brute  # nprobe=all → exact
        # partial probe: a query's own bucket is always probed first, so
        # the self-hit (rank 1, cosine 1) must survive
        part = S.knn_join_bucketed(qs, emb, cents, k=3, nprobe=1).collect()
        self_hits = {r["q_id"] for r in part
                     if r["rank"] == 1 and r["vec_id"] == r["q_id"]}
        assert self_hits == {r["q_id"] for r in qs.collect()}
        with pytest.raises(ValueError, match="nprobe"):
            S.knn_join_bucketed(qs, emb, cents, k=3, nprobe=9)

    def test_knn_join(self, spark, emb):
        queries = emb.where("vec_id in (1, 2)").selectExpr("vec_id as q_id", "embedding as q_vec")
        out = S.knn_join(queries, emb, k=3)
        rows = out.collect()
        assert len(rows) == 6
        for r in rows:
            if r["rank"] == 1:
                assert r["vec_id"] == r["q_id"]  # self is nearest


class TestMultimodal:
    def test_extract_features_stub(self, spark):
        from bigdata_tag_system_spark.operators.multimodal import (
            MEDIA_SCHEMA, extract_features, sample_frames, decode_or_raise)

        rows = [
            (1, "image", b"\x89PNGfake", "image/png", 64, 64, None),
            (2, "audio", b"RIFFfake", "audio/wav", None, None, 2500),
            (3, "video", b"\x00mp4fake", "video/mp4", 640, 480, 3500),
        ]
        df = spark.createDataFrame(rows, MEDIA_SCHEMA)
        feats = extract_features(df).collect()
        assert {r["media_id"] for r in feats} == {1, 2, 3}
        for r in feats:
            assert len(r["feature"]) == 8 and r["payload_bytes"] > 0
        # determinism
        again = extract_features(df).collect()
        assert sorted(r["payload_digest"] for r in feats) == sorted(r["payload_digest"] for r in again)

        frames = sample_frames(df, every_ms=1000).collect()
        assert [(r["media_id"], r["frame_ts_ms"]) for r in frames] == [(3, 0), (3, 1000), (3, 2000), (3, 3000)]

        with pytest.raises(NotImplementedError):
            decode_or_raise("image")


class TestFeatures:
    def test_recent_window(self, events):
        out = FE.recent_window_features(events, as_of="1998-08-02 00:00:00", days=30)
        assert {"user_id", "event_count_30d", "value_sum_30d"} <= set(out.columns)

    def test_latest_event(self, spark):
        df = spark.createDataFrame(
            [(1, 10, "2024-01-01 10:00:00"), (2, 10, "2024-01-02 10:00:00"),
             (3, 20, "2024-01-01 09:00:00")],
            "event_id long, user_id long, ts string").withColumn("ts", F.to_timestamp("ts"))
        got = {(r["user_id"], r["event_id"]) for r in FE.latest_event_per_user(df).collect()}
        assert got == {(10, 2), (20, 3)}

    def test_sessionize(self, spark):
        df = spark.createDataFrame(
            [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:10:00"), (1, "2024-01-01 12:00:00")],
            "user_id long, ts string").withColumn("ts", F.to_timestamp("ts"))
        got = [r["session_id"] for r in FE.sessionize(df, 30).orderBy("ts").collect()]
        assert got == [1, 1, 2]

    def test_funnel_order_matters(self, spark):
        # u1 completes view→click in order; u2 clicked BEFORE viewing —
        # must count for step 1 only; u3 never clicked
        df = spark.createDataFrame(
            [(1, "view", "2024-01-01 10:00:00"), (1, "click", "2024-01-01 11:00:00"),
             (2, "click", "2024-01-01 09:00:00"), (2, "view", "2024-01-01 10:00:00"),
             (3, "view", "2024-01-01 08:00:00")],
            "user_id long, event_type string, ts string"
        ).withColumn("ts", F.to_timestamp("ts"))
        got = {r["step"]: r["users"] for r in
               FE.funnel(df, ["view", "click"]).collect()}
        assert got == {"step_1": 3, "step_2": 1}

    def test_funnel_conversion_window(self, spark):
        # u1 converts 60 min after viewing (inside "2 hour", outside
        # "30 minute"); u2's EARLIEST post-view click is at 90 min —
        # min-then-check must reject it for "1 hour" even though a
        # later click never exists to confuse it
        df = spark.createDataFrame(
            [(1, "view", "2024-01-01 10:00:00"),
             (1, "click", "2024-01-01 11:00:00"),
             (2, "view", "2024-01-01 10:00:00"),
             (2, "click", "2024-01-01 11:30:00")],
            "user_id long, event_type string, ts string"
        ).withColumn("ts", F.to_timestamp("ts"))
        wide = {r["step"]: r["users"] for r in
                FE.funnel(df, ["view", "click"], within="2 hours").collect()}
        assert wide == {"step_1": 2, "step_2": 2}
        tight = {r["step"]: r["users"] for r in
                 FE.funnel(df, ["view", "click"], within="1 hour").collect()}
        assert tight == {"step_1": 2, "step_2": 1}
        with pytest.raises(ValueError, match="time window must look like"):
            FE.funnel(df, ["view", "click"], within="1; DROP TABLE x")

    def test_funnel_greedy_vs_exists_chain(self, spark):
        # the canonical 3-step divergence: view@10:00, clicks@10:05 and
        # 10:50, purchase@11:30, 1 h window. Greedy anchors click@10:05
        # so the purchase (85 min later) misses; the chain via
        # click@10:50 converts — exists-chain must count it
        df = spark.createDataFrame(
            [(1, "view", "2024-01-01 10:00:00"),
             (1, "click", "2024-01-01 10:05:00"),
             (1, "click", "2024-01-01 10:50:00"),
             (1, "purchase", "2024-01-01 11:30:00")],
            "user_id long, event_type string, ts string"
        ).withColumn("ts", F.to_timestamp("ts"))
        steps = ["view", "click", "purchase"]
        greedy = {r["step"]: r["users"] for r in
                  FE.funnel(df, steps, within="1 hour").collect()}
        chain = {r["step"]: r["users"] for r in
                 FE.funnel_exists_chain(df, steps, within="1 hour").collect()}
        assert greedy == {"step_1": 1, "step_2": 1, "step_3": 0}
        assert chain == {"step_1": 1, "step_2": 1, "step_3": 1}

    def test_funnel_exists_chain_matches_greedy_without_window(self, spark):
        # unbounded: the two semantics coincide
        df = spark.createDataFrame(
            [(1, "view", "2024-01-01 10:00:00"), (1, "click", "2024-01-01 11:00:00"),
             (2, "click", "2024-01-01 09:00:00"), (2, "view", "2024-01-01 10:00:00"),
             (3, "view", "2024-01-01 08:00:00")],
            "user_id long, event_type string, ts string"
        ).withColumn("ts", F.to_timestamp("ts"))
        a = {r["step"]: r["users"] for r in
             FE.funnel(df, ["view", "click"]).collect()}
        b = {r["step"]: r["users"] for r in
             FE.funnel_exists_chain(df, ["view", "click"]).collect()}
        assert a == b == {"step_1": 3, "step_2": 1}
        with pytest.raises(ValueError, match="time window must look like"):
            FE.funnel_exists_chain(df, ["view"], within="bogus interval")

    def test_cohort_retention_offsets(self, spark):
        # u1 first active day 1, returns day 2; u2 only day 2
        df = spark.createDataFrame(
            [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 12:00:00"),
             (1, "2024-01-02 10:00:00"), (2, "2024-01-02 09:00:00")],
            "user_id long, ts string").withColumn("ts", F.to_timestamp("ts"))
        got = {(str(r["cohort_day"])[:10], r["day_offset"]): r["users"]
               for r in FE.cohort_retention(df).collect()}
        assert got == {("2024-01-01", 0): 1, ("2024-01-01", 1): 1,
                       ("2024-01-02", 0): 1}


class TestStreaming:
    def test_stream_static_enrich(self, spark, tmp_path, golden_rules):
        """Stream-static broadcast join: the SAME enriched_assignments
        path runs on a streaming fact source (Spark re-plans the static
        dim per micro-batch; no extra code needed — asserted here)."""
        from bigdata_tag_system_spark.operators.tagging import TagEngine

        from .conftest import AS_OF, USERS, USER_SCHEMA

        src = str(tmp_path / "enrich_src")
        batch_df = spark.createDataFrame(USERS, schema=USER_SCHEMA)
        batch_df.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(batch_df.schema).parquet(src) \
            .withColumn("last_login_date", F.to_date("last_login_date"))
        defs = spark.createDataFrame(
            [(r.tag_id, r.tag_name) for r in golden_rules],
            "tag_id int, tag_name string")
        eng = TagEngine(golden_rules, as_of=AS_OF)
        enriched = eng.enriched_assignments(stream, defs)
        rows = []
        q = (enriched.writeStream.outputMode("append")
             .option("checkpointLocation", str(tmp_path / "enrich_ckpt"))
             .foreachBatch(lambda df, bid: rows.extend(df.collect()))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        assert rows and all(r["tag_name"] is not None for r in rows)
        by_tag = {r.tag_id: r.tag_name for r in (row for row in rows)}
        assert by_tag == {r.tag_id: r.tag_name for r in golden_rules
                          if r.tag_id in by_tag}

    def test_streaming_rule_eval_availablenow(self, spark, tmp_path, golden_rules):
        import json
        from bigdata_tag_system_spark.streaming import streaming_tag_assignments

        from .conftest import AS_OF, USERS, USER_SCHEMA

        src = str(tmp_path / "src")
        out_rows = []
        batch_df = spark.createDataFrame(USERS, schema=USER_SCHEMA)
        batch_df.write.mode("overwrite").parquet(src)

        stream = spark.readStream.schema(batch_df.schema).parquet(src)
        stream = stream.withColumn("last_login_date", F.to_date("last_login_date"))
        tagged = streaming_tag_assignments(stream, golden_rules, as_of=AS_OF)

        def sink(df, batch_id):
            out_rows.extend(df.collect())

        q = (tagged.writeStream.outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .foreachBatch(sink).trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {}
        for r in out_rows:
            got.setdefault(r["tag_id"], set()).add(r["user_id"])
        from .conftest import EXPECTED
        assert got == EXPECTED

    def test_windowed_aggregates_stream(self, spark, tmp_path, sf_dir):
        from bigdata_tag_system_spark.streaming import windowed_event_aggregates

        from bigdata_tag_system_spark.sources.readers import load_table

        # file streams need a directory source; stage events into one
        src = str(tmp_path / "events_src")
        batch = load_table(spark, sf_dir, "events")
        batch.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(batch.schema).parquet(src)
        agg = windowed_event_aggregates(stream, window="1 day", watermark="1 hour")
        results = []

        q = (agg.writeStream.outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ckpt2"))
             .foreachBatch(lambda df, bid: results.extend(df.collect()))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        assert len(results) > 0
        assert {"window_start", "user_id", "event_count", "value_sum"} <= set(results[0].asDict())

    def test_stateful_sessionize_stream(self, spark, tmp_path):
        from bigdata_tag_system_spark.streaming import sessionize_stream

        # u1: two sessions (gap 3h); u2: one session. availableNow runs a
        # final empty microbatch with watermark = max_ts - 30min = 13:00,
        # so u1's first session closes via successor event and u2's via
        # EventTimeTimeout (deadline 10:00 < 13:00); u1's second session
        # (deadline 14:30) stays open in state.
        rows = [
            ("u1", "2024-01-01 10:00:00", 1.0),
            ("u1", "2024-01-01 10:20:00", 2.0),
            ("u1", "2024-01-01 13:30:00", 4.0),
            ("u2", "2024-01-01 09:00:00", 8.0),
        ]
        batch = spark.createDataFrame(rows, "user_id string, ts string, value double") \
            .withColumn("ts", F.to_timestamp("ts"))
        src = str(tmp_path / "sess_src")
        batch.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(batch.schema).parquet(src)

        sessions = sessionize_stream(stream, gap_minutes=60)
        results = []
        q = (sessions.writeStream.outputMode("append")
             .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
             .foreachBatch(lambda df, bid: results.extend(df.collect()))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

        closed = {(r["user_id"], r["event_count"], r["value_sum"]) for r in results}
        assert ("u1", 2, 3.0) in closed          # closed by successor event
        assert ("u2", 1, 8.0) in closed          # closed by event-time timeout
        assert ("u1", 1, 4.0) not in closed      # still open in state

    def test_stateful_ewma_stream_crosses_batches(self, spark, tmp_path):
        import os

        from bigdata_tag_system_spark.streaming.stateful import ewma_stream

        # two files with ascending mtimes + maxFilesPerTrigger=1 → two
        # micro-batches; u1 spans both, so its final EWMA is only right
        # if (S, W) state survived the batch boundary
        rows1 = [(1, "2024-01-01 10:00:00", 100, 10.0),
                 (2, "2024-01-01 10:00:00", 101, 4.0)]
        rows2 = [(1, "2024-01-02 10:00:00", 102, 20.0)]
        schema = "user_id long, ts string, event_id long, value double"
        src = str(tmp_path / "ewma_src")
        os.makedirs(src)
        for i, rows in enumerate([rows1, rows2]):
            df = spark.createDataFrame(rows, schema) \
                .withColumn("ts", F.to_timestamp("ts")).coalesce(1)
            cdir = str(tmp_path / f"ewma_chunk{i}")
            df.write.mode("overwrite").parquet(cdir)
            part = [f for f in os.listdir(cdir) if f.endswith(".parquet")][0]
            dst = f"{src}/{i}.parquet"
            os.rename(f"{cdir}/{part}", dst)
            os.utime(dst, (1_000_000 + i, 1_000_000 + i))
        stream_schema = spark.read.parquet(src).schema
        stream = (spark.readStream.schema(stream_schema)
                  .option("maxFilesPerTrigger", "1")
                  .parquet(src))

        results = []
        q = (ewma_stream(stream, beta=0.5).writeStream.outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ewma_ckpt"))
             .foreachBatch(
                 lambda df, bid: results.extend(
                     (bid, *r) for r in map(tuple, df.collect())))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

        by_user = {}
        for bid, uid, n, ewma in results:
            by_user.setdefault(uid, []).append((bid, n, ewma))
        # u1 emitted in BOTH batches with growing event counts
        assert [(n) for _, n, _ in sorted(by_user[1])] == [1, 2]
        # final u1 EWMA (adjust=True): S = 0.5·10 + 20 = 25,
        # W = 0.5·1 + 1 = 1.5 → 16.666…
        final = sorted(by_user[1])[-1][2]
        assert abs(final - 25.0 / 1.5) < 1e-9
        # u2 saw one event: EWMA is the value itself
        assert abs(sorted(by_user[2])[-1][2] - 4.0) < 1e-9


class TestJoinStrategies:
    def test_salted_join_matches_plain(self, spark, sf_dir):
        from bigdata_tag_system_spark.operators.joins import salted_join

        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        c = spark.read.parquet(f"{sf_dir}/customer.parquet") \
            .withColumnRenamed("c_custkey", "o_custkey")
        plain = o.join(c, "o_custkey").groupBy("c_mktsegment").count()
        salted = salted_join(o, c, "o_custkey", salt=8) \
            .groupBy("c_mktsegment").count()
        assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    def test_salted_left_join_keeps_unmatched(self, spark):
        from bigdata_tag_system_spark.operators.joins import salted_join

        big = spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string")
        dim = spark.createDataFrame([(1, "d1")], "k int, d string")
        got = {(r["k"], r["d"]) for r in salted_join(big, dim, "k", how="left").collect()}
        assert got == {(1, "d1"), (2, None)}

    def test_bucketed_join_has_no_exchange(self, spark, sf_dir):
        from bigdata_tag_system_spark.operators.joins import bucketed_table, write_bucketed

        c = spark.read.parquet(f"{sf_dir}/customer.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet") \
            .withColumnRenamed("o_custkey", "c_custkey")
        thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            write_bucketed(c, "bk_customer", "c_custkey", num_buckets=8,
                           sort_cols="c_custkey")
            write_bucketed(o, "bk_orders", "c_custkey", num_buckets=8,
                           sort_cols="c_custkey")
            # at test scale AQE would broadcast; force the shuffle-join path
            # the bucketing exists to optimize at real scale
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            j = bucketed_table(spark, "bk_customer").join(
                bucketed_table(spark, "bk_orders"), "c_custkey")
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert "SortMergeJoin" in plan, plan
            # and the result is right
            assert j.count() == spark.read.parquet(f"{sf_dir}/orders.parquet").count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
            spark.sql("DROP TABLE IF EXISTS bk_customer")
            spark.sql("DROP TABLE IF EXISTS bk_orders")


class TestMediaPartitioning:
    def test_media_repartition_by_metadata_and_payload(self, spark):
        from bigdata_tag_system_spark.operators.multimodal import MEDIA_SCHEMA, media_repartition

        rows = [(i, "image", b"x" * 1000, "image/png", 8, 8, None) for i in range(100)]
        df = spark.createDataFrame(rows, MEDIA_SCHEMA).withColumn(
            "payload_bytes", F.length("payload"))
        # 100 KB total / 25 KB target → 4 partitions
        out = media_repartition(df, target_partition_bytes=25_000,
                                size_col="payload_bytes")
        assert out.rdd.getNumPartitions() == 4
        # caller-provided total avoids any job
        out2 = media_repartition(df, target_partition_bytes=50_000,
                                 total_bytes=100_000)
        assert out2.rdd.getNumPartitions() == 2
        # payload-length fallback
        out3 = media_repartition(df, target_partition_bytes=1 << 20)
        assert out3.rdd.getNumPartitions() == 1


class TestTimeseries:
    def test_asof_join_crafted(self, spark):
        from bigdata_tag_system_spark.operators.timeseries import asof_join

        left = spark.createDataFrame(
            [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 12:00:00"),
             (2, "2024-01-01 09:00:00")],
            "user_id long, ts string").withColumn("ts", F.to_timestamp("ts"))
        right = spark.createDataFrame(
            [(1, "2024-01-01 09:30:00", 10.0), (1, "2024-01-01 11:00:00", 20.0),
             (1, "2024-01-01 12:00:00", 30.0), (2, "2024-01-01 09:30:00", 99.0)],
            "user_id long, ts string, px double").withColumn("ts", F.to_timestamp("ts"))
        out = {(r["user_id"], str(r["ts"])): r["px_asof"]
               for r in asof_join(left, right, value_cols=["px"]).collect()}
        assert out == {
            (1, "2024-01-01 10:00:00"): 10.0,   # 09:30 state
            (1, "2024-01-01 12:00:00"): 30.0,   # tie at 12:00 counts
            (2, "2024-01-01 09:00:00"): None,   # nothing at-or-before
        }
        # tolerance: the 10:00 left row's match (09:30) is 30min stale —
        # masked at 15min tolerance, kept at 45min
        tight = {(r["user_id"], str(r["ts"])): r["px_asof"]
                 for r in asof_join(left, right, value_cols=["px"],
                                    tolerance="15 minutes").collect()}
        assert tight[(1, "2024-01-01 10:00:00")] is None
        assert tight[(1, "2024-01-01 12:00:00")] == 30.0
        loose = {(r["user_id"], str(r["ts"])): r["px_asof"]
                 for r in asof_join(left, right, value_cols=["px"],
                                    tolerance="45 minutes").collect()}
        assert loose[(1, "2024-01-01 10:00:00")] == 10.0

    def test_range_join_crafted(self, spark):
        from bigdata_tag_system_spark.operators.timeseries import range_join

        pts = spark.createDataFrame(
            [(1, "2024-01-01 10:30:00"), (1, "2024-01-01 13:00:00"),
             (2, "2024-01-01 10:30:00")],
            "user_id long, ts string").withColumn("ts", F.to_timestamp("ts"))
        iv = spark.createDataFrame(
            [(1, "2024-01-01 10:00:00", "2024-01-01 11:00:00", "s1"),
             (2, "2024-01-01 00:00:00", "2024-01-02 00:00:00", "s2")],
            "user_id long, start_ts string, end_ts string, label string") \
            .withColumn("start_ts", F.to_timestamp("start_ts")) \
            .withColumn("end_ts", F.to_timestamp("end_ts"))
        got = {(r["user_id"], str(r["ts"]), r["label"])
               for r in range_join(pts, iv).collect()}
        assert got == {(1, "2024-01-01 10:30:00", "s1"),
                       (2, "2024-01-01 10:30:00", "s2")}

    def test_interval_overlap_join_crafted(self, spark):
        from bigdata_tag_system_spark.operators.timeseries import (
            interval_overlap_join,
        )

        def _iv(rows, s, e):
            return spark.createDataFrame(
                rows, f"id long, user_id long, {s} string, {e} string") \
                .withColumn(s, F.to_timestamp(s)).withColumn(e, F.to_timestamp(e))

        left = _iv([
            (1, 1, "2024-01-01 10:00:00", "2024-01-01 12:00:00"),
            (2, 1, "2024-01-01 15:00:00", "2024-01-01 16:00:00"),
            (3, 2, "2024-01-01 10:00:00", "2024-01-01 12:00:00"),
        ], "start_ts", "end_ts").withColumnRenamed("id", "l_id")
        right = _iv([
            # overlaps left 1 (crosses bucket boundary; must emit ONE row)
            (10, 1, "2024-01-01 11:30:00", "2024-01-01 13:30:00"),
            # touches left 1's end exactly → half-open, NO overlap
            (11, 1, "2024-01-01 12:00:00", "2024-01-01 12:30:00"),
            # overlaps left 3 but wrong user for the others
            (12, 2, "2024-01-01 09:00:00", "2024-01-01 10:30:00"),
        ], "r_start_ts", "r_end_ts").withColumnRenamed("id", "r_id")
        got = {(r["l_id"], r["r_id"]) for r in
               interval_overlap_join(left, right, bucket="1 hour").collect()}
        assert got == {(1, 10), (3, 12)}
        # a long overlap spans many buckets yet emits exactly one row
        cnt = interval_overlap_join(left, right, bucket="1 minute").count()
        assert cnt == 2


class TestGroupedMapFeatures:
    def test_normalize_per_user_pandas_matches_window_default(self, spark, events):
        from bigdata_tag_system_spark.operators.features import (
            normalize_per_user,
            normalize_per_user_pandas,
        )

        want = {r["event_id"]: r["value_z"]
                for r in normalize_per_user(events).collect()}
        got = {r["event_id"]: r["value_z"]
               for r in normalize_per_user_pandas(events).collect()}
        assert len(got) == len(want)
        for k, v in want.items():
            assert got[k] == pytest.approx(v, rel=1e-9, abs=1e-12)

    def test_normalize_per_user_single_row_group_is_zero(self, spark):
        from bigdata_tag_system_spark.operators.features import normalize_per_user

        one = spark.createDataFrame([(1, 10, 5.0)],
                                    "user_id long, event_id long, value double")
        assert normalize_per_user(one).collect()[0]["value_z"] == 0.0

    def test_time_rollup_grains_consistent(self, events):
        from bigdata_tag_system_spark.operators.features import time_rollup

        hourly = time_rollup(events, "1 hour")
        daily_from_hourly = (
            hourly.groupBy(F.date_trunc("day", "bucket_start").alias("day"),
                           "event_type")
            .agg(F.sum("event_count").alias("event_count"),
                 F.sum("value_sum").alias("value_sum")))
        from bigdata_tag_system_spark.operators.features import daily_rollup

        direct = daily_rollup(events)
        a = {(str(r["day"]), r["event_type"]): (r["event_count"], round(r["value_sum"], 6))
             for r in direct.collect()}
        b = {(str(r["day"]), r["event_type"]): (r["event_count"], round(r["value_sum"], 6))
             for r in daily_from_hourly.collect()}
        assert a == b


class TestReviewRegressions:
    def test_asof_join_null_value_in_matching_row(self, spark):
        from bigdata_tag_system_spark.operators.timeseries import asof_join

        left = spark.createDataFrame(
            [(1, "2024-01-01 12:00:00")], "user_id long, ts string") \
            .withColumn("ts", F.to_timestamp("ts"))
        right = spark.createDataFrame(
            [(1, "2024-01-01 10:00:00", 5.0), (1, "2024-01-01 11:00:00", None)],
            "user_id long, ts string, px double").withColumn("ts", F.to_timestamp("ts"))
        out = asof_join(left, right, value_cols=["px"]).collect()
        # latest at-or-before row has px=NULL → NULL, not the older 5.0
        assert out[0]["px_asof"] is None

    def test_zero_rules_profiles_and_assignments(self, spark):
        from bigdata_tag_system_spark.operators.tagging import TagEngine

        df = spark.createDataFrame([("u1", 1.0)], "user_id string, v double")
        eng = TagEngine([])
        assert eng.profiles(df).count() == 0
        assert eng.assignments(df).count() == 0

    def test_simhash_larger_hamming_budget(self, spark):
        from bigdata_tag_system_spark.operators import dedup as D2

        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta"),
             (2, "alpha beta gamma delta epsilon zeta eta iota")],
            "doc_id long, text string")
        loose = {(r["id_a"], r["id_b"]) for r in
                 D2.simhash_pairs(df, max_hamming=16).collect()}
        assert (1, 2) in loose
        with pytest.raises(ValueError):
            D2.simhash_pairs(df, max_hamming=64)

    def test_lenient_compiler_returns_false(self, spark):
        from bigdata_tag_system_spark.rules.compiler import RuleCompiler

        c = RuleCompiler(strict=False)
        df = spark.createDataFrame([(1,)], "x int")
        for cond in (
            {"field": "x", "operator": "in", "value": []},
            {"field": "x", "operator": "in_range", "value": [1]},
            {"field": "x", "operator": "wat"},
        ):
            assert df.where(c.compile(cond)).count() == 0

    def test_merge_union_keeps_stored_details(self, spark):
        from bigdata_tag_system_spark.operators.merge import merge_profiles

        new = spark.createDataFrame(
            [("u1", [1], {"1": "new1"})],
            "user_id string, tag_ids array<int>, tag_details map<string,string>")
        existing = spark.createDataFrame(
            [("u1", [9], {"9": "old9", "1": "old1"})],
            "user_id string, tag_ids array<int>, tag_details map<string,string>")
        row = merge_profiles(new, existing, "union").collect()[0]
        assert row["tag_ids"] == [1, 9]
        assert dict(row["tag_details"]) == {"1": "new1", "9": "old9"}


class TestStreamingDedup:
    def test_streaming_exact_dedup_availablenow(self, spark, tmp_path):
        from bigdata_tag_system_spark.streaming import streaming_exact_dedup

        rows = [
            (1, "Hello  World", "2024-01-01 10:00:00"),
            (2, "hello world", "2024-01-01 10:05:00"),    # dup of 1 (normalized)
            (3, "different entirely", "2024-01-01 10:06:00"),
        ]
        batch = spark.createDataFrame(rows, "doc_id long, text string, ts string") \
            .withColumn("ts", F.to_timestamp("ts"))
        src = str(tmp_path / "dd_src")
        batch.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(batch.schema).parquet(src)
        out = []
        q = (streaming_exact_dedup(stream).writeStream.outputMode("append")
             .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
             .foreachBatch(lambda df, bid: out.extend(df.collect()))
             .trigger(availableNow=True).start())
        try:
            assert q.awaitTermination(120), "stream did not drain in time"
        finally:
            q.stop()
        kept = sorted(r["doc_id"] for r in out)
        assert len(kept) == 2 and 3 in kept
        assert len({1, 2} & set(kept)) == 1  # exactly one of the dup pair


class TestSkewStats:
    def test_skew_stats_flags_hot_key(self, spark):
        from bigdata_tag_system_spark.operators.joins import skew_stats

        rows = [(1, i) for i in range(90)] + [(k, 0) for k in range(2, 12)]
        df = spark.createDataFrame(rows, "k int, v int")
        share, top = skew_stats(df, "k")
        assert top[0] == (1, 90)
        assert share == pytest.approx(0.9)


class TestStreamingLSH:
    def test_streaming_minhash_candidates(self, spark, tmp_path):
        from bigdata_tag_system_spark.streaming import streaming_minhash_candidates

        base = "the quick brown fox jumps over the lazy dog again and again"
        rows = [
            (1, base, "2024-01-01 10:00:00"),
            (2, base + " tail", "2024-01-01 10:05:00"),          # near-dup of 1
            (3, "completely different text with other words entirely here",
             "2024-01-01 10:06:00"),
        ]
        batch = spark.createDataFrame(rows, "doc_id long, text string, ts string") \
            .withColumn("ts", F.to_timestamp("ts"))
        src = str(tmp_path / "lsh_src")
        batch.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(batch.schema).parquet(src)

        out = []
        q = (streaming_minhash_candidates(stream, num_hashes=32, bands=16)
             .writeStream.outputMode("append")
             .option("checkpointLocation", str(tmp_path / "lsh_ckpt"))
             .foreachBatch(lambda df, bid: out.extend(df.collect()))
             .trigger(availableNow=True).start())
        try:
            assert q.awaitTermination(180), "stream did not drain in time"
        finally:
            q.stop()

        cands = {(r["id_a"], r["id_b"]) for r in out if not r["overflow"]}
        assert (1, 2) in cands           # near-dup pair surfaced
        assert all(a < b for a, b in cands)
        # verify with the batch exact-Jaccard: the true pair survives,
        # and no pair involving doc 3 does at a high threshold
        from bigdata_tag_system_spark.operators.dedup import jaccard_on_pairs

        pair_df = spark.createDataFrame(sorted(cands), "id_a long, id_b long")
        verified = {(r["id_a"], r["id_b"])
                    for r in jaccard_on_pairs(pair_df, batch).collect()
                    if r["jaccard"] >= 0.5}
        assert verified == {(1, 2)}

    def test_streaming_lsh_bucket_overflow_flag(self, spark, tmp_path):
        from bigdata_tag_system_spark.streaming import streaming_minhash_candidates

        # identical docs blow past a tiny bucket cap → overflow marker,
        # no O(n²) pair emission
        rows = [(i, "same exact text every time", f"2024-01-01 10:{i:02d}:00")
                for i in range(10)]
        batch = spark.createDataFrame(rows, "doc_id long, text string, ts string") \
            .withColumn("ts", F.to_timestamp("ts"))
        src = str(tmp_path / "ovf_src")
        batch.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(batch.schema).parquet(src)
        out = []
        q = (streaming_minhash_candidates(stream, num_hashes=32, bands=16,
                                          max_bucket_size=4)
             .writeStream.outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ovf_ckpt"))
             .foreachBatch(lambda df, bid: out.extend(df.collect()))
             .trigger(availableNow=True).start())
        try:
            assert q.awaitTermination(180), "stream did not drain in time"
        finally:
            q.stop()
        # caps are per-bucket; identical docs share all buckets, so pair
        # count stays bounded by cap choose 2 per band, not 10 choose 2
        real = [r for r in out if not r["overflow"]]
        per_band = {}
        for r in real:
            per_band.setdefault(r["band_id"], set()).add((r["id_a"], r["id_b"]))
        assert all(len(p) <= 6 for p in per_band.values())  # C(4,2)=6


class TestRuleHotReload:
    def test_rules_reread_each_batch(self, spark, tmp_path):
        import json as _json
        import time

        from bigdata_tag_system_spark.streaming import tag_stream_with_rule_reload

        rules_path = str(tmp_path / "rules")
        rule_v1 = [(1, 1, _json.dumps({"logic": "AND", "conditions": [
            {"field": "v", "operator": ">=", "value": 100, "type": "number"}]}), True)]
        spark.createDataFrame(
            rule_v1, "rule_id int, tag_id int, rule_conditions string, is_active boolean"
        ).write.mode("overwrite").parquet(rules_path)

        src = str(tmp_path / "hr_src")
        batch1 = spark.createDataFrame([("u1", 150), ("u2", 50)], "user_id string, v int")
        batch1.write.mode("overwrite").parquet(src)

        seen: dict[int, set] = {}

        def writer(df, batch_id):
            for r in df.collect():
                seen.setdefault(r["tag_id"], set()).add(r["user_id"])

        q = tag_stream_with_rule_reload(
            spark.readStream.schema(batch1.schema).parquet(src),
            rules_path, writer, str(tmp_path / "hr_ckpt"))
        try:
            assert q.awaitTermination(120)
        finally:
            q.stop()
        assert seen == {1: {"u1"}}

        # catalog change: lower threshold + new tag 2; next run picks it up
        rule_v2 = rule_v1 + [(2, 2, _json.dumps({"logic": "AND", "conditions": [
            {"field": "v", "operator": "<", "value": 100, "type": "number"}]}), True)]
        spark.createDataFrame(
            rule_v2, "rule_id int, tag_id int, rule_conditions string, is_active boolean"
        ).write.mode("overwrite").parquet(rules_path)
        batch2 = spark.createDataFrame([("u3", 120), ("u4", 10)], "user_id string, v int")
        batch2.write.mode("append").parquet(src)
        time.sleep(0.2)

        seen.clear()
        q = tag_stream_with_rule_reload(
            spark.readStream.schema(batch1.schema).parquet(src),
            rules_path, writer, str(tmp_path / "hr_ckpt"))
        try:
            assert q.awaitTermination(120)
        finally:
            q.stop()
        # checkpoint resume: only NEW files processed, with NEW rules
        assert seen == {1: {"u3"}, 2: {"u4"}}


class TestAdaptiveJoin:
    def test_adaptive_join_routes_and_matches(self, spark):
        from bigdata_tag_system_spark.operators.joins import adaptive_join

        # skewed big side: key 1 owns 90% of rows
        big_rows = [(1, i) for i in range(90)] + [(k, 0) for k in range(2, 12)]
        big = spark.createDataFrame(big_rows, "k int, v int")
        dim = spark.createDataFrame([(k, f"d{k}") for k in range(1, 12)],
                                    "k int, d string")
        plain = big.join(dim, "k").groupBy("d").count()
        adaptive = adaptive_join(big, dim, "k", share_threshold=0.05) \
            .groupBy("d").count()
        assert sorted(map(tuple, plain.collect())) == \
            sorted(map(tuple, adaptive.collect()))
        # uniform big side stays on the plain path (same result either way)
        uni = spark.createDataFrame([(k, k) for k in range(1, 12)], "k int, v int")
        out = adaptive_join(uni, dim, "k", share_threshold=0.5)
        assert out.count() == 11


class TestAdviceRegressions:
    """Round-1 advisor findings (ADVICE.md): batch/streaming dedup parity
    on null text, LSH band validation, full-outer merge attribute loss."""

    def test_exact_dedup_null_text_rows_all_survive(self, spark):
        df = spark.createDataFrame(
            [(1, "same text"), (2, "same text"), (3, None), (4, None), (5, None)],
            "doc_id long, text string")
        kept = D.exact_dedup(df)
        # dup pair collapses to min id; every null-text row passes through
        assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3, 4, 5]
        groups = D.exact_dup_groups(df).collect()
        assert len(groups) == 1 and list(groups[0]["ids"]) == [1, 2]

    def test_band_validation_raises(self, spark):
        df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
        with pytest.raises(ValueError, match="bands"):
            D.minhash_candidate_pairs(df, num_hashes=8, bands=16).collect()
        with pytest.raises(ValueError, match="divide"):
            D.minhash_candidate_pairs(df, num_hashes=10, bands=4).collect()
        with pytest.raises(ValueError, match="bands"):
            from bigdata_tag_system_spark.streaming.lsh_stream import (
                streaming_minhash_candidates,
            )
            streaming_minhash_candidates(
                spark.readStream.format("rate").load()
                .selectExpr("value as doc_id", "timestamp as ts",
                            "'x' as text"),
                num_hashes=8, bands=3)

    def test_full_outer_merge_keeps_stored_attributes(self, spark):
        from bigdata_tag_system_spark.operators.merge import merge_profiles

        new = spark.createDataFrame(
            [("u1", [1], "2024-02-01")],
            "user_id string, tag_ids array<int>, computed_date string")
        existing = spark.createDataFrame(
            [("u1", [9], "2024-01-01"), ("u2", [7], "2024-01-01")],
            "user_id string, tag_ids array<int>, computed_date string")
        rows = {r["user_id"]: r for r in
                merge_profiles(new, existing, "full_outer").collect()}
        assert rows["u1"]["tag_ids"] == [1, 9]
        assert rows["u1"]["computed_date"] == "2024-02-01"  # new wins
        # stored-only user keeps BOTH its tags and its stored attributes
        assert rows["u2"]["tag_ids"] == [7]
        assert rows["u2"]["computed_date"] == "2024-01-01"


class TestStreamStreamJoin:
    def test_join_resumes_from_checkpoint_without_duplicates(
            self, spark, tmp_path, sf_dir):
        # phase 1: joins run over the first file; phase 2 (new query
        # object, SAME checkpoint) sees only the second file and must
        # emit matches involving it exactly once — file-source offsets
        # and join state both restore from the checkpoint
        from pyspark.sql import functions as F

        from bigdata_tag_system_spark.sources.readers import load_table
        from bigdata_tag_system_spark.streaming.rule_stream import (
            stream_stream_attribution_join,
        )

        ev = load_table(spark, sf_dir, "events")
        # split by TIME, not key: phase-2 rows older than phase-1's
        # final watermark would be dropped as late data (correct
        # streaming semantics, wrong test). A time split keeps arrivals
        # in order AND forces cross-boundary matches through restored
        # join state (clicks buffered before the restart, purchases
        # after)
        mid = ev.agg(
            F.expr("percentile(unix_micros(cast(ts as timestamp)), 0.5)")
        ).first()[0]
        half1 = ev.where(
            F.unix_micros(F.col("ts").cast("timestamp")) <= mid)
        half2 = ev.where(
            F.unix_micros(F.col("ts").cast("timestamp")) > mid)
        src = str(tmp_path / "src")
        half1.coalesce(1).write.mode("overwrite").parquet(src)
        out_rows = []

        def run_once():
            clicks = spark.readStream.schema(ev.schema).parquet(src) \
                .where(F.col("event_type") == "click")
            purch = spark.readStream.schema(ev.schema).parquet(src) \
                .where(F.col("event_type") == "purchase")
            j = stream_stream_attribution_join(clicks, purch)
            q = (j.writeStream.outputMode("append")
                 .option("checkpointLocation", str(tmp_path / "ckpt"))
                 .foreachBatch(lambda df, bid: out_rows.extend(df.collect()))
                 .trigger(availableNow=True).start())
            q.awaitTermination(180)

        run_once()
        n_phase1 = len(out_rows)
        # append the second half as a NEW file, resume from checkpoint
        import glob
        import shutil
        tmp2 = str(tmp_path / "h2")
        half2.coalesce(1).write.mode("overwrite").parquet(tmp2)
        [f2] = glob.glob(tmp2 + "/*.parquet")
        shutil.copy(f2, src + "/part-resume.parquet")
        run_once()

        # batch truth over the full dataset
        c = ev.where("event_type = 'click'").select(
            F.col("user_id").alias("u"), F.col("ts").alias("cts"),
            F.col("event_id").alias("ce"))
        p = ev.where("event_type = 'purchase'").select(
            F.col("user_id").alias("u"), F.col("ts").alias("pts"),
            F.col("event_id").alias("pe"))
        want = (
            c.join(p, "u")
            .where("pts >= cts AND pts <= cts + INTERVAL 1 HOUR")
            .select("ce", "pe").collect())
        got = sorted((r.l_event_id, r.r_event_id) for r in out_rows)
        assert got == sorted((r.ce, r.pe) for r in want)
        assert len(out_rows) > n_phase1  # phase 2 added new matches


class TestLastTouchAttribution:
    def test_picks_latest_touch_within_window(self, spark):
        from bigdata_tag_system_spark.operators.features import (
            last_touch_attribution,
        )

        rows = [
            # u1: view@1:00, click@2:00, purchase@3:00 → click (latest)
            (1, "2024-01-01 01:00:00", "view", 0.0),
            (1, "2024-01-01 02:00:00", "click", 0.0),
            (1, "2024-01-01 03:00:00", "purchase", 10.0),
            # u2: touch 8 days before purchase → outside 7d → (direct)
            (2, "2024-01-01 00:00:00", "click", 0.0),
            (2, "2024-01-09 00:00:01", "purchase", 20.0),
            # u3: no touch at all → (direct)
            (3, "2024-01-05 00:00:00", "purchase", 5.0),
            # u4: touch AFTER purchase only → (direct)
            (4, "2024-01-02 00:00:00", "purchase", 7.0),
            (4, "2024-01-02 00:00:01", "click", 0.0),
            # u5: view then purchase → view
            (5, "2024-01-03 00:00:00", "view", 0.0),
            (5, "2024-01-03 00:30:00", "purchase", 2.5),
        ]
        df = spark.createDataFrame(
            rows, "user_id long, ts string, event_type string, value double"
        ).withColumn("ts", F.to_timestamp("ts"))
        got = {r["touch_type"]: (r["n_conv"], r["revenue"])
               for r in last_touch_attribution(df).collect()}
        assert got == {
            "click": (1, 10.0),
            "view": (1, 2.5),
            "(direct)": (3, 32.0),
        }

    def test_linear_split_and_boundaries(self, spark):
        from bigdata_tag_system_spark.operators.features import (
            linear_attribution,
        )

        rows = [
            # u1: 2 clicks + 1 view in window, purchase 12.0
            #     → click 2/3 (8.0), view 1/3 (4.0)
            (1, "2024-01-01 01:00:00", "click", 0.0),
            (1, "2024-01-01 02:00:00", "click", 0.0),
            (1, "2024-01-01 02:30:00", "view", 0.0),
            (1, "2024-01-01 03:00:00", "purchase", 12.0),
            # u2: touch exactly AT the 7-day lower bound → inclusive
            (2, "2024-01-01 00:00:00", "view", 0.0),
            (2, "2024-01-08 00:00:00", "purchase", 6.0),
            # u3: touch 1µs outside the window → (direct)
            (3, "2024-01-01 00:00:00.000000", "click", 0.0),
            (3, "2024-01-08 00:00:00.000001", "purchase", 5.0),
            # u4: touch at the SAME microsecond as the purchase → counts
            (4, "2024-01-02 00:00:00", "click", 0.0),
            (4, "2024-01-02 00:00:00", "purchase", 3.0),
        ]
        df = spark.createDataFrame(
            rows, "user_id long, ts string, event_type string, value double"
        ).withColumn("ts", F.to_timestamp("ts"))
        got = {r["touch_type"]: (r["conv_frac"], r["revenue"])
               for r in linear_attribution(df).collect()}
        assert got["click"] == (round(2 / 3 + 1.0, 4), round(8.0 + 3.0, 2))
        assert got["view"] == (round(1 / 3 + 1.0, 4), round(4.0 + 6.0, 2))
        assert got["(direct)"] == (1.0, 5.0)


class TestDupShingleCoverage:
    def test_interval_union_and_cross_doc_semantics(self, spark):
        from bigdata_tag_system_spark.operators.text import (
            dup_shingle_coverage,
        )

        shared = "a b c d"  # 4-token shingle shared by docs 1 and 2
        rows = [
            # doc1: shared at pos 0 AND pos 6 (two islands in 12 tokens)
            (1, shared + " x1 y1 " + shared + " z1 w1"),
            (2, "p q " + shared + " r s"),      # shared at pos 2 of 8
            (3, "u v w x y z aa bb"),           # no duplicate shingles
            (4, "short text"),                  # fewer than n tokens
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: (r.n_tokens, r.dup_tokens, r.dup_frac)
               for r in dup_shingle_coverage(df, n=4).collect()}
        # doc1: islands [0..3] and [6..9] -> 8 of 12 covered
        assert got[1] == (12, 8, round(8 / 12, 4))
        assert got[2] == (8, 4, 0.5)
        assert got[3] == (8, 0, 0.0)
        assert got[4] == (2, 0, 0.0)

    def test_overlapping_dup_shingles_merge_into_one_island(self, spark):
        from bigdata_tag_system_spark.operators.text import (
            dup_shingle_coverage,
        )

        run = "a b c d e"  # docs share a 5-token run -> two 4-shingles
        rows = [(1, run + " k1 k2 k3"), (2, "j1 " + run + " j2")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: (r.dup_tokens, r.dup_frac)
               for r in dup_shingle_coverage(df, n=4).collect()}
        # overlapping shingles at pos 0 and 1 union to 5 tokens, not 8
        assert got[1] == (5, round(5 / 8, 4))
        assert got[2] == (5, round(5 / 7, 4))


class TestGapFillDaily:
    def test_ffill_and_linear_interp(self, spark):
        from bigdata_tag_system_spark.operators.timeseries import (
            gap_fill_daily,
        )

        rows = [
            # u1: day1 close 10 (two events, later one wins), day4 close 40
            (1, 1, "2024-01-01 08:00:00", 99.0),
            (2, 1, "2024-01-01 09:00:00", 10.0),
            (3, 1, "2024-01-04 12:00:00", 40.0),
            # u2: single day -> single grid row
            (4, 2, "2024-02-05 00:00:00", 7.0),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts string, value double"
        ).withColumn("ts", F.to_timestamp("ts"))
        got = {(r.user_id, str(r.day)):
               (r.observed, r.v_ffill, r.v_interp)
               for r in gap_fill_daily(df).collect()}
        assert got[(1, "2024-01-01")] == (1, 10.0, 10.0)
        assert got[(1, "2024-01-02")] == (0, 10.0, 20.0)
        assert got[(1, "2024-01-03")] == (0, 10.0, 30.0)
        assert got[(1, "2024-01-04")] == (1, 40.0, 40.0)
        assert got[(2, "2024-02-05")] == (1, 7.0, 7.0)
        assert len(got) == 5

    def test_same_day_tie_broken_by_event_id(self, spark):
        from bigdata_tag_system_spark.operators.timeseries import (
            gap_fill_daily,
        )

        rows = [
            (1, 1, "2024-01-01 09:00:00", 1.0),
            (2, 1, "2024-01-01 09:00:00", 2.0),  # same ts, higher id wins
        ]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts string, value double"
        ).withColumn("ts", F.to_timestamp("ts"))
        [r] = gap_fill_daily(df).collect()
        assert (r.v_ffill, r.v_interp) == (2.0, 2.0)


class TestSpaceSavingStream:
    def _replay(self, spark, tmp_path, chunks, capacity):
        import os

        from bigdata_tag_system_spark.streaming.stateful import (
            space_saving_stream,
        )

        schema = ("event_id long, ts string, user_id long, "
                  "event_type string")
        src = str(tmp_path / "ss_src")
        os.makedirs(src, exist_ok=True)
        for i, rows in enumerate(chunks):
            df = spark.createDataFrame(rows, schema) \
                .withColumn("ts", F.to_timestamp("ts")).coalesce(1)
            cdir = str(tmp_path / f"ss_chunk{i}")
            df.write.mode("overwrite").parquet(cdir)
            part = [f for f in os.listdir(cdir)
                    if f.endswith(".parquet")][0]
            dst = f"{src}/{i}.parquet"
            os.rename(f"{cdir}/{part}", dst)
            os.utime(dst, (1_000_000 + i, 1_000_000 + i))
        stream_schema = spark.read.parquet(src).schema
        stream = (spark.readStream.schema(stream_schema)
                  .option("maxFilesPerTrigger", "1")
                  .parquet(src))
        results = []
        q = (space_saving_stream(stream, capacity=capacity)
             .writeStream.outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
             .foreachBatch(
                 lambda df, bid: results.extend(
                     (bid, *r) for r in map(tuple, df.collect())))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        # final state = the last batch's emission per (group, item)
        final = {}
        for bid, g, item, est, err, n in sorted(results):
            final[(g, item)] = (est, err, n)
        return final

    def test_exact_when_under_capacity_and_crosses_batches(
            self, spark, tmp_path):
        ts = "2024-01-01 10:00:0{}"
        chunk1 = [(1, ts.format(0), 7, "click"),
                  (2, ts.format(1), 7, "click"),
                  (3, ts.format(2), 9, "click")]
        chunk2 = [(4, ts.format(3), 7, "click"),
                  (5, ts.format(4), 9, "view")]
        final = self._replay(spark, tmp_path, [chunk1, chunk2], 8)
        # user 7 clicked 3x across BOTH batches: state crossed
        assert final[("click", 7)] == (3, 0, 4)
        assert final[("click", 9)] == (1, 0, 4)
        assert final[("view", 9)] == (1, 0, 1)

    def test_bounded_capacity_keeps_heavy_hitter_guarantee(
            self, spark, tmp_path):
        import collections

        # 60 events over 12 items, capacity 4: items with freq > N/4
        # must survive, and est-err <= true <= est for every survivor
        items = ([100] * 20 + [200] * 14
                 + [300 + i for i in range(13)]          # singletons
                 + [300 + i for i in range(13)])
        rows = [(i, f"2024-01-01 10:{i // 60:02d}:{i % 60:02d}",
                 it, "click") for i, it in enumerate(items)]
        half = len(rows) // 2
        final = self._replay(spark, tmp_path, [rows[:half], rows[half:]], 4)
        true = collections.Counter(items)
        n = len(items)
        survivors = {item: (est, err)
                     for (g, item), (est, err, _) in final.items()}
        assert len(survivors) <= 4
        for item, cnt in true.items():
            if cnt > n / 4:
                assert item in survivors, (item, cnt)
        for item, (est, err) in survivors.items():
            assert est - err <= true[item] <= est, (item, est, err)
