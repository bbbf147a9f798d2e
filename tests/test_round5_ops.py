"""Invariants for the round-5 operator batch. These back the oracle
rows (`join_bloom_prefilter`, ...); the properties here cover what a
value-hash compare cannot (no-false-negative guarantees, packing
round-trips, error paths, plan shape)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_tag_system_spark.operators.joins import (
    bloom_filter_bits,
    bloom_prefilter,
)
from bigdata_tag_system_spark.operators.sketches import (
    cms_build,
    cms_estimate,
    cms_merge,
)


class TestBloomPrefilter:
    def test_no_false_negatives_and_bounded_fp(self, spark):
        build = spark.range(0, 50).select(F.col("id").alias("k"))
        probe = spark.range(0, 5000).select((F.col("id") % 500).alias("k"))
        words = bloom_filter_bits(build, "k", num_bits=1 << 10, num_hashes=3)
        passed = bloom_prefilter(probe, "k", words, 1 << 10, 3)
        got = {r.k for r in passed.select("k").distinct().collect()}
        # every true member passes — the bloom guarantee
        assert set(range(50)) <= got
        # the filter actually filters: far fewer than all 500 keys pass
        assert len(got) < 500

    def test_python_replica_matches_spark_bits(self, spark):
        # the packed words match a pure-Python replay of the same
        # md5 double-hash — the contract the SQL oracle relies on
        import hashlib

        m, k = 1 << 8, 4
        keys = [3, 17, 999999]
        build = spark.createDataFrame([(x,) for x in keys], "k long")
        words = bloom_filter_bits(build, "k", m, k)
        expect = [0] * (m // 64)
        for key in keys:
            h = int(hashlib.md5(str(key).encode()).hexdigest()[:15], 16)
            h1 = h & (m - 1)
            h2 = ((h >> 8) & (m - 1)) * 2 + 1
            for i in range(k):
                p = (h1 + i * h2) & (m - 1)
                expect[p >> 6] |= 1 << (p & 63)
        expect = [w - (1 << 64) if w >= (1 << 63) else w for w in expect]
        assert words == expect

    def test_null_keys_dropped_from_build_never_pass(self, spark):
        build = spark.createDataFrame([(None,), (7,)], "k long")
        words = bloom_filter_bits(build, "k", 1 << 8, 3)
        probe = spark.createDataFrame([(7,), (None,)], "k long")
        out = bloom_prefilter(probe, "k", words, 1 << 8, 3).collect()
        assert [r.k for r in out] == [7]

    def test_parameter_validation(self, spark):
        df = spark.range(1).select(F.col("id").alias("k"))
        with pytest.raises(ValueError, match="power of two"):
            bloom_filter_bits(df, "k", num_bits=1000)
        with pytest.raises(ValueError, match="num_hashes"):
            bloom_filter_bits(df, "k", num_bits=256, num_hashes=0)
        with pytest.raises(ValueError, match="words has"):
            bloom_prefilter(df, "k", [0] * 3, num_bits=256, num_hashes=2)

    def test_prefilter_is_map_only(self, spark):
        # the probe-side test must not introduce a shuffle: the plan
        # between the scan and the filter has no Exchange
        words = bloom_filter_bits(
            spark.range(10).select(F.col("id").alias("k")), "k", 1 << 8, 3)
        probe = spark.range(1000).select(F.col("id").alias("k"))
        plan = bloom_prefilter(probe, "k", words, 1 << 8, 3) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestCountMinSketch:
    def test_never_undercounts_and_merge_equals_direct(self, spark):
        df = spark.range(0, 2000).select(
            (F.col("id") % 97).alias("k"), (F.col("id") % 4).alias("p"))
        direct = cms_build(df, "k", width=64, depth=3)
        merged = cms_merge(cms_build(df, "k", width=64, depth=3,
                                     partition_col="p"))
        # mergeability: summing per-partition sketches == one-shot build
        a = {(r.row_i, r.bucket): r.cnt for r in direct.collect()}
        b = {(r.row_i, r.bucket): r.cnt for r in merged.collect()}
        assert a == b
        true = df.groupBy("k").agg(F.count(F.lit(1)).alias("true_c"))
        est = cms_estimate(merged, true, "k", width=64, depth=3)
        rows = est.collect()
        assert len(rows) == 97
        for r in rows:
            # one-sided error: est >= true, always
            assert r.est >= r.true_c, (r.k, r.est, r.true_c)

    def test_python_replica_matches_sketch_counters(self, spark):
        import collections
        import hashlib

        w, d = 32, 2
        keys = [5, 5, 9, 123, 9, 5]
        df = spark.createDataFrame([(x,) for x in keys], "k long")
        got = {(r.row_i, r.bucket): r.cnt
               for r in cms_build(df, "k", w, d).collect()}
        expect: dict = collections.Counter()
        for key in keys:
            h = int(hashlib.md5(str(key).encode()).hexdigest()[:15], 16)
            h1, h2 = h & (w - 1), ((h >> 5) & (w - 1)) * 2 + 1
            for i in range(d):
                expect[(i, (h1 + i * h2) & (w - 1))] += 1
        assert got == dict(expect)

    def test_unseen_key_estimates_zero_or_collision(self, spark):
        df = spark.createDataFrame([(1,), (2,)], "k long")
        cms = cms_build(df, "k", width=256, depth=3)
        probe = spark.createDataFrame([(424242,)], "k long")
        [r] = cms_estimate(cms, probe, "k", 256, 3).collect()
        assert 0 <= r.est <= 2

    def test_depth_validation(self, spark):
        df = spark.range(1).select(F.col("id").alias("k"))
        with pytest.raises(ValueError, match="depth"):
            cms_build(df, "k", width=64, depth=0)
        with pytest.raises(ValueError, match="power of two"):
            cms_build(df, "k", width=100)


class TestKCore:
    def test_known_graphs(self, spark):
        from bigdata_tag_system_spark.operators.graph import kcore

        # K5: the 4-core is all five vertices at degree 4
        k5 = [(a, b) for a in range(5) for b in range(5) if a < b]
        df = spark.createDataFrame(k5, "src long, dst long")
        got = sorted((r.node, r.degree) for r in kcore(df, 4).collect())
        assert got == [(i, 4) for i in range(5)]
        # a path has no 2-core (peels from both ends)
        path = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3)], "src long, dst long")
        assert kcore(path, 2).collect() == []
        # K4 + pendant: the pendant AND its anchor's degree drop out,
        # the K4 survives as the 3-core — the cascade case
        k4p = [(a, b) for a in range(4) for b in range(4) if a < b] \
            + [(0, 99)]
        g = spark.createDataFrame(k4p, "src long, dst long")
        got = sorted((r.node, r.degree) for r in kcore(g, 3).collect())
        assert got == [(i, 3) for i in range(4)]

    def test_duplicate_and_self_edges_ignored(self, spark):
        from bigdata_tag_system_spark.operators.graph import kcore

        # triangle with duplicated edges (both directions) and a self
        # loop: degrees must count distinct neighbors only
        g = spark.createDataFrame(
            [(0, 1), (1, 0), (1, 2), (2, 0), (0, 0), (1, 2)],
            "src long, dst long")
        got = sorted((r.node, r.degree) for r in kcore(g, 2).collect())
        assert got == [(0, 2), (1, 2), (2, 2)]

    def test_max_rounds_raises(self, spark):
        from bigdata_tag_system_spark.operators.graph import kcore

        # a long path peels one layer per round under k=2
        path = spark.createDataFrame(
            [(i, i + 1) for i in range(10)], "src long, dst long")
        with pytest.raises(RuntimeError, match="did not converge"):
            kcore(path, 2, max_rounds=2)
        with pytest.raises(ValueError, match="k must be"):
            kcore(path, 0)

    def test_first_peel_majority_removal_plans_no_broadcast(self, spark):
        # low-degree-majority graph (star arms: every leaf has degree 1)
        # + K4 core: round one removes MOST vertices. Above the limit
        # the peel must NOT force a broadcast of that majority — with
        # auto-broadcast disabled, the fallback path plans a shuffle
        # anti join (r5 review: a forced broadcast ignores
        # autoBroadcastJoinThreshold, collecting most of a 100 TB graph)
        from bigdata_tag_system_spark.operators.graph import (
            _peel_removed,
            kcore,
        )

        live = spark.createDataFrame(
            [(i, i + 1) for i in range(50)], "src long, dst long"
        ).selectExpr("src as _u", "dst as _v")
        removed = live.select("_u").distinct().limit(40)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            plan_forced = _peel_removed(
                live, removed, force_broadcast=True
            )._jdf.queryExecution().executedPlan().toString()
            plan_fallback = _peel_removed(
                live, removed, force_broadcast=False
            )._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "BroadcastHashJoin" in plan_forced
        assert "BroadcastHashJoin" not in plan_fallback
        # end-to-end: a tiny limit routes round one through the fallback
        # and the k-core result is unchanged
        k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
        arms = [(0, 100 + i) for i in range(30)]
        g = spark.createDataFrame(k4 + arms, "src long, dst long")
        got = sorted(
            (r.node, r.degree)
            for r in kcore(g, 3, broadcast_removal_limit=2).collect())
        assert got == [(i, 3) for i in range(4)]


class TestJoinDelta:
    def test_quadrants_reassemble_full_join(self, spark):
        from bigdata_tag_system_spark.operators.joins import join_delta

        r = spark.createDataFrame(
            [(1, "a"), (1, "b"), (2, "c"), (3, "d")], "k long, rv string")
        s = spark.createDataFrame(
            [(1, 10), (2, 20), (2, 21), (4, 40)], "k long, sv long")
        r_old, r_new = r.where("rv < 'c'"), r.where("rv >= 'c'")
        s_old, s_new = s.where("sv < 21"), s.where("sv >= 21")
        full = r_old.join(s_old, "k").unionByName(
            join_delta(r_old, r_new, s_old, s_new, "k"))
        want = sorted(map(tuple, r.join(s, "k").collect()))
        got = sorted(map(tuple, full.collect()))
        assert got == want
        # quadrants are disjoint: no row double-counted
        assert len(got) == len(set(got)) or \
            full.count() == r.join(s, "k").count()

    def test_empty_deltas_contribute_nothing(self, spark):
        from bigdata_tag_system_spark.operators.joins import join_delta

        r = spark.createDataFrame([(1, "a")], "k long, rv string")
        s = spark.createDataFrame([(1, 10)], "k long, sv long")
        empty_r = r.where("1 = 0")
        empty_s = s.where("1 = 0")
        assert join_delta(r, empty_r, s, empty_s, "k").count() == 0


class TestTargetEncode:
    def test_excludes_own_fold_and_smooths(self, spark):
        from bigdata_tag_system_spark.operators.features import target_encode

        # cat 'a': fold 0 labels (10, 20), fold 1 label (40)
        df = spark.createDataFrame(
            [("a", 0, 10), ("a", 0, 20), ("a", 1, 40), ("b", 0, 100)],
            "category string, fold long, label long")
        out = {(r.category, r.fold): r
               for r in target_encode(df, "category", "label", "fold")
               .collect()}
        # a/fold0 sees only fold1: mean 40; a/fold1 sees fold0: mean 15
        assert out[("a", 0)].enc == 40.0
        assert out[("a", 1)].enc == 15.0
        assert out[("a", 0)].enc_sum == 40 and out[("a", 0)].enc_cnt == 1
        # b is entirely in fold 0 → no out-of-fold rows → null (m=0)
        assert out[("b", 0)].enc is None
        # with smoothing, b falls back toward the out-of-fold prior:
        # global fold!=0 rows are just (a,1,40) → prior 40
        sm = {(r.category, r.fold): r.enc
              for r in target_encode(df, "category", "label", "fold",
                                     smoothing=2.0).collect()}
        assert sm[("b", 0)] == 40.0
        # a/fold0: (40 + 2*40)/(1+2) = 40 ; a/fold1 prior = oof-global
        # of fold1 = mean(10,20,100) = 130/3, enc = (30+2·prior)/(2+2)
        assert sm[("a", 0)] == 40.0
        assert abs(sm[("a", 1)] - (30 + 2 * (130 / 3)) / 4) < 1e-9

    def test_row_count_preserved(self, spark):
        from bigdata_tag_system_spark.operators.features import target_encode

        df = spark.range(100).select(
            (F.col("id") % 3).cast("string").alias("category"),
            (F.col("id") % 4).alias("fold"),
            F.col("id").alias("label"))
        assert target_encode(df, "category", "label", "fold").count() == 100

    def test_negative_smoothing_rejected(self, spark):
        from bigdata_tag_system_spark.operators.features import target_encode

        df = spark.range(1).select(
            F.lit("a").alias("category"), F.lit(0).alias("fold"),
            F.col("id").alias("label"))
        with pytest.raises(ValueError, match="smoothing"):
            target_encode(df, "category", "label", "fold", smoothing=-1)


class TestRuleCoverage:
    def test_counts_and_basis_points(self, spark):
        from bigdata_tag_system_spark.operators.tagging import TagEngine
        from bigdata_tag_system_spark.rules.model import load_rules

        rules = [
            {"rule_id": 1, "tag_id": 1, "tag_name": "pos",
             "tag_category": "t",
             "rule_conditions": {"logic": "AND", "conditions": [
                 {"field": "v", "operator": ">", "value": 0,
                  "type": "number"}]}},
            {"rule_id": 2, "tag_id": 2, "tag_name": "never",
             "tag_category": "t",
             "rule_conditions": {"logic": "AND", "conditions": [
                 {"field": "v", "operator": ">", "value": 99,
                  "type": "number"}]}},
        ]
        facts = spark.createDataFrame(
            [(1, 5), (2, -1), (3, 7), (4, 0)], "user_id long, v long")
        eng = TagEngine(load_rules(rules))
        got = {r.rule_id: r for r in eng.coverage(facts).collect()}
        assert got[1].matched == 2 and got[1].total == 4
        assert got[1].coverage_bp == 5000
        # dead rule surfaces as zero coverage — the report's purpose
        assert got[2].matched == 0 and got[2].coverage_bp == 0
        assert got[1].tag_name == "pos"


class TestCdcApplyStream:
    def _write_batches(self, spark, tmp_path, batches):
        import os

        src = str(tmp_path / "cdc_src")
        os.makedirs(src, exist_ok=True)
        for i, rows in enumerate(batches):
            df = spark.createDataFrame(
                rows, "user_id long, bal double, _op string").coalesce(1)
            cdir = str(tmp_path / f"cdc_chunk{i}")
            df.write.mode("overwrite").parquet(cdir)
            part = [f for f in os.listdir(cdir)
                    if f.endswith(".parquet")][0]
            dst = f"{src}/{i}.parquet"
            os.rename(f"{cdir}/{part}", dst)
            os.utime(dst, (1_000_000 + i, 1_000_000 + i))
        return src

    def test_last_writer_wins_delete_and_reinsert(self, spark, tmp_path):
        from bigdata_tag_system_spark.sources.writers import write_parquet
        from bigdata_tag_system_spark.streaming.rule_stream import (
            run_cdc_apply_stream,
        )

        store = str(tmp_path / "store")
        write_parquet(spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)],
            "user_id long, bal double"), store)
        src = self._write_batches(spark, tmp_path, [
            [(1, 11.0, "upsert"), (2, None, "delete")],   # b0
            [(1, 12.0, "upsert"), (4, 40.0, "upsert")],   # b1 overwrite
            [(2, 22.0, "upsert"), (3, None, "delete")],   # b2 reinsert
        ])
        stream = (spark.readStream
                  .schema("user_id long, bal double, _op string")
                  .option("maxFilesPerTrigger", "1").parquet(src))
        q = run_cdc_apply_stream(
            stream, store, ["user_id"],
            checkpoint_dir=str(tmp_path / "ckpt"))
        q.awaitTermination(180)
        got = sorted(map(tuple, spark.read.parquet(store).collect()))
        # 1: b1 wins over b0; 2: deleted then reinserted; 3: deleted;
        # 4: inserted fresh
        assert got == [(1, 12.0), (2, 22.0), (4, 40.0)]

    def test_in_batch_conflict_fails_loudly(self, spark, tmp_path):
        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        from bigdata_tag_system_spark.sources.writers import write_parquet
        from bigdata_tag_system_spark.streaming.rule_stream import (
            run_cdc_apply_stream,
        )

        store = str(tmp_path / "store2")
        write_parquet(spark.createDataFrame(
            [(1, 10.0)], "user_id long, bal double"), store)
        src = self._write_batches(spark, tmp_path, [
            [(1, 11.0, "upsert"), (1, None, "delete")],
        ])
        stream = (spark.readStream
                  .schema("user_id long, bal double, _op string")
                  .parquet(src))
        q = run_cdc_apply_stream(
            stream, store, ["user_id"],
            checkpoint_dir=str(tmp_path / "ckpt2"))
        with pytest.raises(StreamingQueryException,
                           match="both upsert and delete"):
            q.awaitTermination(180)


class TestCdcChunking:
    def test_duplicate_docs_fully_covered(self, spark):
        from bigdata_tag_system_spark.operators.text import cdc_chunk_stats

        df = spark.createDataFrame([
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "totally different content with no shared chunks today"),
            (4, ""), (5, None),
        ], "doc_id long, text string")
        got = {r.doc_id: r for r in cdc_chunk_stats(df, divisor=4).collect()}
        # empty/null docs drop; identical docs are 100% duplicated mass
        assert set(got) == {1, 2, 3}
        assert got[1].dup_chunk_tokens == got[1].n_tokens == 8
        assert got[2].dup_chunk_tokens == 8
        assert got[3].dup_chunk_tokens == 0
        assert got[1].n_chunks >= 1

    def test_insertion_only_rechunks_locally(self, spark):
        # THE content-defined property: prepending a sentence must not
        # shift downstream chunk boundaries, so the tail chunks still
        # dedup against the original (fixed-size windows would all
        # shift and share nothing)
        from bigdata_tag_system_spark.operators.text import cdc_chunk_stats

        base = ("alpha beta gamma delta epsilon zeta eta theta iota "
                "kappa lamda mu nu xi omicron pi rho sigma tau upsilon")
        df = spark.createDataFrame(
            [(1, base), (2, "brand new prefix sentence " + base)],
            "doc_id long, text string")
        got = {r.doc_id: r for r in cdc_chunk_stats(df, divisor=4).collect()}
        # most of doc 1's mass is still found duplicated inside doc 2
        assert got[1].dup_chunk_tokens >= got[1].n_tokens // 2

    def test_chunks_partition_tokens(self, spark):
        # chunk lengths sum to n_tokens — boundaries partition, never
        # drop or double-count
        from bigdata_tag_system_spark.operators.text import cdc_chunk_stats

        df = spark.createDataFrame(
            [(i, f"word{i} " * (i + 1)) for i in range(20)],
            "doc_id long, text string")
        out = cdc_chunk_stats(df, divisor=2, min_docs=99)
        for r in out.collect():
            assert r.dup_chunk_tokens == 0  # min_docs unreachable
            assert r.n_tokens == r.doc_id + 1

    def test_divisor_validation(self, spark):
        from bigdata_tag_system_spark.operators.text import cdc_chunk_stats

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError, match="divisor"):
            cdc_chunk_stats(df, divisor=0)


class TestHashSplit:
    def test_group_coherent_stable_and_proportional(self, spark):
        from bigdata_tag_system_spark.operators.sampling import hash_split

        df = spark.range(0, 40000).select(
            (F.col("id") % 4000).alias("user_id"), F.col("id").alias("e"))
        out = hash_split(df, "user_id")
        # group coherence: every user sits in exactly one split
        multi = (out.groupBy("user_id")
                 .agg(F.countDistinct("split").alias("ns"))
                 .where("ns > 1").count())
        assert multi == 0
        frac = {r.split: r.n for r in out.groupBy("split")
                .agg(F.countDistinct("user_id").alias("n")).collect()}
        assert abs(frac["train"] / 4000 - 0.8) < 0.03
        assert abs(frac["val"] / 4000 - 0.1) < 0.02
        assert abs(frac["test"] / 4000 - 0.1) < 0.02
        # stability: subsetting the data never reassigns a key
        sub = hash_split(df.where("user_id < 100"), "user_id")
        full = {r.user_id: r.split
                for r in out.where("user_id < 100")
                .select("user_id", "split").distinct().collect()}
        for r in sub.select("user_id", "split").distinct().collect():
            assert full[r.user_id] == r.split

    def test_string_key_rejected_under_portable(self, spark):
        # a string key would cast('long') -> NULL and silently land every
        # row in the last split; must raise instead (reviewed r5)
        import pytest as _pytest
        from bigdata_tag_system_spark.operators.sampling import hash_split

        df = spark.createDataFrame(
            [(f"u{i}", i) for i in range(10)], "user_id string, e long")
        with _pytest.raises(ValueError, match="integral"):
            hash_split(df, "user_id")
        # xxhash64 path hashes any type: all three splits still reachable
        out = hash_split(
            spark.createDataFrame(
                [(f"u{i}", i) for i in range(4000)],
                "user_id string, e long"),
            "user_id", portable=False)
        frac = {r.split: r.n for r in out.groupBy("split")
                .agg(F.count(F.lit(1)).alias("n")).collect()}
        assert abs(frac.get("train", 0) / 4000 - 0.8) < 0.05
        assert frac.get("val", 0) > 0 and frac.get("test", 0) > 0

    def test_custom_weights_and_validation(self, spark):
        from bigdata_tag_system_spark.operators.sampling import hash_split

        df = spark.range(1000).select(F.col("id").alias("k"))
        out = hash_split(df, "k", weights=(1, 1), names=("a", "b"))
        got = {r.split for r in out.select("split").distinct().collect()}
        assert got <= {"a", "b"}
        with pytest.raises(ValueError, match="positive"):
            hash_split(df, "k", weights=(1, 0))
        with pytest.raises(ValueError, match="names"):
            hash_split(df, "k", weights=(1, 1), names=("only",))


class TestCsvCorpus:
    def test_permissive_corrupt_capture(self, spark, tmp_path):
        import os

        from bigdata_tag_system_spark.sources.readers import read_csv_corpus

        d = str(tmp_path / "csv")
        os.makedirs(d)
        with open(d + "/a.csv", "w") as f:
            f.write("1,en,100\n2,de,200\n")
        with open(d + "/b.csv", "w") as f:
            f.write("bad,en,7\n3,fr,nope\n")
        df = read_csv_corpus(
            spark, d, "doc_id bigint, lang string, n_chars bigint")
        all_rows = df.collect()
        fr = next(r for r in all_rows if r.lang == "fr")
        # only the malformed FIELD nulls out; the raw line is kept
        assert fr.doc_id == 3 and fr.n_chars is None
        assert fr._corrupt_record == "3,fr,nope"
        # (counted client-side: Spark disallows plans whose referenced
        # columns are ONLY the corrupt column — QUERY_ONLY_CORRUPT_
        # RECORD_COLUMN — so aggregates must touch data columns too,
        # as scan_csv_corrupt does)
        assert sum(1 for r in all_rows
                   if r._corrupt_record is None) == 2
        assert len(all_rows) == 4

    def test_structtype_schema_and_idempotent_corrupt_col(self, spark,
                                                          tmp_path):
        import os

        from pyspark.sql.types import (
            LongType, StringType, StructField, StructType,
        )

        from bigdata_tag_system_spark.sources.readers import read_csv_corpus

        d = str(tmp_path / "csv2")
        os.makedirs(d)
        with open(d + "/a.csv", "w") as f:
            f.write("1,x\n")
        st = StructType([StructField("id", LongType()),
                         StructField("v", StringType()),
                         StructField("_corrupt_record", StringType())])
        df = read_csv_corpus(spark, d, st)
        # caller-declared corrupt column is not duplicated
        assert df.columns == ["id", "v", "_corrupt_record"]
        assert df.count() == 1


class TestAssocRules:
    def test_lift_formula_on_planted_baskets(self, spark):
        import __spark_entry__ as e

        # 4 baskets: {1,2} twice, {1,3}, {2,3} — co(1,2)=2,
        # cnt(1)=3, cnt(2)=3, n=4 → conf(1→2)=2/3, lift=2·4/(3·3)=8/9
        rows = [(10, 1), (10, 2), (11, 1), (11, 2), (12, 1), (12, 3),
                (13, 2), (13, 3)]
        df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
        import os
        import tempfile

        d = tempfile.mkdtemp()
        df.write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
        out = {(r.p1, r.p2): r for r in
               e.queries()["orders_assoc_rules"](spark, d).collect()}
        r12 = out[(1, 2)]
        assert r12.co == 2 and r12.cnt_a == 3 and r12.cnt_b == 3
        assert r12.support_bp == 2 * 10000 // 4
        assert r12.conf_bp == 2 * 10000 // 3
        assert r12.lift_bp == 2 * 4 * 10000 // 9


class TestReciprocalBest:
    def test_hub_filtered_mutual_kept(self, spark):
        from bigdata_tag_system_spark.operators.dedup import (
            reciprocal_best_pairs,
        )

        # 1↔2 mutual best (0.9); 3's best is 1 but 1 prefers 2 → 3
        # drops; 4↔5 mutual (0.6)
        pairs = spark.createDataFrame(
            [(1, 2, 0.9), (1, 3, 0.8), (2, 3, 0.5), (4, 5, 0.6)],
            "id_a long, id_b long, jaccard double")
        got = sorted((r.id_a, r.id_b, r.jaccard)
                     for r in reciprocal_best_pairs(pairs).collect())
        assert got == [(1, 2, 0.9), (4, 5, 0.6)]

    def test_score_tie_breaks_to_smaller_id(self, spark):
        from bigdata_tag_system_spark.operators.dedup import (
            reciprocal_best_pairs,
        )

        # 1 ties between 2 and 3 → smaller id (2) wins; 2's best is 1
        pairs = spark.createDataFrame(
            [(1, 2, 0.7), (1, 3, 0.7)],
            "id_a long, id_b long, jaccard double")
        got = [(r.id_a, r.id_b)
               for r in reciprocal_best_pairs(pairs).collect()]
        assert got == [(1, 2)]


class TestTfidfCosine:
    def test_planted_corpus_exact_cosine(self, spark):
        import math

        from bigdata_tag_system_spark.operators.text import (
            tfidf_cosine_topk,
        )

        # 4 docs; "apple banana" shared by docs 1,2; doc 3 disjoint
        # from 1/2; "zeta" ties 3 and 4. max_df_ratio=0.5 with N=4
        # prunes terms in >2 docs.
        df = spark.createDataFrame([
            (1, "apple banana"),
            (2, "apple banana cherry"),
            (3, "dog emu zeta"),
            (4, "zeta"),
        ], "doc_id long, text string")
        out = {(r.doc_id, r.rank): r
               for r in tfidf_cosine_topk(df, k=2).collect()}
        # weights: w(term in d) = tf * (4*100 // df)
        # doc1: apple,banana df=2 → w=200 each; norm=80000
        # doc2: same + cherry df=1 → w=400; norm=240000
        # dot(1,2) = 200*200*2 = 80000
        want = 80000 / math.sqrt(80000 * 240000)
        got = out[(1, 1)]
        assert got.other_id == 2
        assert abs(got.cosine - round(want, 4)) < 1e-9
        # doc 4's only neighbor is 3 (zeta, df=2)
        assert out[(4, 1)].other_id == 3
        # no cross-cluster pairs exist
        assert (1, 2) not in out or out[(1, 2)].other_id not in (3, 4)

    def test_stop_term_pruned(self, spark):
        from bigdata_tag_system_spark.operators.text import (
            tfidf_cosine_topk,
        )

        # "the" in all 4 docs is pruned (df/N = 1 > 0.5) — docs that
        # ONLY share "the" must not pair
        df = spark.createDataFrame([
            (1, "the apple"), (2, "the banana"),
            (3, "the cherry"), (4, "the date"),
        ], "doc_id long, text string")
        assert tfidf_cosine_topk(df, k=3).count() == 0


class TestVersionedStore:
    def test_time_travel_and_immutability(self, spark, tmp_path):
        from bigdata_tag_system_spark.sources.versioned import (
            history, read_version, write_version,
        )

        store = str(tmp_path / "vs")
        assert write_version(spark.createDataFrame(
            [(1, 10.0)], "k long, v double"), store) == 1
        assert write_version(spark.createDataFrame(
            [(1, 11.0), (2, 20.0)], "k long, v double"), store) == 2
        # current = latest; old version still intact
        assert read_version(spark, store).count() == 2
        [r] = read_version(spark, store, 1).collect()
        assert (r.k, r.v) == (1, 10.0)
        assert history(store) == [1, 2]
        with pytest.raises(ValueError, match="not in store"):
            read_version(spark, store, 7)

    def test_vacuum_drops_old_keeps_current(self, spark, tmp_path):
        from bigdata_tag_system_spark.sources.versioned import (
            history, read_version, vacuum, write_version,
        )

        store = str(tmp_path / "vs2")
        for i in range(3):
            write_version(spark.range(i + 1).toDF("k"), store)
        assert vacuum(store, keep_last=1) == [1, 2]
        assert history(store) == [3]
        assert read_version(spark, store).count() == 3
        with pytest.raises(ValueError, match="not in store"):
            read_version(spark, store, 1)
        with pytest.raises(ValueError, match="keep_last"):
            vacuum(store, keep_last=0)

    def test_empty_store_read_fails_loudly(self, spark, tmp_path):
        from bigdata_tag_system_spark.sources.versioned import read_version

        with pytest.raises(ValueError, match="no versions"):
            read_version(spark, str(tmp_path / "nothing"))


class TestPythonDataSource:
    def test_partition_slices_cover_exactly(self, spark):
        from bigdata_tag_system_spark.sources.pyds import register

        register(spark)
        df = (spark.read.format("synthetic_events")
              .option("rows", "103").option("partitions", "7").load())
        ids = sorted(r.event_id for r in df.select("event_id").collect())
        # contiguous ranges: no overlap, nothing missing, any rows/parts
        assert ids == list(range(103))
        assert df.rdd.getNumPartitions() == 7

    def test_content_is_pure_function_of_index(self, spark):
        from bigdata_tag_system_spark.sources.pyds import register

        register(spark)
        df = (spark.read.format("synthetic_events")
              .option("rows", "8").option("partitions", "3").load())
        got = sorted(map(tuple, df.collect()))
        types = ["view", "click", "purchase", "error"]
        want = sorted((i, i % 97, types[i % 4], (i * 31) % 1000)
                      for i in range(8))
        assert got == want

    def test_option_validation(self, spark):
        from bigdata_tag_system_spark.sources.pyds import (
            SyntheticEventsReader,
        )

        with pytest.raises(ValueError, match="partitions"):
            SyntheticEventsReader(rows=10, parts=0)


class TestChunkTextUdtf:
    def test_matches_reference_windows(self, spark):
        import hashlib

        from bigdata_tag_system_spark.functions.udtf_ops import register

        register(spark)
        text = " ".join(f"w{i}" for i in range(70))  # 70 tokens → 3 chunks
        spark.createDataFrame(
            [(1, text), (2, None), (3, "  ")],
            "doc_id long, text string").createOrReplaceTempView("u")
        rows = spark.sql("""
            SELECT doc_id, c.* FROM u, LATERAL chunk_text(text) c
            ORDER BY doc_id, chunk_idx
        """).collect()
        # null/blank docs yield nothing
        assert [r.doc_id for r in rows] == [1, 1, 1]
        assert [r.n_tokens for r in rows] == [32, 32, 6]
        toks = text.split()
        want = hashlib.md5(" ".join(toks[64:70]).encode()).hexdigest()
        assert rows[2].chunk_md5 == want


class TestVersionDiff:
    def test_ops_and_identical_rewrite_excluded(self, spark, tmp_path):
        from bigdata_tag_system_spark.sources.versioned import (
            version_diff, write_version,
        )

        store = str(tmp_path / "vd")
        write_version(spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)],
            "k long, v double"), store)
        write_version(spark.createDataFrame(
            [(1, 10.0), (3, 33.0), (4, 40.0)],
            "k long, v double"), store)
        got = {r.k: (r.op, r.old, r.new)
               for r in version_diff(spark, store, 1, 2, ["k"]).collect()}
        # key 1 rewritten with the SAME value → not a change
        assert 1 not in got
        assert got[2][0] == "delete" and got[2][2] is None
        assert got[3][0] == "update" and got[3][1].v == 30.0 \
            and got[3][2].v == 33.0
        assert got[4][0] == "insert" and got[4][1] is None

    def test_schema_drift_rejected(self, spark, tmp_path):
        from bigdata_tag_system_spark.sources.versioned import (
            version_diff, write_version,
        )

        store = str(tmp_path / "vd2")
        write_version(spark.createDataFrame([(1, 1.0)], "k long, v double"),
                      store)
        write_version(spark.createDataFrame([(1, "x")], "k long, w string"),
                      store)
        with pytest.raises(ValueError, match="schema drift"):
            version_diff(spark, store, 1, 2, ["k"])


class TestTokenBudgetMixture:
    def test_strict_budget_and_deterministic_order(self, spark):
        from bigdata_tag_system_spark.operators.sampling import (
            token_budget_mixture,
        )

        df = spark.createDataFrame(
            [(i, "a", 10) for i in range(20)]
            + [(100 + i, "b", 7) for i in range(10)],
            "doc_id long, source string, n_tokens long")
        kept = token_budget_mixture(
            df, budgets={"a": 35, "b": 100}, default_budget=0)
        rows = kept.collect()
        a_toks = sum(r.n_tokens for r in rows if r.source == "a")
        b_toks = sum(r.n_tokens for r in rows if r.source == "b")
        # strict: 35-token budget over 10-token docs keeps exactly 3
        assert a_toks == 30
        assert b_toks == 70  # all 10 docs fit
        # rerun is identical (deterministic hash order)
        again = token_budget_mixture(
            df, budgets={"a": 35, "b": 100}, default_budget=0)
        assert sorted(r.doc_id for r in rows) == \
            sorted(r.doc_id for r in again.collect())

    def test_string_id_rejected_under_portable(self, spark):
        # string ids hash to NULL under the Knuth hash — the 'unbiased
        # deterministic shuffle' would silently become plain id order;
        # must raise, and portable=False must still work (reviewed r5)
        import pytest as _pytest
        from bigdata_tag_system_spark.operators.sampling import (
            token_budget_mixture,
        )

        df = spark.createDataFrame(
            [(f"d{i}", "a", 10) for i in range(20)],
            "doc_id string, source string, n_tokens long")
        with _pytest.raises(ValueError, match="integral"):
            token_budget_mixture(df, budgets={"a": 50})
        kept = token_budget_mixture(
            df, budgets={"a": 50}, portable=False).collect()
        assert sum(r.n_tokens for r in kept) == 50

    def test_default_budget_and_validation(self, spark):
        from bigdata_tag_system_spark.operators.sampling import (
            token_budget_mixture,
        )

        df = spark.createDataFrame(
            [(1, "x", 5)], "doc_id long, source string, n_tokens long")
        # unknown source with default 0 → excluded entirely
        assert token_budget_mixture(df, budgets={"a": 10}).count() == 0
        assert token_budget_mixture(
            df, budgets={}, default_budget=5).count() == 1
        with pytest.raises(ValueError, match="non-negative"):
            token_budget_mixture(df, budgets={"a": -1})


class TestHistogramRollupQuantiles:
    def test_merge_invariance_and_error_bound(self, spark):
        from bigdata_tag_system_spark.operators.sketches import (
            histogram_rollup_quantiles,
        )

        df = spark.range(0, 10000).select(
            (F.col("id") % 5).alias("p"),
            (F.col("id") % 100 / 1.0).alias("value"))
        out = histogram_rollup_quantiles(
            df, "value", "p", lo=0.0, hi=100.0, buckets=50)
        rows = {(r.q_num, r.q_den): r for r in out.collect()}
        assert set(rows) == {(1, 2), (9, 10), (99, 100)}
        for r in rows.values():
            # midpoint estimate within one bucket width of the exact
            assert r.within_w, (r.q_num, r.est, r.exact)
        # single-partition build gives identical estimates (merge
        # invariance: fixed fences → same buckets)
        one = histogram_rollup_quantiles(
            df.withColumn("p", F.lit(0)), "value", "p",
            lo=0.0, hi=100.0, buckets=50)
        assert {(r.q_num, r.est) for r in one.collect()} == \
            {(r.q_num, r.est) for r in rows.values()}

    def test_out_of_fence_values_clamp(self, spark):
        from bigdata_tag_system_spark.operators.sketches import (
            histogram_rollup_quantiles,
        )

        df = spark.createDataFrame(
            [(0, -50.0), (0, 5.0), (0, 999.0)], "p long, value double")
        out = histogram_rollup_quantiles(
            df, "value", "p", lo=0.0, hi=10.0, buckets=10,
            qs=((1, 2),))
        [r] = out.collect()
        # median of {clamp(-50)=0, 5, clamp(999)=10} → middle bucket
        assert 4.0 <= r.est <= 6.5

    def test_validation(self, spark):
        from bigdata_tag_system_spark.operators.sketches import (
            histogram_rollup_quantiles,
        )

        df = spark.createDataFrame([(0, 1.0)], "p long, value double")
        with pytest.raises(ValueError, match="buckets"):
            histogram_rollup_quantiles(df, "value", "p", 0, 1, buckets=0)
        with pytest.raises(ValueError, match="hi > lo"):
            histogram_rollup_quantiles(df, "value", "p", 5, 5)


class TestRuleToSql:
    def test_injection_and_metachars_neutralized(self, spark):
        from bigdata_tag_system_spark.rules.compiler import (
            RuleCompileError, rule_to_sql,
        )

        # quotes in values are escaped, not interpolated
        w = rule_to_sql({"field": "name", "operator": "=",
                         "value": "x'; DROP TABLE t; --",
                         "type": "string"})
        assert "''" in w and "DROP" in w  # quoted payload, inert
        df = spark.createDataFrame(
            [("x'; DROP TABLE t; --",), ("safe",)], "name string")
        assert df.where(F.expr(w)).count() == 1
        # LIKE metachars in contains() match literally
        w2 = rule_to_sql({"field": "name", "operator": "contains",
                          "value": "100%", "type": "string"})
        df2 = spark.createDataFrame(
            [("give 100%",), ("give 1000",)], "name string")
        assert df2.where(F.expr(w2)).count() == 1
        # bad identifiers refuse to render
        with pytest.raises(RuleCompileError, match="identifier"):
            rule_to_sql({"field": "a; DROP", "operator": "=", "value": 1})

    def test_relative_dates_need_pinned_as_of(self):
        from bigdata_tag_system_spark.rules.compiler import (
            RuleCompileError, rule_to_sql,
        )

        cond = {"field": "d", "operator": "recent_days", "value": 30,
                "type": "date"}
        with pytest.raises(RuleCompileError, match="as_of"):
            rule_to_sql(cond)
        w = rule_to_sql(cond, as_of="2024-03-31")
        assert w == "(d >= DATE '2024-03-01')"

    def test_nonportable_ops_refuse(self):
        from bigdata_tag_system_spark.rules.compiler import (
            RuleCompileError, rule_to_sql,
        )

        with pytest.raises(RuleCompileError, match="portable"):
            rule_to_sql({"field": "x", "operator": "matches",
                         "value": "a.*b"})

    def test_backslash_and_substitution_render_as_ansi_data(self):
        # ANSI text: a backslash and `${x}` stay plain characters (Spark
        # SQL would read them as an escape and a variable; documented,
        # not refused). DuckDB follows the standard and matches each
        # value exactly.
        import duckdb

        from bigdata_tag_system_spark.rules.compiler import rule_to_sql

        backslash = rule_to_sql({"field": "name", "operator": "=",
                                 "value": "C:\\tmp\\x", "type": "string"})
        assert backslash == r"(name = 'C:\tmp\x')"
        dollar = rule_to_sql({"field": "name", "operator": "contains",
                              "value": "${x}", "type": "string"})
        assert dollar == "(name LIKE '%${x}%' ESCAPE '!')"
        con = duckdb.connect()
        con.execute("create table t (name varchar)")
        con.executemany("insert into t values (?)",
                        [["C:\\tmp\\x"], ["${x}"], ["C:\tmp"], ["x"]])
        for where, want in ((backslash, "C:\\tmp\\x"), (dollar, "${x}")):
            got = con.execute(f"select name from t where {where}").fetchall()
            assert got == [(want,)]

    def test_group_semantics_match_column_compiler(self, spark):
        from bigdata_tag_system_spark.rules.compiler import (
            compile_rule, rule_to_sql,
        )

        rule = {"logic": "NOT", "conditions": [
            {"field": "a", "operator": ">", "value": 3, "type": "number"},
            {"field": "b", "operator": "in", "value": ["x", "y"],
             "type": "string"},
        ]}
        df = spark.createDataFrame(
            [(5, "x"), (5, "z"), (1, "x"), (None, "x")],
            "a long, b string")
        n_sql = df.where(F.expr(rule_to_sql(rule))).count()
        n_col = df.where(compile_rule(rule)).count()
        assert n_sql == n_col == 2

        # decimals render exactly: through a float the threshold became
        # 123456789012.12346 and this DECIMAL(20,8) row, which satisfies
        # the rule, failed the rendered WHERE
        from decimal import Decimal

        dec_rule = {"field": "amt", "operator": ">=",
                    "value": "123456789012.12345678", "type": "decimal"}
        assert rule_to_sql(dec_rule) == "(amt >= 123456789012.12345678)"
        ddf = spark.createDataFrame(
            [(Decimal("123456789012.12345900"),)], "amt decimal(20,8)")
        n_sql = ddf.where(F.expr(rule_to_sql(dec_rule))).count()
        n_col = ddf.where(compile_rule(dec_rule)).count()
        assert n_sql == n_col == 1


class TestNativeBoards:
    """Planted-data ground truths for the round-5 native-ops boards
    (oracle value-hash is the primary check; these pin the SEMANTICS
    on adversarial micro-cases the synthetic corpus may not hit)."""

    def _events_dir(self, spark, tmp_path, rows):
        import os

        d = str(tmp_path / "evd")
        os.makedirs(d, exist_ok=True)
        spark.createDataFrame(
            rows,
            "event_id long, user_id long, ts string, "
            "event_type string, value double",
        ).withColumn("ts", F.to_timestamp("ts")) \
            .write.mode("overwrite").parquet(f"{d}/events.parquet")
        return d

    def test_lifecycle_classes(self, spark, tmp_path):
        import __spark_entry__ as e

        rows = [
            (1, 1, "2024-01-01 10:00:00", "view", 1.0),   # new
            (2, 1, "2024-01-02 10:00:00", "view", 1.0),   # retained
            (3, 1, "2024-01-10 10:00:00", "view", 1.0),   # returning
            (4, 1, "2024-03-01 10:00:00", "view", 1.0),   # resurrected
            (5, 2, "2024-01-02 12:00:00", "view", 1.0),   # new
        ]
        d = self._events_dir(spark, tmp_path, rows)
        got = {str(r.d): (r.new_users, r.retained, r.returning,
                          r.resurrected)
               for r in e.queries()["events_user_lifecycle"](spark, d)
               .collect()}
        assert got["2024-01-01"] == (1, 0, 0, 0)
        assert got["2024-01-02"] == (1, 1, 0, 0)
        assert got["2024-01-10"] == (0, 0, 1, 0)
        assert got["2024-03-01"] == (0, 0, 0, 1)

    def test_streak_distribution(self, spark, tmp_path):
        import __spark_entry__ as e

        # user 1: 3-day streak + isolated day (max 3); user 2: 1 day
        rows = [
            (1, 1, "2024-01-01 10:00:00", "view", 1.0),
            (2, 1, "2024-01-02 10:00:00", "view", 1.0),
            (3, 1, "2024-01-03 10:00:00", "view", 1.0),
            (4, 1, "2024-02-01 10:00:00", "view", 1.0),
            (5, 2, "2024-01-05 10:00:00", "view", 1.0),
        ]
        d = self._events_dir(spark, tmp_path, rows)
        got = {r.max_streak: r.n_users
               for r in e.queries()["events_activity_streaks"](spark, d)
               .collect()}
        assert got == {1: 1, 3: 1}

    def test_wilson_interval_closed_form(self, spark, tmp_path):
        import __spark_entry__ as e

        # one type, 4 events, 1 "high value" → p̂=0.25, n=4
        rows = [(i, 1, f"2024-01-01 10:00:0{i}", "view",
                 60.0 if i == 0 else 1.0) for i in range(4)]
        d = self._events_dir(spark, tmp_path, rows)
        [r] = e.queries()["stats_wilson_ci"](spark, d).collect()
        z = 1.959963984540054
        p, n = 0.25, 4
        denom = 1 + z * z / n
        center = (p + z * z / (2 * n)) / denom
        half = z * ((p * (1 - p) / n + z * z / (4 * n * n)) ** 0.5) / denom
        assert (r.n, r.k) == (4, 1)
        assert abs(r.lo - round(center - half, 4)) < 1e-9
        assert abs(r.hi - round(center + half, 4)) < 1e-9

    def test_transition_entropy_planted_chain(self, spark, tmp_path):
        import __spark_entry__ as e

        # from 'a': always → 'b' (H=0); from 'b': 50/50 b→a / b→c (H=1)
        seq = ["a", "b", "a", "b", "c"]
        rows = [(i, 1, f"2024-01-01 10:00:0{i}", t, 1.0)
                for i, t in enumerate(seq)]
        d = self._events_dir(spark, tmp_path, rows)
        got = {r.from_type: (r.n_out, r.entropy_bits)
               for r in e.queries()["events_transition_entropy"](spark, d)
               .collect()}
        assert got["a"] == (2, 0.0)
        assert got["b"] == (2, 1.0)


class TestPortableMinhash:
    def test_survivors_subset_of_exact_and_replica_signature(self, spark):
        import hashlib

        from bigdata_tag_system_spark.operators.dedup import (
            minhash_portable_pairs, ngram_jaccard_pairs,
        )

        docs = [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "a completely different document about query engines"),
            (4, "the quick brown fox jumps over the lazy cat today"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        port = {(r.id_a, r.id_b)
                for r in minhash_portable_pairs(df, threshold=0.5)
                .collect()}
        exact = {(r.id_a, r.id_b)
                 for r in ngram_jaccard_pairs(df, threshold=0.5)
                 .collect()}
        # exact verification ⇒ survivors ⊆ exact pairs; identical docs
        # share every band ⇒ (1,2) always survives
        assert port <= exact
        assert (1, 2) in port
        # replica: hash 0 of doc 3 == min over its shingles of
        # md5-60("0|shingle") — the byte contract the oracle relies on
        toks = docs[2][1].split()
        sh = {" ".join(toks[i:i + 3])
              for i in range(max(len(toks) - 3, 0) + 1)}
        want = min(int(hashlib.md5(f"0|{g}".encode()).hexdigest()[:15],
                       16) for g in sh)
        from bigdata_tag_system_spark.functions.text import (
            portable_hash60,
        )
        from bigdata_tag_system_spark.operators.dedup import _shingle_df

        got = (_shingle_df(df.where("doc_id = 3"), "text", "doc_id", 3)
               .select(F.explode("_sh").alias("g"))
               .select(F.min(portable_hash60(
                   F.concat(F.lit("0|"), F.col("g")))).alias("m"))
               .collect()[0].m)
        assert got == want

    def test_band_shape_validation(self, spark):
        from bigdata_tag_system_spark.operators.dedup import (
            minhash_portable_pairs,
        )

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError, match="divide"):
            minhash_portable_pairs(df, num_hashes=7, rows_per_band=2)
