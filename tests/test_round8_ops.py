"""Round-8 operators: real multimodal decoders (binary PGM, WAV PCM16)
and their Spark-side decode pipeline."""
from __future__ import annotations

import struct

import pyspark.sql.functions as F
import pytest

from bigdata_tag_system_spark.operators.multimodal import (
    decode_pgm,
    decode_wav_pcm16,
)


def _pgm(width, height, pixels, maxval=255, comment=False):
    head = b"P5\n"
    if comment:
        head += b"# a comment line\n"
    head += f"{width} {height}\n{maxval}\n".encode()
    return head + bytes(pixels)


def _wav(frames, n_ch=2, rate=8000):
    """frames: list of per-frame tuples (one int16 per channel)."""
    data = b"".join(struct.pack("<h", s) for fr in frames for s in fr)
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, n_ch, rate,
                      rate * n_ch * 2, n_ch * 2, 16)
        + b"data" + struct.pack("<I", len(data))
    )
    return hdr + data


class TestDecodePgm:
    def test_decodes_known_raster(self):
        px = [0, 255, 10, 20, 30, 40]
        f = decode_pgm(_pgm(3, 2, px))
        assert f[:4] == [3.0, 2.0, 255.0, 6.0]
        assert f[4] == float(sum(px))
        assert f[5] == float(sum(v * v for v in px))
        assert (f[6], f[7]) == (0.0, 255.0)

    def test_header_comments_and_whitespace(self):
        f = decode_pgm(_pgm(2, 2, [9, 9, 9, 9], comment=True))
        assert f[:2] == [2.0, 2.0] and f[4] == 36.0

    def test_raster_may_contain_whitespace_bytes(self):
        # pixel values 10/32 are \n/space — the raster parse must be
        # positional, not token-based
        f = decode_pgm(_pgm(2, 1, [10, 32]))
        assert f[4] == 42.0

    def test_rejects_bad_magic_and_truncation(self):
        with pytest.raises(ValueError, match="P5"):
            decode_pgm(b"P6\n1 1\n255\nx")
        with pytest.raises(ValueError, match="truncated"):
            decode_pgm(b"P5\n4 4\n255\nab")
        with pytest.raises(ValueError, match="maxval"):
            decode_pgm(b"P5\n1 1\n65535\n\x00\x00")


class TestDecodeWavPcm16:
    def test_decodes_stereo_stats(self):
        frames = [(100, -50), (-100, 50), (7, 0)]
        f = decode_wav_pcm16(_wav(frames))
        assert f[:3] == [2.0, 8000.0, 3.0]
        # ch0: 100,-100,7   ch1: -50,50,0
        assert f[3:6] == [7.0, float(100**2 + 100**2 + 49), 100.0]
        assert f[6:9] == [0.0, float(50**2 + 50**2), 50.0]

    def test_mono_and_extreme_amplitudes(self):
        f = decode_wav_pcm16(_wav([(-32768,), (32767,)], n_ch=1,
                                  rate=44100))
        assert f[:3] == [1.0, 44100.0, 2.0]
        assert f[5] == 32768.0  # peak uses abs of the most negative

    def test_chunk_walk_skips_unknown_chunks(self):
        w = _wav([(5, 6)])
        # splice an odd-sized LIST chunk (forces word-align padding)
        # between the header and fmt/data
        extra = b"LIST" + struct.pack("<I", 3) + b"abc\x00"
        spliced = w[:12] + extra + w[12:]
        f = decode_wav_pcm16(spliced)
        assert f[2] == 1.0 and f[3] == 5.0 and f[6] == 6.0

    def test_rejects_non_wav_and_non_pcm16(self):
        with pytest.raises(ValueError, match="RIFF"):
            decode_wav_pcm16(b"OggS" + b"\x00" * 40)
        bad = _wav([(1, 1)])
        # rewrite bits-per-sample 16 -> 8 in the fmt chunk
        bad = bad[:34] + struct.pack("<H", 8) + bad[36:]
        with pytest.raises(ValueError, match="PCM16"):
            decode_wav_pcm16(bad)


class TestDecodePipeline:
    def test_registry_decode_roundtrip_in_spark(self, spark):
        # end-to-end: payloads built by Spark expressions, decoded by
        # the REGISTERED parser (not the stub) inside mapInPandas
        from bigdata_tag_system_spark.operators.multimodal import (
            extract_features, register_decoder)

        register_decoder("pgm", decode_pgm)
        media = spark.createDataFrame(
            [(1, "pgm", _pgm(3, 2, [1, 2, 3, 4, 5, 6]), "image/pgm",
              3, 2, None)],
            "media_id long, modality string, payload binary, "
            "mime_type string, width int, height int, duration_ms int")
        row = extract_features(media).first()
        feats = [float(x) for x in row["feature"]]
        assert feats[:4] == [3.0, 2.0, 255.0, 6.0]
        assert feats[4] == 21.0 and feats[5] == 91.0

    def test_catalog_generators_match_python_decoders(self, spark):
        # the closed-form DuckDB oracle is only honest if the planted
        # Spark payloads ARE valid PGM/WAV: cross-check one decoded
        # row of each catalog query against a pure-Python replay
        import __spark_entry__ as e

        sf = "/root/testdata/sf0.001"
        img = e.queries()["mm_decode_features"](spark, sf).first()
        m = img["media_id"]
        w, h = 8 + m % 5, 6 + m % 4
        px = [(m * 31 + i * 7) % 256 for i in range(w * h)]
        assert (img["width"], img["height"]) == (w, h)
        assert img["px_sum"] == sum(px)
        assert img["px_sumsq"] == sum(v * v for v in px)

        au = e.queries()["mm_decode_audio"](spark, sf).first()
        m = au["media_id"]
        nf = 40 + m % 23
        sm = [((m * 7 + i * 13) % 512) - 256 for i in range(2 * nf)]
        assert au["n_frames"] == nf
        assert au["ch0_sum"] == sum(sm[0::2])
        assert au["ch1_sumsq"] == sum(v * v for v in sm[1::2])
        assert au["ch1_peak"] == max(abs(v) for v in sm[1::2])


class TestDegreeAssortativity:
    def test_star_is_disassortative(self, spark):
        from bigdata_tag_system_spark.operators.graph import (
            degree_assortativity,
        )

        # star K1,4: every edge pairs degree 4 with degree 1 -> r = -1
        e = spark.createDataFrame(
            [(0, i) for i in range(1, 5)], "src long, dst long")
        row = degree_assortativity(e).first()
        assert row["n_nodes"] == 5 and row["n_edges"] == 4
        assert abs(row["assortativity"] - (-1.0)) < 1e-12

    def test_regular_graph_is_degenerate_null(self, spark):
        from bigdata_tag_system_spark.operators.graph import (
            degree_assortativity,
        )

        # a cycle is 2-regular: zero degree variance -> undefined (null)
        e = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long")
        row = degree_assortativity(e).first()
        assert row["assortativity"] is None


class TestZipfFit:
    def test_exact_power_law_recovers_slope(self, spark):
        from bigdata_tag_system_spark.operators.text import zipf_fit

        # plant frequencies f(r) = 1000 / r for ranks 1..20: slope -1,
        # perfect fit (r2 = 1). Tokens repeated f times in one doc each.
        rows = []
        for r in range(1, 21):
            f_ = round(1000 / r)
            rows.append((r, " ".join([f"tok{r:02d}"] * f_)))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = zipf_fit(df, top_n=20).first()
        assert got["n_terms"] == 20
        assert abs(got["slope"] + 1.0) < 0.02   # rounding of 1000/r
        assert got["r2"] > 0.999

    def test_tie_ranking_is_deterministic(self, spark):
        from bigdata_tag_system_spark.operators.text import zipf_fit

        df = spark.createDataFrame(
            [(1, "b b a a c")], "doc_id long, text string")
        got = zipf_fit(df, top_n=3).first()
        # a and b tie at 2 -> rank by token asc; c rank 3; fit well-defined
        assert got["n_terms"] == 3 and got["slope"] is not None


class TestWoeEncode:
    def test_matches_hand_computation(self, spark):
        import math

        from bigdata_tag_system_spark.operators.features import (
            woe_encode,
        )

        df = spark.createDataFrame(
            [("a", 1), ("a", 1), ("a", 0), ("b", 0), ("b", 0), ("b", 1)],
            "cat string, y int")
        out = {r["cat"]: r for r in woe_encode(df, "cat", "y").collect()}
        # totals: pos=3, neg=3; a: pos 2 neg 1; woe = ln((2.5/3)/(1.5/3))
        exp_a = math.log((2.5 / 3) / (1.5 / 3))
        assert abs(out["a"]["woe"] - exp_a) < 1e-12
        assert out["a"]["n"] == 3 and out["a"]["n_pos"] == 2
        # symmetry: b mirrors a
        assert abs(out["b"]["woe"] + exp_a) < 1e-12
        # IV terms are equal and positive for both
        assert out["a"]["iv_term"] > 0
        assert abs(out["a"]["iv_term"] - out["b"]["iv_term"]) < 1e-12


class TestKsDrift:
    def test_identical_distributions_give_zero(self, spark):
        from bigdata_tag_system_spark.operators.quality import ks_drift

        rows = [(float(v), g) for v in range(50) for g in ("a", "b")]
        df = spark.createDataFrame(rows, "v double, g string")
        row = ks_drift(df, "v", "g", "a", "b").first()
        assert row["d_bp"] == 0 and row["n_a"] == 50 and row["n_b"] == 50

    def test_disjoint_distributions_give_10000(self, spark):
        from bigdata_tag_system_spark.operators.quality import ks_drift

        rows = [(float(v), "a") for v in range(30)] + \
               [(float(v + 100), "b") for v in range(40)]
        df = spark.createDataFrame(rows, "v double, g string")
        row = ks_drift(df, "v", "g", "a", "b").first()
        assert row["d_bp"] == 10000

    def test_matches_scipy_style_hand_case(self, spark):
        from bigdata_tag_system_spark.operators.quality import ks_drift

        # a = {1,2,3,4}, b = {3,4,5,6}: D = |F_a(2) - F_b(2)| = 1/2
        rows = [(1.0, "a"), (2.0, "a"), (3.0, "a"), (4.0, "a"),
                (3.0, "b"), (4.0, "b"), (5.0, "b"), (6.0, "b")]
        df = spark.createDataFrame(rows, "v double, g string")
        row = ks_drift(df, "v", "g", "a", "b").first()
        assert row["d_bp"] == 5000

    def test_bucketing_does_not_change_statistic(self, spark):
        from bigdata_tag_system_spark.operators.quality import ks_drift

        import random

        rng = random.Random(7)
        rows = [(rng.uniform(0, 10), "a") for _ in range(200)] + \
               [(rng.uniform(2, 12), "b") for _ in range(150)]
        df = spark.createDataFrame(rows, "v double, g string")
        d1 = ks_drift(df, "v", "g", "a", "b", n_buckets=1).first()["d_bp"]
        d64 = ks_drift(df, "v", "g", "a", "b", n_buckets=64).first()["d_bp"]
        assert d1 == d64


class TestLshBucketStats:
    def test_census_consistent_with_candidates(self, spark):
        from bigdata_tag_system_spark.operators.dedup import (
            _portable_band_keys, _shingle_df, lsh_bucket_stats,
        )

        rows = [(i, f"alpha beta gamma delta epsilon doc {i % 3}")
                for i in range(9)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        stats = {r["band"]: r for r in lsh_bucket_stats(df).collect()}
        assert set(stats) == {0, 1, 2, 3}
        # cross-check candidate_pairs against a direct bucket count
        sh = _shingle_df(df, "text", "doc_id", 3)
        bk = _portable_band_keys(sh, "doc_id", 8, 2)
        per = {(r["_band"], r["_bk"]): r["cnt"] for r in
               bk.groupBy("_band", "_bk").count()
               .withColumnRenamed("count", "cnt").collect()}
        for band, row in stats.items():
            exp = sum(c * (c - 1) // 2 for (b, _), c in per.items()
                      if b == band)
            assert row["candidate_pairs"] == exp
            assert row["n_docs"] == 9


class TestPeakConcurrency:
    def test_hand_built_overlaps(self, spark):
        import datetime as dt

        from bigdata_tag_system_spark.operators.timeseries import (
            peak_concurrency,
        )

        d = dt.datetime(2024, 1, 1)

        def t(h, m=0):
            return d.replace(hour=h, minute=m)

        rows = [(t(1), t(3)), (t(2), t(4)),   # overlap -> 2
                (t(5), t(5)),                  # point session
                (t(23), t(23) + dt.timedelta(hours=2))]  # crosses midnight
        df = spark.createDataFrame(rows, "start_ts timestamp, end_ts timestamp")
        out = {r["day"]: r for r in peak_concurrency(df).collect()}
        assert out["2024-01-01"]["peak"] == 2
        assert out["2024-01-01"]["n_sessions"] == 4
        assert out["2024-01-02"]["peak"] == 1
        assert out["2024-01-02"]["n_sessions"] == 1

    def test_touching_endpoints_count_as_concurrent(self, spark):
        import datetime as dt

        from bigdata_tag_system_spark.operators.timeseries import (
            peak_concurrency,
        )

        d = dt.datetime(2024, 1, 1)
        rows = [(d.replace(hour=1), d.replace(hour=2)),
                (d.replace(hour=2), d.replace(hour=3))]
        df = spark.createDataFrame(rows, "start_ts timestamp, end_ts timestamp")
        assert peak_concurrency(df).first()["peak"] == 2


class TestAutocorrelation:
    def test_alternating_series_has_negative_lag1(self, spark):
        import datetime as dt

        from bigdata_tag_system_spark.operators.timeseries import (
            autocorrelation,
        )

        base = dt.date(2024, 1, 1)
        rows = [(base + dt.timedelta(days=i), 10 if i % 2 else 0)
                for i in range(30)]
        df = spark.createDataFrame(rows, "day date, x long")
        acf = {r["lag"]: r["acf"] for r in autocorrelation(df).collect()}
        assert acf[1] < -0.9 and acf[2] > 0.9

    def test_matches_numpy(self, spark):
        import datetime as dt

        import numpy as np

        from bigdata_tag_system_spark.operators.timeseries import (
            autocorrelation,
        )

        rng = np.random.RandomState(3)
        xs = rng.randint(0, 100, size=40)
        base = dt.date(2024, 1, 1)
        rows = [(base + dt.timedelta(days=i), int(v))
                for i, v in enumerate(xs)]
        df = spark.createDataFrame(rows, "day date, x long")
        got = {r["lag"]: r["acf"] for r in autocorrelation(df).collect()}
        mu = xs.mean()
        den = ((xs - mu) ** 2).sum()
        for k in (1, 3, 7):
            exp = ((xs[k:] - mu) * (xs[:-k] - mu)).sum() / den
            assert abs(got[k] - exp) < 1e-9


class TestSeasonalDecompose:
    def test_pure_weekly_pattern_is_recovered(self, spark):
        import datetime as dt

        from bigdata_tag_system_spark.operators.timeseries import (
            seasonal_decompose,
        )

        pattern = [0, 10, 20, 30, 40, 50, 60]
        base = dt.date(2024, 1, 1)
        rows = [(base + dt.timedelta(days=i), pattern[i % 7])
                for i in range(35)]
        df = spark.createDataFrame(rows, "day date, x long")
        out = {r["phase"]: r for r in seasonal_decompose(df).collect()}
        # trend is the constant weekly mean (30); seasonal = pattern - 30
        for p in range(7):
            assert abs(out[p]["seasonal"] - (pattern[p] - 30)) < 1e-9
            assert out[p]["resid_rms"] < 1e-9


class TestBigramCrossScores:
    def test_oov_floor_and_seen_transitions(self, spark):
        import math

        from bigdata_tag_system_spark.operators.text import (
            bigram_lm_cross_scores,
        )

        train = spark.createDataFrame(
            [(1, "a b a b"), (2, "a b c")], "doc_id long, text string")
        score = spark.createDataFrame(
            [(10, "a b"), (11, "x y")], "doc_id long, text string")
        out = {r["doc_id"]: r for r in
               bigram_lm_cross_scores(train, score).collect()}
        # train bigrams: a b (x3), b a, b c -> V = {b, a, c} = 3
        # doc 10: P(a b) = (3 + .5) / (c1(a)=3 + .5*3)
        assert out[10]["oov_bigrams"] == 0
        assert abs(out[10]["avg_logp"]
                   - math.log(3.5 / 4.5)) < 1e-12
        # doc 11: fully OOV -> uniform floor ln(0.5 / (0.5*3)) = -ln 3
        assert out[11]["oov_bigrams"] == 1
        assert abs(out[11]["avg_logp"] + math.log(3.0)) < 1e-12


class TestClusteringCoefficient:
    def test_triangle_is_fully_transitive(self, spark):
        from bigdata_tag_system_spark.operators.graph import (
            clustering_coefficient,
        )

        e = spark.createDataFrame(
            [(0, 1), (1, 2), (0, 2)], "src long, dst long")
        row = clustering_coefficient(e).first()
        assert row["n_wedges"] == 3 and row["n_triangles"] == 1
        assert abs(row["global_cc"] - 1.0) < 1e-12

    def test_star_has_zero_cc(self, spark):
        from bigdata_tag_system_spark.operators.graph import (
            clustering_coefficient,
        )

        e = spark.createDataFrame(
            [(0, i) for i in range(1, 5)], "src long, dst long")
        row = clustering_coefficient(e).first()
        assert row["n_wedges"] == 6 and row["n_triangles"] == 0
        assert row["global_cc"] == 0.0

    def test_precomputed_census_matches_inline(self, spark):
        from bigdata_tag_system_spark.operators.graph import (
            clustering_coefficient, enumerate_triangles,
        )

        e = spark.createDataFrame(
            [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (2, 4), (4, 5)],
            "src long, dst long")
        inline = clustering_coefficient(e).first()
        shared = clustering_coefficient(
            e, triangles=enumerate_triangles(e)).first()
        assert inline == shared


class TestMinhashRecallReport:
    def test_identical_docs_are_fully_recalled(self, spark):
        from bigdata_tag_system_spark.operators.dedup import (
            minhash_recall_report,
        )

        # identical docs share every band; disjoint docs share none
        rows = [(1, "alpha beta gamma delta epsilon zeta"),
                (2, "alpha beta gamma delta epsilon zeta"),
                (3, "one two three four five six seven")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        row = minhash_recall_report(df).first()
        assert row["n_exact"] == 1
        assert row["n_hits"] == 1
        assert row["recall_bp"] == 10000
        assert row["precision_bp"] == 10000

    def test_zero_pairs_yield_null_ratios(self, spark):
        from bigdata_tag_system_spark.operators.dedup import (
            minhash_recall_report,
        )

        rows = [(1, "alpha beta gamma delta epsilon zeta"),
                (2, "one two three four five six seven")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        row = minhash_recall_report(df).first()
        assert row["n_exact"] == 0 and row["recall_bp"] is None


class TestRawFrameStats:
    def _media(self, spark, payload, duration_ms, w=2, h=2):
        return spark.createDataFrame(
            [(1, "video", payload, "video/raw-gray", w, h, duration_ms)],
            "media_id long, modality string, payload binary, "
            "mime_type string, width int, height int, duration_ms int")

    def test_per_frame_slices(self, spark):
        from bigdata_tag_system_spark.operators.multimodal import (
            raw_frame_stats,
        )

        payload = bytes([1, 2, 3, 4, 250, 251, 252, 253])  # 2 frames 2x2
        out = raw_frame_stats(
            self._media(spark, payload, 80), 2, 2, frame_ms=40
        ).orderBy("frame_idx").collect()
        assert len(out) == 2
        assert (out[0]["px_sum"], out[0]["px_min"], out[0]["px_max"]) \
            == (10, 1, 4)
        assert (out[1]["px_sum"], out[1]["px_max"]) == (1006, 253)
        assert out[1]["frame_ts_ms"] == 40

    def test_truncates_to_bytes_present(self, spark):
        from bigdata_tag_system_spark.operators.multimodal import (
            raw_frame_stats,
        )

        # duration promises 3 frames, payload holds only 1
        payload = bytes([9, 9, 9, 9])
        out = raw_frame_stats(
            self._media(spark, payload, 120), 2, 2, frame_ms=40
        ).collect()
        assert len(out) == 1 and out[0]["px_sum"] == 36


class TestQuantizedRecall:
    def test_lossless_quantization_has_full_recall(self, spark):
        from bigdata_tag_system_spark.operators.embeddings import (
            quantized_recall_report,
        )

        # vectors on an integer grid scaled to ±1: quantization is
        # order-preserving, so the prefilter can't miss
        import random

        rng = random.Random(11)
        rows = [(i, [rng.randint(-127, 127) / 127.0 for _ in range(8)])
                for i in range(60)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = rows[0][1]
        row = quantized_recall_report(df, q, k=5, rescore=4).first()
        assert row["k"] == 5 and row["rescore"] == 4
        assert row["n_hits"] == 5 and row["recall_bp"] == 10000

    def test_tiny_rescore_budget_can_miss(self, spark):
        from bigdata_tag_system_spark.operators.embeddings import (
            quantized_recall_report,
        )

        # adversarial: big magnitudes dominate the integer dot while
        # cosine normalizes them away -> rescore=1 must stay <= k hits
        rows = [(0, [1.0, 0.0, 0.0, 0.0])]
        rows += [(i, [0.9, 0.1 * (i % 3), 0.0, 0.0]) for i in range(1, 30)]
        rows += [(100 + i, [100.0, 90.0, 0.0, 0.0]) for i in range(10)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        row = quantized_recall_report(df, rows[0][1], k=5, rescore=1).first()
        assert 0 <= row["n_hits"] <= 5
        assert row["recall_bp"] == row["n_hits"] * 2000


class TestActiveUserBoard:
    def test_hand_built_board(self, spark):
        import datetime as dt

        from bigdata_tag_system_spark.operators.features import (
            active_user_board,
        )

        base = dt.datetime(2024, 1, 1, 12)
        rows = [
            (1, base),                             # u1 day0
            (1, base),                             # dup event, same day
            (2, base),                             # u2 day0
            (1, base + dt.timedelta(days=8)),      # u1 day8
            (3, base + dt.timedelta(days=8)),      # u3 day8
        ]
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")
        out = {r["day"]: r for r in
               active_user_board(df, wau_days=7, mau_days=28).collect()}
        d0 = out["2024-01-01"]
        assert (d0["dau"], d0["wau"], d0["mau"]) == (2, 2, 2)
        d8 = out["2024-01-09"]
        # day8: active today u1,u3; wau window (days 2-8) = u1,u3;
        # mau window covers day0 too = u1,u2,u3
        assert (d8["dau"], d8["wau"], d8["mau"]) == (2, 2, 3)
        assert d8["stickiness_bp"] == 6666
        # a quiet day between: dau 0, mau carries day0 users
        d3 = out["2024-01-04"]
        assert (d3["dau"], d3["wau"], d3["mau"]) == (0, 2, 2)
        assert d3["stickiness_bp"] == 0


class TestAsofJoinNearest:
    def _dfs(self, spark):
        import datetime as dt

        b = dt.datetime(2024, 1, 1)

        def t(m):
            return b + dt.timedelta(minutes=m)

        left = spark.createDataFrame(
            [(1, 10, t(10)), (1, 20, t(20)), (1, 99, t(99)),
             (2, 30, t(30))],
            "user_id long, lid long, ts timestamp")
        right = spark.createDataFrame(
            [(1, t(12), 1.0), (1, t(27), 2.0)],
            "user_id long, ts timestamp, value double")
        return left, right

    def test_nearest_both_directions_and_tie_backward(self, spark):
        from bigdata_tag_system_spark.operators.timeseries import (
            asof_join_nearest,
        )

        left, right = self._dfs(spark)
        out = {r["lid"]: r for r in
               asof_join_nearest(left, right,
                                 value_cols=["value"]).collect()}
        assert out[10]["value_asof"] == 1.0   # forward 2min < nothing back
        # lid 20: back 8min (t12) vs fwd 7min (t27) -> forward wins
        assert out[20]["value_asof"] == 2.0
        assert out[99]["value_asof"] == 2.0   # only backward exists
        assert out[30]["value_asof"] is None  # other user: no rights

    def test_exact_match_and_tolerance(self, spark):
        import datetime as dt

        from bigdata_tag_system_spark.operators.timeseries import (
            asof_join_nearest,
        )

        b = dt.datetime(2024, 1, 1)
        left = spark.createDataFrame(
            [(1, 1, b + dt.timedelta(minutes=12)),
             (1, 2, b + dt.timedelta(minutes=50))],
            "user_id long, lid long, ts timestamp")
        right = spark.createDataFrame(
            [(1, b + dt.timedelta(minutes=12), 7.0)],
            "user_id long, ts timestamp, value double")
        out = {r["lid"]: r for r in asof_join_nearest(
            left, right, value_cols=["value"],
            tolerance="10 minutes").collect()}
        assert out[1]["value_asof"] == 7.0    # exact ts match
        assert out[2]["value_asof"] is None   # 38min > 10min bound


class TestAbcXyz:
    def test_hand_built_matrix(self, spark):
        from bigdata_tag_system_spark.operators.features import (
            abc_xyz_classes,
        )

        # item 1: 80 revenue, steady (q=5,5,5) -> A / X
        # item 2: 15 revenue, erratic (q=1,9)  -> B / Z (cv > 1? no:
        #   mu=5, sigma=4 -> cv=0.8 -> Y)
        # item 3: 5 revenue, single period     -> C / X (cv=0)
        rows = [(1, 1, 4000, 5), (1, 2, 2000, 5), (1, 3, 2000, 5),
                (2, 1, 1000, 1), (2, 2, 500, 9),
                (3, 1, 500, 4)]
        df = spark.createDataFrame(
            rows, "item long, period int, cents long, qty long")
        out = {(r["abc"], r["xyz"]): r for r in abc_xyz_classes(
            df, "item", "cents", "qty", "period").collect()}
        assert out[("A", "X")]["n_items"] == 1
        assert out[("A", "X")]["revenue_cents"] == 8000
        assert out[("A", "X")]["revenue_share_bp"] == 8000
        assert ("B", "Y") in out and out[("B", "Y")]["n_items"] == 1
        assert ("C", "X") in out

    def test_fence_boundary_is_inclusive_for_a(self, spark):
        from bigdata_tag_system_spark.operators.features import (
            abc_xyz_classes,
        )

        # exactly 80.00% cumulative -> still A (<=), by integer compare
        rows = [(1, 1, 8000, 1), (2, 1, 2000, 1)]
        df = spark.createDataFrame(
            rows, "item long, period int, cents long, qty long")
        out = {r["abc"]: r["n_items"] for r in abc_xyz_classes(
            df, "item", "cents", "qty", "period").collect()}
        assert out.get("A") == 1 and out.get("C") == 1

    def test_int64_overflow_boundary_classes_exactly(self, spark):
        # total 2e15 cents: cum·10000 = 1.6e19 > int64 max (9.22e18);
        # without the decimal(38,0) widening the fence comparison wraps
        # and misclasses both items (red before the guard, green after)
        from bigdata_tag_system_spark.operators.features import (
            abc_xyz_classes,
        )

        rows = [(1, 1, 1_600_000_000_000_000, 1),
                (2, 1, 400_000_000_000_000, 1)]
        df = spark.createDataFrame(
            rows, "item long, period int, cents long, qty long")
        out = {r["abc"]: r for r in abc_xyz_classes(
            df, "item", "cents", "qty", "period").collect()}
        assert set(out) == {"A", "C"}
        assert out["A"]["revenue_cents"] == 1_600_000_000_000_000
        assert out["A"]["revenue_share_bp"] == 8000
        assert out["C"]["revenue_share_bp"] == 2000


class TestNeymanAllocation:
    def test_sigma_proportional_and_budget_exact(self, spark):
        import pyspark.sql.functions as F

        from bigdata_tag_system_spark.operators.sampling import (
            neyman_allocation,
        )

        # stratum a: constant (sigma 0); b: spread 0/100; c: spread
        # 0/200 with same size -> alloc ratio b:c = 1:2, a gets 0
        rows = [("a", 50), ("a", 50), ("a", 50), ("a", 50),
                ("b", 0), ("b", 100), ("b", 0), ("b", 100),
                ("c", 0), ("c", 200), ("c", 0), ("c", 200)]
        df = spark.createDataFrame(rows, "grp string, cents long")
        out = {r["grp"]: r for r in neyman_allocation(
            df, "grp", F.col("cents"), budget=90).collect()}
        assert out["a"]["alloc"] == 0
        assert out["b"]["alloc"] + out["c"]["alloc"] == 90
        assert out["c"]["alloc"] == 2 * out["b"]["alloc"]

    def test_weight_is_exact_sqrt_of_integer_moment(self, spark):
        import math

        import pyspark.sql.functions as F

        from bigdata_tag_system_spark.operators.sampling import (
            neyman_allocation,
        )

        rows = [("g", 3), ("g", 7)]
        df = spark.createDataFrame(rows, "grp string, cents long")
        row = neyman_allocation(df, "grp", F.col("cents"), 10).first()
        # D = n*Sxx - Sx^2 = 2*58 - 100 = 16 -> w = 4
        assert row["w_fixed"] == math.floor(math.sqrt(16))
        assert row["alloc"] == 10


class TestClassBalancedSample:
    def test_every_class_keeps_minority_count(self, spark):
        from bigdata_tag_system_spark.operators.sampling import (
            class_balanced_sample,
        )

        rows = [("x", i) for i in range(20)] + \
               [("y", 100 + i) for i in range(7)] + \
               [("z", 200 + i) for i in range(12)]
        df = spark.createDataFrame(rows, "cls string, k long")
        kept = class_balanced_sample(df, "cls", "k")
        counts = {r["cls"]: r["cnt"] for r in
                  kept.groupBy("cls").count()
                  .withColumnRenamed("count", "cnt").collect()}
        assert counts == {"x": 7, "y": 7, "z": 7}
        # deterministic: second run keeps the identical rows
        a = sorted((r["cls"], r["k"]) for r in kept.collect())
        b = sorted((r["cls"], r["k"]) for r in
                   class_balanced_sample(df, "cls", "k").collect())
        assert a == b


class TestLabelNoiseReport:
    def test_planted_mislabeled_vector_is_flagged(self, spark):
        from bigdata_tag_system_spark.operators.embeddings import (
            label_noise_report,
        )

        # two tight clusters; vec 99 sits in cluster A but carries
        # label 1 -> all its neighbors disagree
        rows = []
        for i in range(6):
            rows.append((i, [1.0 + 0.01 * i, 0.0], 0))
        for i in range(6):
            rows.append((10 + i, [0.0, 1.0 + 0.01 * i], 1))
        rows.append((99, [1.0, 0.05], 1))
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int")
        out = {r["label"]: r for r in
               label_noise_report(df, k=5).collect()}
        assert out[1]["suspects"] == 1          # only vec 99
        assert out[0]["suspects"] == 0
        assert out[0]["mean_mismatch_bp"] < 2000

    def _clustered(self, spark, n=40):
        import math
        rows = []
        for i in range(n):
            ang = 0.25 * (i % 5)
            base = [math.cos(ang), math.sin(ang), 0.0]
            if i % 2:
                base = [0.0, base[0], base[1]]
            rows.append((i, base, i % 2))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int")

    def test_bucketed_full_probe_equals_brute(self, spark):
        # nprobe = num_buckets -> bucketing only prunes: the hash-join
        # census must equal the brute |N|^2 census row for row
        from bigdata_tag_system_spark.operators.embeddings import (
            label_noise_report,
        )

        df = self._clustered(spark)
        cents = [[1.0, 0.2, 0.0], [0.0, 1.0, 0.2],
                 [0.7, 0.7, 0.0], [0.0, 0.7, 0.7]]
        brute = sorted(map(tuple, label_noise_report(df, k=5).collect()))
        buck = sorted(map(tuple, label_noise_report(
            df, k=5, centroids=cents, nprobe=len(cents)).collect()))
        assert brute == buck

    def test_bucketed_plan_is_bnl_clean_and_partial_probe_sane(self, spark):
        from bigdata_tag_system_spark.operators.embeddings import (
            label_noise_report,
        )
        from bigdata_tag_system_spark.plans.lint import plan_warnings

        df = self._clustered(spark)
        cents = [[1.0, 0.2, 0.0], [0.0, 1.0, 0.2],
                 [0.7, 0.7, 0.0], [0.0, 0.7, 0.7]]
        full = label_noise_report(df, k=5, centroids=cents,
                                  nprobe=len(cents))
        assert not [w for w in plan_warnings(full)
                    if w.startswith("bnl_join")]
        # reduced probe budget: census stays structurally valid and
        # total vectors can only shrink (buckets prune candidates)
        part = label_noise_report(df, k=5, centroids=cents, nprobe=2)
        tot_full = sum(r["n_vecs"] for r in full.collect())
        tot_part = sum(r["n_vecs"] for r in part.collect())
        assert 0 < tot_part <= tot_full
        for r in part.collect():
            assert 0 <= r["mean_mismatch_bp"] <= 10000


class TestAbcXyzSqlParity:
    def test_sql_measures_equal_column_measures(self, spark):
        # r14: string (SQL-text) measures take the single-parse path;
        # it must classify identically to the Column path, fences and
        # decimal widenings included
        import random

        import pyspark.sql.functions as F

        from bigdata_tag_system_spark.operators.features import (
            abc_xyz_classes,
        )

        random.seed(814)
        rows = [(random.randrange(40), random.randrange(6),
                 random.randrange(0, 5000), random.randrange(0, 12))
                for _ in range(600)]
        df = spark.createDataFrame(
            rows, "item long, period int, cents long, qty long")
        col_path = sorted(tuple(r) for r in _abc_xyz_columns(
            df, "item", F.col("cents"), F.col("qty"),
            F.col("period")).collect())
        sql_path = sorted(tuple(r) for r in abc_xyz_classes(
            df, "item", "cents", "qty", "period").collect())
        assert sql_path == col_path


def _abc_xyz_columns(facts, key_col, revenue_cents, qty_col, period_col,
                     abc_fences_bp=(8000, 9500), xyz_fences_pct=(50, 100)):
    """The Column-API build ``abc_xyz_classes`` kept next to its SQL
    text until both became one; the reference its SQL must match."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    a_bp, b_bp = abc_fences_bp
    x_pct, y_pct = xyz_fences_pct
    per_period = facts.groupBy(
        F.col(key_col).alias("_k"),
        period_col.alias("_p")).agg(
        F.sum(revenue_cents).alias("_rev"),
        F.sum(qty_col).alias("_q"))
    per_item = per_period.groupBy("_k").agg(
        F.sum("_rev").alias("rev"),
        F.count(F.lit(1)).alias("_n"),
        F.sum("_q").alias("_sq"),
        F.sum(F.col("_q") * F.col("_q")).alias("_sq2"),
    ).localCheckpoint(eager=False)
    w = Window.orderBy(F.col("rev").desc(), F.col("_k")) \
        .rowsBetween(Window.unboundedPreceding, 0)
    tot = per_item.agg(F.sum("rev").alias("_tot"))
    ranked = per_item.crossJoin(F.broadcast(tot)).select(
        "_k", "rev", "_n", "_sq", "_sq2", "_tot",
        F.sum("rev").over(w).alias("_cum"))
    dcum = F.col("_cum").cast("decimal(38,0)")
    dtot = F.col("_tot").cast("decimal(38,0)")
    dn = F.col("_n").cast("decimal(19,0)")
    dsq = F.col("_sq").cast("decimal(19,0)")
    dsq2 = F.col("_sq2").cast("decimal(19,0)")
    var_num = F.lit(10000).cast("decimal(19,0)") * (dn * dsq2 - dsq * dsq)
    sq_sq = dsq * dsq
    classed = ranked.select(
        "_k", "rev", "_tot",
        F.when(dcum * 10000 <= dtot * a_bp, "A")
        .when(dcum * 10000 <= dtot * b_bp, "B")
        .otherwise("C").alias("abc"),
        F.when(F.col("_sq") <= 0, "Z")
        .when(var_num < F.lit(x_pct * x_pct).cast("decimal(19,0)") * sq_sq,
              "X")
        .when(var_num < F.lit(y_pct * y_pct).cast("decimal(19,0)") * sq_sq,
              "Y")
        .otherwise("Z").alias("xyz"))
    return (
        classed.groupBy("abc", "xyz")
        .agg(F.count(F.lit(1)).alias("n_items"),
             F.sum("rev").alias("revenue_cents"),
             F.expr("(10000 * CAST(sum(rev) AS DECIMAL(38,0))) DIV "
                    "CAST(first(_tot) AS DECIMAL(38,0))")
             .alias("revenue_share_bp"))
        .orderBy("abc", "xyz")
    )
