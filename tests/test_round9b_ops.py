"""Round-9 batch-B operators: mutual information, CUPED, Pareto
frontier (skyline), exact weighted percentiles."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F


class TestMutualInformation:
    def test_perfectly_dependent_feature(self, spark):
        from bigdata_tag_system_spark.operators.features import (
            mutual_information,
        )

        # feature == label → MI = H(label) = ln(2) for a 50/50 split
        df = spark.createDataFrame(
            [("a", 0), ("a", 0), ("b", 1), ("b", 1)],
            "f string, y int")
        out = mutual_information(df, ["f"], "y").collect()[0]
        assert out["mi_nats"] == pytest.approx(math.log(2), abs=1e-6)
        assert out["h_feature"] == pytest.approx(math.log(2), abs=1e-6)
        assert out["nmi"] == pytest.approx(1.0, abs=1e-6)

    def test_independent_feature_has_zero_mi(self, spark):
        from bigdata_tag_system_spark.operators.features import (
            mutual_information,
        )

        # feature ⫫ label (balanced product design) → MI = 0
        rows = [(f, y) for f in ("a", "b") for y in (0, 1)] * 3
        df = spark.createDataFrame(rows, "f string, y int")
        out = mutual_information(df, ["f"], "y").collect()[0]
        assert out["mi_nats"] == pytest.approx(0.0, abs=1e-6)
        assert out["nmi"] == pytest.approx(0.0, abs=1e-6)

    def test_null_is_its_own_state(self, spark):
        from bigdata_tag_system_spark.operators.features import (
            mutual_information,
        )

        # NULL perfectly predicts y=1 → MI equals H(y), not 0
        df = spark.createDataFrame(
            [("a", 0), ("a", 0), (None, 1), (None, 1)],
            "f string, y int")
        out = mutual_information(df, ["f"], "y").collect()[0]
        assert out["mi_nats"] == pytest.approx(math.log(2), abs=1e-6)

    def test_one_scan_for_many_features(self, spark):
        from bigdata_tag_system_spark.operators.features import (
            mutual_information,
        )

        df = spark.createDataFrame(
            [("a", "x", 0), ("b", "x", 1), ("a", "y", 0), ("b", "y", 1)],
            "f1 string, f2 string, y int")
        out = mutual_information(df, ["f1", "f2"], "y")
        rows = {r["feature"]: r for r in out.collect()}
        assert rows["f1"]["mi_nats"] == pytest.approx(
            math.log(2), abs=1e-6)
        assert rows["f2"]["mi_nats"] == pytest.approx(0.0, abs=1e-6)


class TestCuped:
    def test_perfect_covariate_removes_all_variance(self, spark):
        from bigdata_tag_system_spark.operators.features import (
            cuped_adjustment,
        )

        # y = 2x exactly → theta = 2, adjusted variance = 0
        df = spark.createDataFrame(
            [(float(x), 2.0 * x, x % 2) for x in range(1, 9)],
            "x double, y double, arm int")
        out = cuped_adjustment(df).collect()[0]
        assert out["theta"] == pytest.approx(2.0, abs=1e-6)
        assert out["var_adjusted"] == pytest.approx(0.0, abs=1e-4)
        assert out["var_reduction_pct"] == pytest.approx(100.0, abs=1e-3)

    def test_uncorrelated_covariate_changes_nothing(self, spark):
        from bigdata_tag_system_spark.operators.features import (
            cuped_adjustment,
        )

        # x ⫫ y by construction (balanced design) → theta = 0, the
        # adjusted readout IS the raw readout
        rows = [(float(x), float(y), a)
                for x in (0, 1) for y in (0, 10) for a in (0, 1)]
        df = spark.createDataFrame(rows, "x double, y double, arm int")
        out = cuped_adjustment(df).collect()[0]
        assert out["theta"] == pytest.approx(0.0, abs=1e-6)
        assert out["var_adjusted"] == out["var_raw"]
        assert out["diff_adjusted"] == out["diff_raw"]

    def test_arm_difference_preserved_under_balanced_covariate(self, spark):
        from bigdata_tag_system_spark.operators.features import (
            cuped_adjustment,
        )

        # covariate identically distributed across arms → the expected
        # treatment effect survives adjustment (here exactly, since
        # x-patterns mirror across arms): y = x + 5·arm
        rows = [(float(x), float(x) + 5.0 * a, a)
                for x in (1, 2, 3, 4) for a in (0, 1)]
        df = spark.createDataFrame(rows, "x double, y double, arm int")
        out = cuped_adjustment(df).collect()[0]
        assert out["diff_raw"] == pytest.approx(5.0, abs=1e-6)
        assert out["diff_adjusted"] == pytest.approx(5.0, abs=1e-6)
        assert out["var_adjusted"] < out["var_raw"]


class TestParetoFrontier:
    def _front(self, spark, rows):
        from bigdata_tag_system_spark.operators.features import (
            pareto_frontier,
        )

        df = spark.createDataFrame(rows, "id long, x long, y long")
        return {(r["x"], r["y"])
                for r in pareto_frontier(df, "x", "y").collect()}

    def test_textbook_frontier(self, spark):
        # (3,3) dominates (2,2) and (3,1); staircase survives
        rows = [(1, 1, 5), (2, 2, 2), (3, 3, 3), (4, 3, 1), (5, 5, 1)]
        assert self._front(spark, rows) == {(1, 5), (3, 3), (5, 1)}

    def test_equal_points_both_kept(self, spark):
        rows = [(1, 4, 4), (2, 4, 4), (3, 1, 1)]
        out = self._front(spark, rows)
        assert out == {(4, 4)}
        from bigdata_tag_system_spark.operators.features import (
            pareto_frontier,
        )
        df = spark.createDataFrame(rows, "id long, x long, y long")
        assert pareto_frontier(df, "x", "y").count() == 2

    def test_same_x_lower_y_dominated(self, spark):
        # weak dominance within an x-group: (2,5) kills (2,3)
        rows = [(1, 2, 5), (2, 2, 3)]
        assert self._front(spark, rows) == {(2, 5)}

    def test_matches_quadratic_definition(self, spark):
        import itertools
        import random

        rng = random.Random(9)
        rows = [(i, rng.randrange(6), rng.randrange(6))
                for i in range(40)]
        pts = [(x, y) for _, x, y in rows]
        brute = {p for p in pts
                 if not any(q[0] >= p[0] and q[1] >= p[1] and q != p
                            for q in pts)}
        assert self._front(spark, rows) == brute


class TestWeightedPercentiles:
    def test_hand_computed_median(self, spark):
        from bigdata_tag_system_spark.operators.features import (
            weighted_percentiles,
        )

        # weights: 1@10, 3@20, 1@30 → W=5; cum(10)=1 <2.5, cum(20)=4
        # ≥2.5 → p50=20; p90 needs cum ≥4.5 → 30
        df = spark.createDataFrame(
            [("g", 10.0, 1), ("g", 20.0, 3), ("g", 30.0, 1)],
            "g string, v double, w long")
        out = weighted_percentiles(df, "v", "w", "g",
                                   pcts=(50, 90)).collect()[0]
        assert out["p50"] == 20.0 and out["p90"] == 30.0
        assert out["total_weight"] == 5

    def test_unit_weights_match_lower_percentile(self, spark):
        from bigdata_tag_system_spark.operators.features import (
            weighted_percentiles,
        )

        df = spark.createDataFrame(
            [("g", float(v), 1) for v in range(1, 11)],
            "g string, v double, w long")
        out = weighted_percentiles(df, "v", "w", "g",
                                   pcts=(25, 50, 100)).collect()[0]
        # lower convention: smallest v with cum ≥ p% of 10
        assert out["p25"] == 3.0
        assert out["p50"] == 5.0
        assert out["p100"] == 10.0

    def test_duplicate_values_collapse(self, spark):
        from bigdata_tag_system_spark.operators.features import (
            weighted_percentiles,
        )

        # same value split across rows must act as one pooled weight
        df = spark.createDataFrame(
            [("g", 7.0, 2), ("g", 7.0, 2), ("g", 9.0, 1)],
            "g string, v double, w long")
        out = weighted_percentiles(df, "v", "w", "g",
                                   pcts=(50,)).collect()[0]
        assert out["p50"] == 7.0
        assert out["total_weight"] == 5


class TestSesBacktest:
    def test_hand_computed_alpha_half(self, spark):
        from bigdata_tag_system_spark.operators.timeseries import (
            ses_backtest,
        )

        # y = 10,20,10,20 at alpha=.5: s = 10,15,12.5,16.25 →
        # forecasts 10,15,12.5; errors 10,-5,7.5 → MAE 7.5; naive
        # errors 10,-10,10 → MAE 10 → skill 0.25
        df = spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 10.0), (4, 20.0)],
            "t int, y double")
        out = ses_backtest(df, "y", "t", alphas=(0.5,)).collect()[0]
        assert out["n_forecasts"] == 3
        assert out["mae_ses"] == pytest.approx(7.5, abs=1e-9)
        assert out["mae_naive"] == pytest.approx(10.0, abs=1e-9)
        assert out["skill_vs_naive"] == pytest.approx(0.25, abs=1e-9)
        assert out["rmse_ses"] == pytest.approx(
            (181.25 / 3) ** 0.5, abs=1e-4)

    def test_constant_series_forecasts_exactly(self, spark):
        from bigdata_tag_system_spark.operators.timeseries import (
            ses_backtest,
        )

        df = spark.createDataFrame(
            [(t, 7.0) for t in range(1, 8)], "t int, y double")
        out = ses_backtest(df, "y", "t", alphas=(0.3,)).collect()[0]
        assert out["mae_ses"] == 0.0 and out["rmse_ses"] == 0.0

    def test_alpha_one_is_naive(self, spark):
        from bigdata_tag_system_spark.operators.timeseries import (
            ses_backtest,
        )

        # alpha=1 → s_t = y_t → SES degenerates to the naive forecast
        df = spark.createDataFrame(
            [(1, 3.0), (2, 9.0), (3, 1.0), (4, 4.0)], "t int, y double")
        out = ses_backtest(df, "y", "t", alphas=(1.0,)).collect()[0]
        assert out["mae_ses"] == out["mae_naive"]
        assert out["skill_vs_naive"] == 0.0


class TestTruncatedRecall:
    def test_full_dims_recall_is_perfect(self, spark):
        from bigdata_tag_system_spark.operators.embeddings import (
            truncated_recall_report,
        )

        rows = [(i, [float(i), float(10 - i), 1.0, 2.0])
                for i in range(8)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = truncated_recall_report(
            df, [1.0, 1.0, 1.0, 1.0], k=3, dims=4).collect()[0]
        assert out["recall_bp"] == 10000

    def test_adversarial_tail_dims_break_recall(self, spark):
        from bigdata_tag_system_spark.operators.embeddings import (
            truncated_recall_report,
        )

        # leading dims identical everywhere; ONLY the tail separates
        # vectors → the truncated ranking ties on all and falls back
        # to id order, missing the true top unless ids align
        rows = [
            (0, [1.0, 0.0, 1.0, 0.0]),   # query-aligned tail
            (1, [1.0, 0.0, 0.0, 1.0]),
            (2, [1.0, 0.0, 0.0, 1.0]),
            (3, [1.0, 0.0, 1.0, 0.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = truncated_recall_report(
            df, [1.0, 0.0, 1.0, 0.0], k=2, dims=2).collect()[0]
        # exact top-2 = {0, 3}; truncated ties pick {0, 1} → recall 1/2
        assert out["n_hits"] == 1
        assert out["recall_bp"] == 5000


class TestDppJoin:
    def test_plan_carries_dynamic_pruning_subquery(self, spark, sf_dir):
        import __spark_entry__ as e

        df = e._build_queries()["scan_dpp_join"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), (
            "partitioned-fact ⋈ filtered-dim join must plant a DPP "
            "subquery filter on the scan")


class TestArgMinMax:
    def test_struct_ordering_breaks_value_ties(self, spark):
        # two rows share the max value → the struct tie-break must
        # pick the higher event_id for max_by (and the lower for
        # min_by on the min value)
        df = spark.createDataFrame(
            [(1, "a", 5.0, 100), (2, "a", 5.0, 200), (3, "a", 1.0, 300),
             (4, "a", 1.0, 400)],
            "event_id long, event_type string, value double, user_id long")
        out = df.groupBy("event_type").agg(
            F.expr("max_by(event_id, struct(value, event_id))")
            .alias("amax"),
            F.expr("min_by(event_id, struct(value, event_id))")
            .alias("amin")).collect()[0]
        assert out["amax"] == 2   # highest (value, event_id)
        assert out["amin"] == 3   # lowest (value, event_id)


class TestSeasonalOutliers:
    def test_planted_spike_is_the_only_outlier(self, spark):
        from bigdata_tag_system_spark.operators.timeseries import (
            seasonal_outliers,
        )
        import datetime as dt

        # 4 weeks of a clean weekly pattern with one planted spike;
        # every other scored day must flag 0
        base = [10.0, 12.0, 14.0, 16.0, 14.0, 12.0, 10.0]
        rows = []
        for i in range(28):
            v = base[i % 7] + (100.0 if i == 15 else 0.0)
            rows.append((dt.date(2024, 3, 1) + dt.timedelta(days=i), v))
        df = spark.createDataFrame(rows, "day date, x double")
        out = seasonal_outliers(df, "day", "x", period=7,
                                n_sigma=2.0).collect()
        flagged = [r["day"].isoformat() for r in out
                   if r["is_outlier"] == 1]
        assert "2024-03-16" in flagged  # day index 15
        # the spike contaminates its own phase's RMS and the trend
        # windows it touches; everything far from it stays clean
        clean = [r for r in out if abs((r["day"]
                 - dt.date(2024, 3, 16)).days) > 3]
        assert all(r["is_outlier"] == 0 for r in clean)

    def test_pure_seasonal_series_has_no_outliers(self, spark):
        from bigdata_tag_system_spark.operators.timeseries import (
            seasonal_outliers,
        )
        import datetime as dt

        base = [5.0, 9.0, 7.0, 11.0, 7.0, 9.0, 5.0]
        rows = [(dt.date(2024, 3, 1) + dt.timedelta(days=i),
                 base[i % 7]) for i in range(21)]
        df = spark.createDataFrame(rows, "day date, x double")
        out = seasonal_outliers(df, "day", "x", period=7).collect()
        assert len(out) == 15        # 21 days minus 6 edge days
        assert all(r["is_outlier"] == 0 for r in out)
        assert all(abs(r["residual"]) < 1e-6 for r in out)


class TestJackknifeRatio:
    def test_matches_brute_force_replicates(self, spark):
        from bigdata_tag_system_spark.operators.features import (
            jackknife_ratio_se,
        )

        rows = [(u, float(u * 3 + j), 1.0)
                for u in range(1, 6) for j in range(2)]
        df = spark.createDataFrame(rows, "u long, num double, den double")
        out = jackknife_ratio_se(df, "num", "den", "u").collect()[0]

        # brute-force: materialize the 5 leave-one-out replicates
        import collections
        agg = collections.defaultdict(lambda: [0.0, 0.0])
        for u, n, d in rows:
            agg[u][0] += n
            agg[u][1] += d
        sn = sum(v[0] for v in agg.values())
        sd = sum(v[1] for v in agg.values())
        reps = [(sn - v[0]) / (sd - v[1]) for v in agg.values()]
        g = len(reps)
        rbar = sum(reps) / g
        se = ((g - 1) / g * sum((r - rbar) ** 2 for r in reps)) ** 0.5
        assert out["n_units"] == g
        assert out["ratio"] == pytest.approx(sn / sd, abs=1e-6)
        assert out["se_jack"] == pytest.approx(se, abs=1e-6)

    def test_identical_units_give_zero_se(self, spark):
        from bigdata_tag_system_spark.operators.features import (
            jackknife_ratio_se,
        )

        df = spark.createDataFrame(
            [(u, 6.0, 2.0) for u in range(1, 9)],
            "u long, num double, den double")
        out = jackknife_ratio_se(df, "num", "den", "u").collect()[0]
        assert out["ratio"] == 3.0
        assert out["se_jack"] == 0.0


class TestLateDropParity:
    def test_replay_ran_three_batches_and_dropped_late(self, spark, sf_dir):
        import __spark_entry__ as e

        # force the staged replay, then inspect the raw emission log
        e._build_queries()["stream_late_drop_parity"](spark, sf_dir) \
            .collect()
        out_dir = e._memo_dir("stream_late", sf_dir, lambda d: pytest.fail(
            "the replay ran but left no stream_late memo")) + "/out"
        raw = spark.read.parquet(out_dir)
        bids = {r["_bid"] for r in raw.select("_bid").distinct().collect()}
        assert bids == {0, 1, 2}, f"expected 3 micro-batches, got {bids}"
        # batch 2 must emit ONLY the fresh Jan-31 window — a late-copy
        # re-emission would surface as an earlier window at _bid = 2
        b2 = raw.where("_bid = 2").select("window_start").distinct()
        ws = [str(r["window_start"]) for r in b2.collect()]
        assert all(w.startswith("2024-01-31") for w in ws), ws
        # and the positive control actually landed
        assert len(ws) == 1


class TestFellegiSunter:
    def _weights(self, spark, records, pairs):
        from bigdata_tag_system_spark.operators.dedup import (
            fellegi_sunter_weights,
        )

        r = spark.createDataFrame(
            records, "doc_id long, city string, zip string")
        p = spark.createDataFrame(pairs, "id_a long, id_b long")
        return {row["field"]: row for row in fellegi_sunter_weights(
            r, p, fields={"city": F.col("city"), "zip": F.col("zip")}
        ).collect()}

    def test_discriminating_field_gets_positive_agree_weight(self, spark):
        # city agrees on both true matches but is near-unique overall;
        # zip is constant (agrees on everything → zero discrimination)
        records = [(1, "ny", "z"), (2, "ny", "z"),
                   (3, "la", "z"), (4, "sf", "z"),
                   (5, "ch", "z"), (6, "bo", "z")]
        out = self._weights(spark, records, [(1, 2)])
        assert out["city"]["m_bp"] == 10000
        # u(city): only the ny pair agrees → 2·1 / 6·5 = 1/15
        assert out["city"]["u_bp"] == 10000 // 15
        assert out["city"]["weight_agree"] > 2.0
        # constant zip: u = 1 → agreement carries no information; with
        # add-one smoothing on one match pair the weight lands slightly
        # NEGATIVE (m smoothed to 2/3 < u's 31/32), and far below the
        # discriminating field either way
        assert out["zip"]["u_bp"] == 10000
        assert out["zip"]["m_bp"] == 10000
        assert out["zip"]["weight_agree"] < 0.0
        assert (out["city"]["weight_agree"]
                > out["zip"]["weight_agree"] + 2.0)

    def test_null_is_a_matchable_state(self, spark):
        records = [(1, None, "a"), (2, None, "a"),
                   (3, "x", "b"), (4, "y", "c")]
        out = self._weights(spark, records, [(1, 2)])
        # NULL city on both sides of the match pair counts as agreement
        assert out["city"]["m_bp"] == 10000
        # and the NULL state enters the u histogram: 2·1/(4·3) = 1/6
        assert out["city"]["u_bp"] == 10000 // 6

    def test_closed_form_u_matches_brute_random_pairs(self, spark):
        import itertools

        records = [(i, v, "k") for i, v in enumerate(
            ["a", "a", "a", "b", "b", "c", "d", "d", "d", "d"])]
        out = self._weights(spark, records, [(0, 1)])
        pts = [v for _, v, _ in records]
        agree = sum(1 for x, y in itertools.permutations(pts, 2)
                    if x == y)
        total = len(pts) * (len(pts) - 1)
        assert out["city"]["u_bp"] == (10000 * agree) // total


class TestPeriodogram:
    def test_planted_period_dominates(self, spark):
        from bigdata_tag_system_spark.operators.timeseries import (
            periodogram,
        )
        import math

        # pure 5-period sinusoid: power concentrates at period 5
        rows = [(t, 10.0 + 4.0 * math.sin(2 * math.pi * t / 5))
                for t in range(1, 31)]
        df = spark.createDataFrame(rows, "t int, y double")
        out = {r["period"]: r["power"]
               for r in periodogram(df, "y", "t").collect()}
        assert out[5] == max(out.values())
        assert out[5] > 10 * max(v for p, v in out.items() if p != 5)

    def test_constant_series_has_zero_power(self, spark):
        from bigdata_tag_system_spark.operators.timeseries import (
            periodogram,
        )

        df = spark.createDataFrame(
            [(t, 42.0) for t in range(1, 22)], "t int, y double")
        out = periodogram(df, "y", "t").collect()
        assert all(r["power"] == 0.0 for r in out)


class TestTheilSen:
    def test_recovers_clean_slope(self, spark):
        from bigdata_tag_system_spark.operators.timeseries import (
            theil_sen_trend,
        )

        df = spark.createDataFrame(
            [(t, 3.0 * t + 7.0) for t in range(1, 13)],
            "t int, y double")
        out = theil_sen_trend(df, "y", "t").collect()[0]
        assert out["slope"] == 3.0
        assert out["intercept"] == 7.0
        assert out["n_pairs"] == 12 * 11 // 2

    def test_single_wild_day_does_not_move_slope(self, spark):
        from bigdata_tag_system_spark.operators.timeseries import (
            theil_sen_trend,
        )

        rows = [(t, 3.0 * t + 7.0) for t in range(1, 13)]
        rows[5] = (6, 10_000.0)   # one corrupted day
        df = spark.createDataFrame(rows, "t int, y double")
        out = theil_sen_trend(df, "y", "t").collect()[0]
        # median of pairwise slopes shrugs off a lone outlier
        assert out["slope"] == 3.0

    def test_even_count_uses_lower_median(self, spark):
        from bigdata_tag_system_spark.operators.timeseries import (
            theil_sen_trend,
        )

        # 4 points → 6 pair slopes; construct distinct slopes and
        # check the pick is the 3rd smallest (lower convention)
        df = spark.createDataFrame(
            [(1, 0.0), (2, 1.0), (3, 4.0), (4, 9.0)], "t int, y double")
        # slopes: 1,3,5 (adjacent), 2,4 (skip-1), 3 (skip-2)
        # sorted: 1,2,3,3,4,5 → lower median = 3rd = 3
        out = theil_sen_trend(df, "y", "t").collect()[0]
        assert out["slope"] == 3.0


class TestMarkovAttribution:
    def test_hand_computed_chain(self, spark):
        from bigdata_tag_system_spark.operators.features import (
            markov_attribution,
        )
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
        s = dt.timedelta(seconds=60)
        rows = [
            # user 1: click → purchase (one session)
            (1, t0, 1, "click", 0.0, None),
            (2, t0 + s, 1, "purchase", 1.0, None),
            # user 2: view, no conversion
            (3, t0, 2, "view", 0.0, None),
            # user 3: purchase opens the session
            (4, t0, 3, "purchase", 1.0, None),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")
        out = {r["channel"]: r
               for r in markov_attribution(df).collect()}
        # chain: START→{click,view,CONV} each 1/3; click→CONV;
        # view→NULL. p = 2/3; removing click → 1/3 (effect .5);
        # removing view → unchanged (effect 0)
        assert set(out) == {"click", "view"}
        assert out["click"]["p_conv_base"] == pytest.approx(2 / 3, abs=1e-6)
        assert out["click"]["removal_effect"] == pytest.approx(0.5, abs=1e-6)
        assert out["view"]["removal_effect"] == pytest.approx(0.0, abs=1e-6)
        assert out["click"]["attribution_share"] == pytest.approx(
            1.0, abs=1e-6)

    def test_journey_truncates_at_first_conversion(self, spark):
        from bigdata_tag_system_spark.operators.features import (
            markov_attribution,
        )
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
        s = dt.timedelta(seconds=60)
        # purchase FIRST, then a click in the same session: the click
        # is post-conversion noise and must not become a channel
        rows = [
            (1, t0, 1, "purchase", 1.0, None),
            (2, t0 + s, 1, "click", 0.0, None),
            (3, t0, 2, "view", 0.0, None),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")
        out = {r["channel"]: r
               for r in markov_attribution(df).collect()}
        assert set(out) == {"view"}

    def test_gap_splits_sessions(self, spark):
        from bigdata_tag_system_spark.operators.features import (
            markov_attribution,
        )
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
        # click ... 2h gap ... purchase: TWO sessions — the click
        # session never converts, the purchase session is START→CONV,
        # so click earns zero credit
        rows = [
            (1, t0, 1, "click", 0.0, None),
            (2, t0 + dt.timedelta(hours=2), 1, "purchase", 1.0, None),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")
        out = {r["channel"]: r
               for r in markov_attribution(df).collect()}
        assert out["click"]["removal_effect"] == pytest.approx(
            0.0, abs=1e-6)
        assert out["click"]["p_conv_base"] == pytest.approx(0.5, abs=1e-6)

    def test_conv_type_is_plain_text(self, spark):
        # the conversion type enters a spark.sql template as a literal:
        # `{...}` must not read as a frame slot and `${...}` must not be
        # variable-substituted, so it matches only the event holding
        # exactly that text, never the app name it would expand to
        from bigdata_tag_system_spark.operators.features import (
            markov_attribution,
        )
        import datetime as dt

        conv = "${spark.app.name}"
        app = spark.conf.get("spark.app.name")
        t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
        s = dt.timedelta(seconds=60)
        rows = [
            (1, t0, 1, "click", 0.0, None),
            (2, t0 + s, 1, conv, 1.0, None),
            (3, t0, 2, "view", 0.0, None),
            (4, t0 + s, 2, app, 1.0, None),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")
        out = {r["channel"]: r
               for r in markov_attribution(df, conv_type=conv).collect()}
        assert set(out) == {"click", "view", app}
        assert out["click"]["p_conv_base"] == pytest.approx(0.5, abs=1e-6)
        assert out["click"]["removal_effect"] == pytest.approx(1.0, abs=1e-6)
        assert out["view"]["removal_effect"] == pytest.approx(0.0, abs=1e-6)


class TestConformalCoverage:
    def test_hand_computed_quantile_and_coverage(self, spark):
        from bigdata_tag_system_spark.operators.quality import (
            conformal_coverage,
        )

        # force the split with fit_frac fences we control: keys 0..9,
        # knuth hash known — instead pin split by construction: use
        # fit_frac=1.0 minus... simpler: alpha small so k is tiny and
        # hand-checkable on whatever split lands. Use a two-sided
        # design instead: all values equal → every score 0 → q = 0 →
        # coverage must be 100% regardless of the split
        df = spark.createDataFrame(
            [("a", float(7), i) for i in range(40)],
            "g string, v double, k long")
        out = conformal_coverage(df, "v", "g", "k",
                                 alpha_pct=90).collect()[0]
        assert out["q_alpha"] == 0.0
        assert out["coverage_bp"] == 10000

    def test_interval_width_follows_alpha(self, spark):
        from bigdata_tag_system_spark.operators.quality import (
            conformal_coverage,
        )

        # symmetric spread: higher alpha → wider q, never narrower
        rows = [("a", float(v % 21), v) for v in range(400)]
        df = spark.createDataFrame(rows, "g string, v double, k long")
        q50 = conformal_coverage(df, "v", "g", "k",
                                 alpha_pct=50).collect()[0]
        q95 = conformal_coverage(df, "v", "g", "k",
                                 alpha_pct=95).collect()[0]
        assert q95["q_alpha"] >= q50["q_alpha"]
        assert q95["coverage_bp"] >= q50["coverage_bp"]
        # 95% intervals on exchangeable data: coverage near nominal
        assert q95["coverage_bp"] >= 9000

    def test_tiny_fit_split_gives_infinite_interval(self, spark):
        from bigdata_tag_system_spark.operators.quality import (
            conformal_coverage,
        )

        # 2 fit rows at alpha 90: k = ceil(3*0.9) = 3 > n=2 → no
        # finite quantile → null q_alpha, coverage 100% by definition
        rows = [("a", 1.0, 0), ("a", 2.0, 1), ("a", 3.0, 2**31 - 1),
                ("a", 99.0, 2**31 - 7)]
        from bigdata_tag_system_spark.operators.sampling import knuth_hash
        from pyspark.sql import functions as FF
        df = spark.createDataFrame(rows, "g string, v double, k long")
        # verify the fixture actually lands ≥1 row on each side of the
        # 0.8 fence before asserting semantics
        fence = int((2**32) * 0.8)
        sides = df.select((knuth_hash(FF.col("k")) < fence)
                          .alias("fit")).groupBy("fit").count().collect()
        counts = {r["fit"]: r["count"] for r in sides}
        if True in counts and False in counts and counts[True] <= 2:
            out = conformal_coverage(df, "v", "g", "k",
                                     alpha_pct=90).collect()[0]
            assert out["q_alpha"] is None
            assert out["coverage_bp"] == 10000


class TestFollowedBy:
    def test_presence_is_first_before_last(self, spark):
        import datetime as dt

        import __spark_entry__  # noqa: F401 (pattern consistency)
        from pyspark.sql import functions as FF

        # one user-day: view, click, view → patterns present:
        # view→click (first view rn1 < last click rn2),
        # click→view (rn2 < rn3), view→view (rn1 < rn3)
        t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
        rows = [(1, t0, 1, "view"), (2, t0.replace(minute=5), 1, "click"),
                (3, t0.replace(minute=9), 1, "view")]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string")
        w = __import__("pyspark.sql.window", fromlist=["Window"]).Window \
            .partitionBy("user_id", "day").orderBy("ts", "event_id")
        pos = (df.select("user_id", FF.to_date("ts").alias("day"),
                         "event_type", "ts", "event_id")
               .select("user_id", "day", "event_type",
                       FF.row_number().over(w).alias("rn")))
        spans = pos.groupBy("user_id", "day", "event_type").agg(
            FF.min("rn").alias("first_rn"), FF.max("rn").alias("last_rn"))
        a = spans.select("user_id", "day",
                         FF.col("event_type").alias("a"),
                         FF.col("first_rn").alias("fa"))
        b = spans.select("user_id", "day",
                         FF.col("event_type").alias("b"),
                         FF.col("last_rn").alias("lb"))
        pat = {(r["a"], r["b"]) for r in
               a.join(b, ["user_id", "day"])
               .where(FF.col("fa") < FF.col("lb")).collect()}
        assert pat == {("view", "click"), ("click", "view"),
                       ("view", "view")}


class TestNelsonAalen:
    def test_hazard_dominates_km_survival(self, spark, sf_dir):
        # exp(-H_NA) >= S_KM pointwise (discrete-time inequality):
        # check on the real catalog outputs at sf0.001
        import __spark_entry__ as e

        q = e._build_queries()
        km = {r["life_days"]: r["survival"]
              for r in q["events_survival_km"](spark, sf_dir).collect()}
        na = {r["life_days"]: r["surv_na"]
              for r in q["events_hazard_na"](spark, sf_dir).collect()}
        assert set(km) == set(na)
        for d in km:
            assert na[d] >= km[d] - 1e-9


class TestMmrRerank:
    def _emb(self, spark, rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>")

    def test_redundant_near_dup_is_deferred(self, spark):
        from bigdata_tag_system_spark.operators.similarity import (
            mmr_rerank,
        )

        # two near-identical highly-relevant vectors + one mildly
        # relevant near-orthogonal one: pure top-2 takes the twins
        # (the twin's redundancy ≈ its relevance, so its MMR score
        # collapses to ~0); MMR takes one twin then the diverse vector
        rows = [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.99, 0.0, 0.04]),
            (3, [0.1, 1.0, 0.2]),
        ]
        # query deliberately distinct from every candidate — a query
        # equal to a stored vector makes redundancy-with-it identical
        # to relevance, collapsing every MMR score to an exact tie
        out = mmr_rerank(self._emb(spark, rows), [1.0, 0.1, 0.0],
                         k=2, pool=3, lam=0.5).collect()
        picked = [r["vec_id"] for r in out]
        assert picked[0] == 1          # most relevant first
        assert picked[1] == 3          # diversity beats the near-dup

    def test_lambda_one_is_pure_relevance(self, spark):
        from bigdata_tag_system_spark.operators.similarity import (
            mmr_rerank,
        )

        rows = [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.99, 0.0, 0.04]),
            (3, [0.1, 1.0, 0.2]),
        ]
        out = mmr_rerank(self._emb(spark, rows), [1.0, 0.1, 0.0],
                         k=3, pool=3, lam=1.0).collect()
        # λ=1 → redundancy term vanishes → plain cosine order
        assert [r["vec_id"] for r in out] == [1, 2, 3]
        assert [r["rank"] for r in out] == [1, 2, 3]

    def test_k_capped_by_pool(self, spark):
        from bigdata_tag_system_spark.operators.similarity import (
            mmr_rerank,
        )

        rows = [(1, [1.0, 0.0]), (2, [0.5, 0.5])]
        out = mmr_rerank(self._emb(spark, rows), [1.0, 0.0],
                         k=10, pool=16).collect()
        assert len(out) == 2


class TestModularity:
    def _mod(self, spark, edges, labels):
        from bigdata_tag_system_spark.operators.graph import modularity

        e = spark.createDataFrame(edges, "src long, dst long")
        l = spark.createDataFrame(labels, "node long, label long")
        return modularity(e, l).collect()[0]

    def test_two_clean_cliques(self, spark):
        # two triangles, no cross edges, labeled by clique:
        # m=6, each community: e_c=3, D_c=6 → Q = 2*(3/6 - (6/12)^2)
        # = 2*(0.5 - 0.25) = 0.5
        edges = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6)]
        labels = [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4)]
        out = self._mod(spark, edges, labels)
        assert out["modularity"] == pytest.approx(0.5, abs=1e-9)
        assert out["n_communities"] == 2
        assert out["intra_edges"] == 6

    def test_single_community_is_zero(self, spark):
        # everything in one community: Q = m/m - (2m/2m)^2 = 0 exactly
        edges = [(1, 2), (2, 3), (3, 4), (4, 1)]
        labels = [(n, 1) for n in (1, 2, 3, 4)]
        out = self._mod(spark, edges, labels)
        assert out["modularity"] == 0.0

    def test_adversarial_split_is_negative(self, spark):
        # labels that cut ACROSS the two cliques: worse than random
        edges = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6)]
        labels = [(1, 1), (2, 2), (3, 1), (4, 2), (5, 1), (6, 2)]
        out = self._mod(spark, edges, labels)
        assert out["modularity"] < 0.0


class TestSrmCheck:
    def test_balanced_and_skewed(self, spark):
        import __spark_entry__ as e
        from pyspark.sql import functions as FF

        # re-derive the statistic by hand from whatever the table
        # yields: chi² over the two arm counts vs 50/50
        q = e._build_queries()["stats_srm_check"]
        out = q(spark, "/root/testdata/sf0.001").collect()[0]
        n0, n1 = out["n_control"], out["n_treatment"]
        t = n0 + n1
        chi = sum((n - t / 2) ** 2 / (t / 2) for n in (n0, n1))
        assert out["chi_square"] == pytest.approx(chi, abs=1e-6)
        assert out["srm_flag"] == int(chi > 3.841)


class TestIdfWeightedRescore:
    def test_boilerplate_discount(self, spark):
        from bigdata_tag_system_spark.operators.dedup import (
            idf_weighted_rescore,
        )

        # docs 1 & 2 share only the boilerplate prefix every doc has;
        # docs 3 & 4 share a rare tail. Plain Jaccard scores the two
        # pairs identically; IDF weighting must rank the rare-content
        # pair strictly higher.
        # the boilerplate must appear in EVERY doc to be cheap (df=N);
        # docs 3/4 additionally share a rare (df=2) content run
        boiler = "terms of service apply to all"
        docs = spark.createDataFrame(
            [(1, f"{boiler} alpha beta gamma"),
             (2, f"{boiler} delta epsilon zeta"),
             (3, f"{boiler} quantum flux rare one"),
             (4, f"{boiler} quantum flux rare two")],
            "doc_id long, text string")
        pairs = spark.createDataFrame(
            [(1, 2), (3, 4)], "id_a long, id_b long")
        out = {(r["id_a"], r["id_b"]): r
               for r in idf_weighted_rescore(docs, pairs).collect()}
        assert out[(3, 4)]["wjaccard"] > out[(1, 2)]["wjaccard"]
        # the boilerplate-only pair must be discounted BELOW its raw
        # Jaccard; the rare-content pair must not be
        assert out[(1, 2)]["wjaccard"] < out[(1, 2)]["jaccard"]

    def test_identical_docs_score_one(self, spark):
        from bigdata_tag_system_spark.operators.dedup import (
            idf_weighted_rescore,
        )

        docs = spark.createDataFrame(
            [(1, "the same exact words here"),
             (2, "the same exact words here")],
            "doc_id long, text string")
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        out = idf_weighted_rescore(docs, pairs).collect()[0]
        assert out["jaccard"] == 1.0
        assert out["wjaccard"] == 1.0
        assert out["flipped"] == 0


class TestCoverageSelect:
    def test_greedy_picks_maximal_marginal_cover(self, spark):
        from bigdata_tag_system_spark.operators.sampling import (
            coverage_select,
        )

        # doc 1 covers a big but overlapping set with doc 2; doc 3 is
        # small but disjoint — after picking 1, greedy must prefer 3
        # (gain 2) over 2 (gain 1, mostly redundant with 1)
        docs = spark.createDataFrame(
            [(1, "a b c d e f g h"),          # 6 shingles
             (2, "a b c d e f g z"),          # 6, overlaps 1 heavily
             (3, "p q r s t")],               # 3, disjoint
            "doc_id long, text string")
        out = coverage_select(docs, k=2, pool=10).collect()
        assert [r["doc_id"] for r in out] == [1, 3]
        assert out[0]["gain"] == 6
        assert out[1]["gain"] == 3
        assert out[1]["covered_total"] == 9

    def test_total_is_running_sum_of_gains(self, spark):
        from bigdata_tag_system_spark.operators.sampling import (
            coverage_select,
        )

        docs = spark.createDataFrame(
            [(i, f"w{i} x{i} y{i} z{i} common tail here")
             for i in range(1, 7)],
            "doc_id long, text string")
        out = coverage_select(docs, k=4, pool=6).collect()
        run = 0
        for r in out:
            run += r["gain"]
            assert r["covered_total"] == run

    def test_matches_brute_force_greedy(self, spark):
        import random

        from bigdata_tag_system_spark.operators.sampling import (
            coverage_select,
        )

        rng = random.Random(17)
        vocab = [f"tok{i}" for i in range(12)]
        docs = [(i, " ".join(rng.choice(vocab) for _ in range(8)))
                for i in range(1, 9)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = [(r["doc_id"], r["gain"])
               for r in coverage_select(df, k=3, pool=8).collect()]

        # brute-force model with the same shingle definition
        def shingles(t):
            toks = t.split()
            return {" ".join(toks[i:i + 3])
                    for i in range(max(len(toks) - 2, 0) + 0)} \
                if len(toks) >= 3 else set()

        sets = {i: shingles(t) for i, t in docs}
        pool = sorted(sets, key=lambda i: (-len(sets[i]), i))[:8]
        covered, picks = set(), []
        for _ in range(3):
            rem = [i for i in pool if i not in [p for p, _ in picks]]
            best = min(rem, key=lambda i: (-len(sets[i] - covered), i))
            picks.append((best, len(sets[best] - covered)))
            covered |= sets[best]
        assert out == picks


class TestGcOrphans:
    def test_sweeps_orphans_spares_manifest_and_inflight(
            self, spark, tmp_path):
        import os

        from bigdata_tag_system_spark.sources.versioned import (
            gc_orphans, history, read_version, write_version,
        )

        store = str(tmp_path / "vs_gc")
        write_version(spark.range(3).toDF("k"), store)
        write_version(spark.range(5).toDF("k"), store)
        # plant: an unreachable orphan (v9 — not current+1, so swept
        # regardless of age), a FRESH in-flight slot (v3 = current+1,
        # young mtime => presumed live writer), and a non-snapshot dir
        os.makedirs(os.path.join(store, "v9"))
        os.makedirs(os.path.join(store, "v3"))
        os.makedirs(os.path.join(store, "not_a_version"))

        assert gc_orphans(store) == ["v9"]
        # manifest-named versions untouched and readable
        assert history(store) == [1, 2]
        assert read_version(spark, store, 1).count() == 3
        assert read_version(spark, store, 2).count() == 5
        # the fresh in-flight slot and unrelated dirs survive
        assert os.path.isdir(os.path.join(store, "v3"))
        assert os.path.isdir(os.path.join(store, "not_a_version"))
        # idempotent
        assert gc_orphans(store) == []

    def test_crashed_inflight_slot_reclaimed_and_store_unwedged(
            self, spark, tmp_path):
        import os
        import time

        from bigdata_tag_system_spark.sources.versioned import (
            gc_orphans, history, write_version,
        )

        store = str(tmp_path / "vs_gc_crash")
        write_version(spark.range(2).toDF("k"), store)
        write_version(spark.range(4).toDF("k"), store)
        # model a CRASH mid-write at v3 = current+1: partial snapshot
        # whose mtimes are older than the in-flight grace window —
        # this is the ONLY slot the write protocol can actually leak,
        # and while it exists write_version is wedged (errorifexists)
        crash = os.path.join(store, "v3")
        os.makedirs(crash)
        with open(os.path.join(crash, "part-00000.parquet"), "wb") as f:
            f.write(b"torn")
        old = time.time() - 7200
        os.utime(os.path.join(crash, "part-00000.parquet"), (old, old))
        os.utime(crash, (old, old))

        # wedged before GC
        with pytest.raises(Exception):
            write_version(spark.range(6).toDF("k"), store)
        # a fresh-looking crash dir is still spared (can't be told
        # apart from a live writer)...
        assert gc_orphans(store, min_age_seconds=10 ** 9) == []
        # ...but past the age threshold it is reclaimed
        assert gc_orphans(store, min_age_seconds=3600) == ["v3"]
        # and the store is un-wedged: the next write lands as v3
        assert write_version(spark.range(6).toDF("k"), store) == 3
        assert history(store) == [1, 2, 3]

    def test_post_vacuum_orphans_are_not_recreated_targets(
            self, spark, tmp_path):
        from bigdata_tag_system_spark.sources.versioned import (
            gc_orphans, vacuum, write_version,
        )

        store = str(tmp_path / "vs_gc2")
        for i in range(3):
            write_version(spark.range(i + 1).toDF("k"), store)
        vacuum(store, keep_last=1)
        # vacuum already removed the dirs; gc finds nothing stale
        assert gc_orphans(store) == []


class TestDerivedRules:
    def test_second_layer_sees_first_layer_output(self, spark, sf_dir):
        import __spark_entry__ as e

        out = e._build_queries()["tag_derived_rules"](spark, sf_dir)
        rows = [(r["user_id"], r["tag_id"]) for r in out.collect()]
        by_tag = {}
        for u, t in rows:
            by_tag.setdefault(t, set()).add(u)

        # cross-check each layer-2 tag against an independent layer-1
        # derivation through the public engine API
        from bigdata_tag_system_spark.operators.tagging import TagEngine
        from bigdata_tag_system_spark.rules.model import load_rules
        from pyspark.sql import functions as FF

        facts = e._t(spark, sf_dir, "customer") \
            .withColumnRenamed("c_custkey", "user_id")
        eng = TagEngine(load_rules(e._FLAGSHIP_RULES), as_of=e.AS_OF,
                        run_ts=f"{e.AS_OF}T00:00:00")
        asg = eng.assignments(facts).collect()
        tags = {}
        for r in asg:
            tags.setdefault(r["user_id"], set()).add(r["tag_id"])
        all_users = {r["user_id"]
                     for r in facts.select("user_id").collect()}
        whale = {u for u, s in tags.items() if {1, 2} <= s}
        multi = {u for u, s in tags.items() if len(s) >= 2}
        untagged = all_users - set(tags)
        assert by_tag.get(101, set()) == whale
        assert by_tag.get(102, set()) == multi
        assert by_tag.get(103, set()) == untagged


class TestMannWhitney:
    def test_matches_brute_force_u(self, spark, sf_dir):
        import __spark_entry__ as e

        out = e._build_queries()["stats_mann_whitney"](
            spark, sf_dir).collect()[0]

        # brute-force U from the raw values (pairwise definition)
        rows = e._t(spark, sf_dir, "events").select(
            "user_id", "value").collect()
        a = [round(r["value"] * 100) for r in rows
             if r["user_id"] % 2 == 0]
        b = [round(r["value"] * 100) for r in rows
             if r["user_id"] % 2 == 1]
        b_sorted = sorted(b)
        import bisect

        u2 = 0
        for x in a:
            lt = bisect.bisect_left(b_sorted, x)
            eq = bisect.bisect_right(b_sorted, x) - lt
            u2 += 2 * lt + eq
        assert out["u2"] == u2
        assert out["n_control"] == len(a)
        assert out["n_treatment"] == len(b)

    def test_identical_distributions_z_near_zero(self, spark):
        from pyspark.sql import functions as FF
        import __spark_entry__ as e

        # both arms drawn from the same explicit multiset → U2 exactly
        # equals its null expectation → z = 0
        rows = [(i, float(v)) for i, v in enumerate(
            [1, 2, 3, 4, 5] * 4)]
        df = spark.createDataFrame(rows, "user_id long, value double")
        df.createOrReplaceTempView("_mw_probe")
        # reuse the entry logic inline on a balanced mirror design
        ev = df.select(
            FF.round(FF.col("value") * 100).cast("bigint").alias("v"),
            (FF.pmod(FF.col("user_id"), FF.lit(2)) == 1).cast("int")
            .alias("arm"))
        per_v = ev.groupBy("v").agg(
            FF.sum(FF.when(FF.col("arm") == 0, 1).otherwise(0))
            .alias("na"),
            FF.sum(FF.when(FF.col("arm") == 1, 1).otherwise(0))
            .alias("nb"))
        from pyspark.sql import Window
        w = (Window.orderBy("v")
             .rowsBetween(Window.unboundedPreceding, -1))
        cum = per_v.select(
            "na", "nb",
            FF.coalesce(FF.sum("nb").over(w), FF.lit(0)).alias("cumb"))
        u2 = cum.agg(FF.sum(
            FF.col("na") * (2 * FF.col("cumb") + FF.col("nb")))
        ).collect()[0][0]
        n1 = sum(1 for i, _ in rows if i % 2 == 0)
        n2 = len(rows) - n1
        assert u2 == n1 * n2  # 2U = 2·E[U] = n1·n2
