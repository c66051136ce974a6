"""Round-3 operators: event-sequence analytics (funnel, retention,
transitions), triangle counting, similarity joins, robust stats, snapshot
diff, char entropy."""

import math
from datetime import datetime

import pytest
from pyspark.sql import functions as F


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    )


TS = datetime(2024, 1, 1, 12, 0, 0)


def _t(minutes):
    return datetime(2024, 1, 1, 12, minutes, 0)


class TestFunnel:
    def test_ordered_completion(self, spark):
        from gridmet_etl_spark.operators.funnel import funnel_conversion

        e = _events(
            spark,
            [
                # u1 completes all 3 in order
                (1, 1, "view", _t(0), 1.0),
                (2, 1, "click", _t(1), 1.0),
                (3, 1, "purchase", _t(2), 1.0),
                # u2: click BEFORE view -> stops at view
                (4, 2, "click", _t(0), 1.0),
                (5, 2, "view", _t(1), 1.0),
                (6, 2, "purchase", _t(2), 1.0),  # no click after view
                # u3: view only
                (7, 3, "view", _t(0), 1.0),
            ],
        )
        out = {
            r["step_name"]: r["n_users"]
            for r in funnel_conversion(e, ["view", "click", "purchase"]).collect()
        }
        assert out == {"view": 3, "click": 1, "purchase": 1}

    def test_strictly_after(self, spark):
        from gridmet_etl_spark.operators.funnel import funnel_conversion

        e = _events(
            spark,
            [(1, 1, "view", _t(0), 1.0), (2, 1, "click", _t(0), 1.0)],
        )
        out = {
            r["step_name"]: r["n_users"]
            for r in funnel_conversion(e, ["view", "click"]).collect()
        }
        assert out == {"view": 1, "click": 0}


class TestRetention:
    def test_triangle(self, spark):
        from gridmet_etl_spark.operators.funnel import retention_cohorts

        e = _events(
            spark,
            [
                # u1 first week W0 (Mon 2024-01-01), active W0 and W2
                (1, 1, "view", datetime(2024, 1, 2), 1.0),
                (2, 1, "view", datetime(2024, 1, 16), 1.0),
                # u2 first week W1
                (3, 2, "view", datetime(2024, 1, 10), 1.0),
            ],
        )
        rows = {
            (str(r["cohort_week"]), r["week_offset"]): r["n_users"]
            for r in retention_cohorts(e).collect()
        }
        assert rows == {
            ("2024-01-01", 0): 1,
            ("2024-01-01", 2): 1,
            ("2024-01-08", 0): 1,
        }


class TestTransitions:
    def test_probabilities_row_normalize(self, spark):
        from gridmet_etl_spark.operators.funnel import event_transitions

        e = _events(
            spark,
            [
                (1, 1, "a", _t(0), 1.0),
                (2, 1, "b", _t(1), 1.0),
                (3, 1, "a", _t(2), 1.0),
                (4, 1, "c", _t(3), 1.0),
                (5, 2, "a", _t(0), 1.0),
                (6, 2, "b", _t(1), 1.0),
            ],
        )
        rows = {(r["from_type"], r["to_type"]): (r["n"], r["p"]) for r in event_transitions(e).collect()}
        assert rows[("a", "b")] == (2, round(2 / 3, 6))
        assert rows[("a", "c")] == (1, round(1 / 3, 6))
        assert rows[("b", "a")] == (1, 1.0)
        # per-source probabilities sum to 1
        sums = {}
        for (f_, _), (_, p) in rows.items():
            sums[f_] = sums.get(f_, 0.0) + p
        for s in sums.values():
            assert abs(s - 1.0) < 1e-5


class TestTriangles:
    def test_k4_plus_edge(self, spark):
        from gridmet_etl_spark.operators.graph import triangle_count

        k4 = [(a, b) for a in "wxyz" for b in "wxyz" if a < b]
        edges = spark.createDataFrame(
            [(f"n{a}", f"n{b}") for a, b in k4] + [("p", "q"), ("q", "p")],
            "src string, dst string",
        )
        out = {r["node"]: r["n_triangles"] for r in triangle_count(edges).collect()}
        # K4: each vertex sits in C(3,2)=3 triangles; p,q in none
        assert out == {"nw": 3, "nx": 3, "ny": 3, "nz": 3}

    def test_direction_and_dups_ignored(self, spark):
        from gridmet_etl_spark.operators.graph import triangle_count

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"), ("a", "c")],
            "src string, dst string",
        )
        out = {r["node"]: r["n_triangles"] for r in triangle_count(edges).collect()}
        assert out == {"a": 1, "b": 1, "c": 1}


class TestJaccardJoin:
    def test_matches_brute_force(self, spark):
        from gridmet_etl_spark.operators.simjoin import jaccard_join

        docs = spark.createDataFrame(
            [
                (1, "red green blue"),
                (2, "red green blue yellow"),
                (3, "red green blue"),
                (4, "cyan magenta"),
                (5, "cyan magenta black white gray"),
            ],
            "doc_id long, text string",
        )
        out = {(r["a"], r["b"]): r["jaccard"] for r in jaccard_join(docs, 0.5).collect()}
        # brute force over distinct token sets
        sets = {1: {"red", "green", "blue"}, 2: {"red", "green", "blue", "yellow"},
                3: {"red", "green", "blue"}, 4: {"cyan", "magenta"},
                5: {"cyan", "magenta", "black", "white", "gray"}}
        expect = {}
        ids = sorted(sets)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if j >= 0.5:
                    expect[(a, b)] = round(j, 6)
        assert out == expect
        assert (1, 3) in out and out[(1, 3)] == 1.0

    def test_prefix_filter_lossless_on_fixture(self, spark, fixdir):
        """Recall proof on real-ish data: prefix-filtered result == brute
        force (crossJoin) on a 60-doc slice."""
        import os

        from gridmet_etl_spark.operators.simjoin import _token_sets, jaccard_join

        docs = (
            spark.read.parquet(os.path.join(fixdir, "webpages.parquet"))
            .select(F.col("page_id").alias("doc_id"), "text")
            .limit(60)
        )
        got = {(r["a"], r["b"]) for r in jaccard_join(docs, 0.3).collect()}
        sets = _token_sets(docs, "doc_id", "text")
        a = sets.select(F.col("id").alias("a"), F.col("s").alias("sa"))
        b = sets.select(F.col("id").alias("b"), F.col("s").alias("sb"))
        inter = F.size(F.array_intersect("sa", "sb")).cast("double")
        union = F.size("sa") + F.size("sb") - F.size(F.array_intersect("sa", "sb"))
        brute = {
            (r["a"], r["b"])
            for r in a.crossJoin(b)
            .where(F.col("a") < F.col("b"))
            .where(inter / union >= 0.3)
            .collect()
        }
        assert got == brute


class TestFuzzyJoin:
    def test_blocked_levenshtein(self, spark):
        from gridmet_etl_spark.operators.simjoin import fuzzy_join

        df = spark.createDataFrame(
            [
                (1, "B1", "red widget"),
                (2, "B1", "red widgit"),   # dist 1
                (3, "B1", "blue bolt"),    # far
                (4, "B2", "red widget"),   # other block: excluded
            ],
            "pk long, brand string, name string",
        )
        out = [
            (r["a_id"], r["b_id"], r["dist"])
            for r in fuzzy_join(df, df, "brand", "name", 2, "pk").collect()
        ]
        assert out == [(1, 2, 1)]


class TestRobustStats:
    def test_mad_flags_outlier(self, spark):
        from gridmet_etl_spark.operators.normalize import mad_outliers

        vals = [float(x) for x in [10, 11, 12, 13, 14, 1000]]
        df = spark.createDataFrame([("g", v) for v in vals], "var string, value double")
        row = mad_outliers(df, keys=("var",), value_col="value").collect()[0]
        assert row["n"] == 6
        assert row["n_outliers"] == 1
        assert row["med"] == 12.5
        # MAD of |v-12.5| = median(2.5,1.5,.5,.5,1.5,987.5) = 1.5
        assert row["mad"] == 1.5

    def test_ntile_deterministic(self, spark):
        from gridmet_etl_spark.operators.normalize import ntile_bins

        df = spark.createDataFrame(
            [(i, float(i)) for i in range(8)], "id long, v double"
        )
        rows = {r["bin"]: (r["n"], r["lo"], r["hi"]) for r in ntile_bins(df, "v", "id", 4).collect()}
        assert rows == {1: (2, 0.0, 1.0), 2: (2, 2.0, 3.0), 3: (2, 4.0, 5.0), 4: (2, 6.0, 7.0)}

    def test_percentile_cut_rank_membership(self, spark):
        from gridmet_etl_spark.operators.quality import percentile_cut

        df = spark.createDataFrame(
            [(i, "s", i * 10) for i in range(1, 6)] + [(9, "t", 5)],
            "doc_id long, source string, n_chars long",
        )
        out = {(r["doc_id"], r["source"]) for r in percentile_cut(df, cut=0.75).collect()}
        # pr for n=5: (k-1)/4 -> 0.75 at 4th, 1.0 at 5th; single-row group pr=0
        assert out == {(4, "s"), (5, "s")}


class TestCharEntropy:
    @pytest.mark.parametrize(
        "text,expect",
        [("aaaa", 0.0), ("ab", math.log(2)), ("abab", math.log(2)), ("abcd", math.log(4))],
    )
    def test_known_values(self, spark, text, expect):
        from gridmet_etl_spark.operators.textops import char_entropy

        df = spark.createDataFrame([(text,)], "text string")
        got = df.select(char_entropy("text").alias("h")).collect()[0]["h"]
        assert abs(got - expect) < 1e-9

    def test_empty_is_null(self, spark):
        from gridmet_etl_spark.operators.textops import char_entropy

        df = spark.createDataFrame([("",)], "text string")
        assert df.select(char_entropy("text").alias("h")).collect()[0]["h"] is None


class TestSnapshotDiff:
    def test_classes(self, spark):
        from gridmet_etl_spark.operators.merge import snapshot_diff

        old = spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0), (4, None, 4.0)],
            "k long, s string, v double",
        )
        new = spark.createDataFrame(
            [(2, "b", 2.0), (3, "CHANGED", 3.0), (4, "now-set", 4.0), (5, "new", 5.0)],
            "k long, s string, v double",
        )
        out = {r["k"]: r["change"] for r in snapshot_diff(old, new, ["k"]).collect()}
        # key 2 unchanged -> absent; NULL -> value transition visible
        assert out == {1: "removed", 3: "changed", 4: "changed", 5: "added"}


class TestCoarsenZorderMedia:
    def test_zorder_known_values(self, spark):
        from gridmet_etl_spark.operators.scale import zorder_key

        df = spark.createDataFrame(
            [(0, 0), (1, 0), (0, 1), (1, 1), (3, 5)], "i int, j int"
        )
        out = {(r["i"], r["j"]): r["z"] for r in df.select("i", "j", zorder_key("i", "j").alias("z")).collect()}
        # interleave: i bits at even positions, j bits at odd
        assert out[(0, 0)] == 0
        assert out[(1, 0)] == 1
        assert out[(0, 1)] == 2
        assert out[(1, 1)] == 3
        # i=3 (11b) -> 0b0101; j=5 (101b) -> 0b100010; total 0b100111 = 39
        assert out[(3, 5)] == 39

    def test_zorder_locality(self, spark):
        """Adjacent cells in a 2x2 block land in one 4-key run."""
        from gridmet_etl_spark.operators.scale import zorder_key

        df = spark.createDataFrame(
            [(i, j) for i in range(8) for j in range(8)], "i int, j int"
        )
        rows = df.select("i", "j", zorder_key("i", "j").alias("z")).collect()
        # z // 4 is constant within each 2x2 block (and distinct across
        # blocks, since the 64 keys are a permutation of 0..63)
        by_block = {}
        for r in rows:
            by_block.setdefault((r["i"] // 2, r["j"] // 2), set()).add(r["z"] // 4)
        assert all(len(v) == 1 for v in by_block.values())

    def test_media_dedup_keeps_lowest_id(self, spark):
        from gridmet_etl_spark.operators.multimodal import media_dedup

        df = spark.createDataFrame(
            [
                (3, "image", bytearray(b"AAA")),
                (1, "image", bytearray(b"AAA")),
                (2, "audio", bytearray(b"BBB")),
            ],
            "media_id long, kind string, payload binary",
        )
        out = {r["media_id"]: r["n_copies"] for r in media_dedup(df).collect()}
        assert out == {1: 2, 2: 1}


class TestFocalTopk:
    def test_topk_per_group(self, spark):
        from gridmet_etl_spark.operators.sampling import topk_per_group

        df = spark.createDataFrame(
            [(1, "a", 10), (2, "a", 30), (3, "a", 20), (4, "b", 5), (5, "a", 30)],
            "doc_id long, source string, n_chars long",
        )
        out = [(r["doc_id"], r["rank"]) for r in
               topk_per_group(df, ("source",), "n_chars", "doc_id", k=2)
               .orderBy("source", "rank").collect()]
        # ties on 30 break toward lower doc_id
        assert out == [(2, 1), (5, 2), (4, 1)]


class TestTrendCorr:
    def test_trend_slope_exact_line(self, spark):
        from gridmet_etl_spark.operators.timeseries import trend_slope

        rows = [("t", 0, 0, f"2024-01-0{d}", 10.0 + 2.0 * d) for d in range(1, 8)]
        df = spark.createDataFrame(rows, "var string, i int, j int, time string, value double") \
            .withColumn("time", F.to_date("time"))
        r = trend_slope(df).collect()[0]
        assert r["slope"] == 2.0 and r["r"] == 1.0 and r["n_obs"] == 7

    def test_trend_constant_series_null_r(self, spark):
        from gridmet_etl_spark.operators.timeseries import trend_slope

        rows = [("t", 0, 0, f"2024-01-0{d}", 5.0) for d in range(1, 5)]
        df = spark.createDataFrame(rows, "var string, i int, j int, time string, value double") \
            .withColumn("time", F.to_date("time"))
        r = trend_slope(df).collect()[0]
        assert r["slope"] == 0.0 and r["r"] is None

    def test_cross_correlation_sign(self, spark):
        from gridmet_etl_spark.operators.timeseries import cross_correlation

        rows = []
        for d in range(1, 6):
            rows.append(("a", 0, 0, f"2024-01-0{d}", float(d)))
            rows.append(("b", 0, 0, f"2024-01-0{d}", float(-2 * d)))
        df = spark.createDataFrame(rows, "var string, i int, j int, time string, value double") \
            .withColumn("time", F.to_date("time"))
        r = cross_correlation(df, "a", "b").collect()[0]
        assert r["r"] == -1.0 and r["n_obs"] == 5


class TestDriftReadability:
    def test_token_drift_direction(self, spark):
        from gridmet_etl_spark.operators.textops import token_drift

        docs = spark.createDataFrame(
            [(1, "a", "alpha alpha beta"), (2, "a", "alpha gamma"),
             (3, "b", "delta delta beta"), (4, "b", "delta gamma")],
            "doc_id long, grp string, text string",
        )
        out = {r["token"]: r for r in
               token_drift(docs, F.col("grp") == "a", k=10).collect()}
        assert out["alpha"]["delta"] > 0 and out["alpha"]["n_a"] == 3
        assert out["delta"]["delta"] < 0 and out["delta"]["n_b"] == 3
        # shared tokens drift less than exclusive ones
        assert abs(out["beta"]["delta"]) < abs(out["alpha"]["delta"])

    def test_flesch_simple_vs_polysyllabic(self, spark):
        from gridmet_etl_spark.operators.textops import flesch_reading_ease

        df = spark.createDataFrame(
            [(1, "the cat sat. the dog ran."),
             (2, "extraordinarily incomprehensible multidimensionality consideration")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r["f"] for r in
               df.select("doc_id", flesch_reading_ease("text").alias("f")).collect()}
        assert out[1] > 80          # short monosyllabic sentences read easy
        assert out[2] < out[1] - 50  # long polysyllabic one-sentence text reads hard


class TestDegreeDays:
    def test_hdd_cdd(self, spark):
        from gridmet_etl_spark.operators.timeseries import degree_days

        # day 1: mean (30+10)/2 = 20C -> CDD 1.7; day 2: mean 10C -> HDD 8.3
        rows = [
            ("tmmx", 0, 0, "2024-01-01", 273.15 + 30.0),
            ("tmmn", 0, 0, "2024-01-01", 273.15 + 10.0),
            ("tmmx", 0, 0, "2024-01-02", 273.15 + 15.0),
            ("tmmn", 0, 0, "2024-01-02", 273.15 + 5.0),
        ]
        df = spark.createDataFrame(
            rows, "var string, i int, j int, time string, value double"
        ).withColumn("time", F.to_date("time"))
        r = degree_days(df).collect()[0]
        assert r["n_days"] == 2
        assert abs(r["cdd"] - 1.7) < 1e-6
        assert abs(r["hdd"] - 8.3) < 1e-6


class TestSaltedJoinSetOps:
    def test_salted_join_equals_plain(self, spark):
        from gridmet_etl_spark.operators.scale import salted_join

        fact = spark.createDataFrame(
            [(i % 3, float(i)) for i in range(100)], "k long, v double"
        )
        dim = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k long, tag string")
        got = salted_join(fact, dim, "k").groupBy("k", "tag").agg(
            F.count("*").alias("n"), F.sum("v").alias("s")
        )
        plain = fact.join(dim, "k").groupBy("k", "tag").agg(
            F.count("*").alias("n"), F.sum("v").alias("s")
        )
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, plain.collect()))

    def test_salted_join_spreads_hot_key(self, spark):
        from gridmet_etl_spark.operators.scale import salted_join

        fact = spark.createDataFrame([(1, float(i)) for i in range(1000)], "k long, v double")
        dim = spark.createDataFrame([(1, "hot")], "k long, tag string")
        out = salted_join(fact, dim, "k", n_salts=8)
        assert out.count() == 1000


class TestWeightedMedian:
    def test_known_value(self, spark):
        from gridmet_etl_spark.operators.normalize import weighted_median

        # values 1..4 with weights 1,1,1,5 -> total 8, half 4; cum at v=4 is 8,
        # cum at v=3 is 3 < 4 -> weighted median 4
        df = spark.createDataFrame(
            [("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 1.0), ("g", 4.0, 5.0)],
            "k string, v double, w double",
        )
        r = weighted_median(df, ["k"], "v", "w").collect()[0]
        assert r["wmedian"] == 4.0 and r["total_w"] == 8.0

    def test_tie_order_independent(self, spark):
        from gridmet_etl_spark.operators.normalize import weighted_median

        # duplicated median value across rows: RANGE frame counts all peers
        df = spark.createDataFrame(
            [("g", 2.0, 1.0), ("g", 2.0, 1.0), ("g", 1.0, 1.0), ("g", 3.0, 1.0)],
            "k string, v double, w double",
        )
        r = weighted_median(df, ["k"], "v", "w").collect()[0]
        assert r["wmedian"] == 2.0


class TestTheilSen:
    def test_outlier_resistant(self, spark):
        from gridmet_etl_spark.operators.timeseries import theilsen_trend

        # clean slope 2.0 with one wild outlier on day 4
        rows = [("t", 0, 0, f"2024-01-0{d}", 10.0 + 2.0 * d) for d in range(1, 8)]
        rows[3] = ("t", 0, 0, "2024-01-04", 500.0)
        df = spark.createDataFrame(
            rows, "var string, i int, j int, time string, value double"
        ).withColumn("time", F.to_date("time"))
        r = theilsen_trend(df).collect()[0]
        assert r["slope"] == 2.0       # median slope ignores the outlier
        assert r["n_pairs"] == 21

    def test_null_and_tiny_series(self, spark):
        from gridmet_etl_spark.operators.timeseries import theilsen_trend

        df = spark.createDataFrame(
            [("t", 0, 0, "2024-01-01", 1.0), ("t", 0, 0, "2024-01-02", None),
             ("t", 0, 0, "2024-01-03", 5.0), ("u", 1, 1, "2024-01-01", 9.0)],
            "var string, i int, j int, time string, value double",
        ).withColumn("time", F.to_date("time"))
        out = {(r["var"], r["i"]): r for r in theilsen_trend(df).collect()}
        assert out[("t", 0)]["slope"] == 2.0 and out[("t", 0)]["n_pairs"] == 1
        assert out[("u", 1)]["slope"] is None and out[("u", 1)]["n_pairs"] == 0
