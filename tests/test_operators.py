"""Unit tests for the edge semantics decided in SURVEY.md par.2:
Beaufort boundaries + null handling, deterministic mode (tie -> lex
min, nulls excluded, all-null group -> null), interpolated median,
timestamp coercion, dedup idempotence, fused validation, simhash
determinism, LSH bucketing, exact aggregation helpers.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from etl_on_weather_dataset_spark.functions.exact import exact_avg, exact_sum
from etl_on_weather_dataset_spark.operators.agg import grouped_mode
from etl_on_weather_dataset_spark.operators.clean import (
    coerce_timestamp,
    dedup_exact,
    impute_median,
)
from etl_on_weather_dataset_spark.operators.derive import (
    BEAUFORT_BOUNDS,
    BEAUFORT_TOP,
    beaufort,
)
from etl_on_weather_dataset_spark.operators.validate import (
    ValidationError,
    assert_observation,
    at_least,
    check,
    in_range,
    not_null,
    observed,
)


class TestBeaufort:
    def test_boundaries_land_in_lower_bucket(self, spark):
        # each bound value b must map to its own label (<= semantics,
        # ETL.py:81-102)
        df = spark.createDataFrame(
            [(b,) for b, _ in BEAUFORT_BOUNDS], ["speed"]
        )
        got = [
            r["w"]
            for r in df.select(beaufort("speed").alias("w"))
            .orderBy("speed")
            .collect()
        ]
        assert got == [label for _, label in BEAUFORT_BOUNDS]

    def test_above_top_bound(self, spark):
        df = spark.createDataFrame([(32.61,), (500.0,)], ["speed"])
        got = {r["w"] for r in df.select(beaufort("speed").alias("w")).collect()}
        assert got == {BEAUFORT_TOP}

    def test_null_gives_null(self, spark):
        # documented deviation from the reference's accidental
        # 'Violent Storm' on NaN (SURVEY par.2a U1)
        df = spark.createDataFrame([(None,)], "speed double")
        assert df.select(beaufort("speed").alias("w")).first()["w"] is None

    def test_just_above_boundary(self, spark):
        df = spark.createDataFrame([(1.5000001,)], ["speed"])
        assert (
            df.select(beaufort("speed").alias("w")).first()["w"] == "Light Air"
        )


class TestGroupedMode:
    def test_tie_breaks_to_lexicographic_min(self, spark):
        df = spark.createDataFrame(
            [(1, "b"), (1, "a"), (1, "b"), (1, "a"), (2, "z")], ["g", "v"]
        )
        got = {
            r["g"]: r["m"]
            for r in grouped_mode(df, ["g"], "v", "m").collect()
        }
        assert got == {1: "a", 2: "z"}  # pandas mode().iloc[0] semantics

    def test_nulls_excluded_from_counting(self, spark):
        df = spark.createDataFrame(
            [(1, None), (1, None), (1, "x")], ["g", "v"]
        )
        got = grouped_mode(df, ["g"], "v", "m").collect()
        assert got == [Row(g=1, m="x")]

    def test_all_null_group_preserved_with_null_mode(self, spark):
        df = spark.createDataFrame(
            [(1, None), (2, "y")], ["g", "v"]
        )
        got = {r["g"]: r["m"] for r in grouped_mode(df, ["g"], "v", "m").collect()}
        assert got == {1: None, 2: "y"}


class TestImputeMedian:
    def test_interpolated_median_even_count(self, spark):
        # median([1,2,3,4]) = 2.5 (pandas interpolation)
        df = spark.createDataFrame(
            [(1.0,), (2.0,), (3.0,), (4.0,), (None,)], "x double"
        )
        got = sorted(
            r["x"] for r in impute_median(df, ["x"]).collect()
        )
        assert got == [1.0, 2.0, 2.5, 3.0, 4.0]

    def test_multiple_columns_one_pass(self, spark):
        df = spark.createDataFrame(
            [(1.0, 10.0), (None, 30.0), (3.0, None)], "a double, b double"
        )
        out = impute_median(df, ["a", "b"]).collect()
        assert {r["a"] for r in out} == {1.0, 2.0, 3.0}
        assert {r["b"] for r in out} == {10.0, 20.0, 30.0}


class TestCoercion:
    def test_bad_strings_become_null(self, spark):
        df = spark.createDataFrame(
            [("2024-01-01 10:00:00",), ("garbage",), (None,)], "s string"
        )
        out = coerce_timestamp(df, "s", output_col="ts").select("ts").collect()
        assert sum(r["ts"] is not None for r in out) == 1

    def test_explicit_format_with_offset(self, spark):
        df = spark.createDataFrame(
            [("2006-04-01 02:00:00.000 +0200",)], "s string"
        )
        out = coerce_timestamp(
            df, "s", fmt="yyyy-MM-dd HH:mm:ss.SSS xx", output_col="ts"
        ).first()
        # UTC session tz: +0200 02:00 -> 00:00 UTC
        assert out["ts"].hour == 0


class TestDedup:
    def test_idempotent(self, spark):
        df = spark.createDataFrame(
            [(1, "a"), (1, "a"), (2, "b")], ["k", "v"]
        )
        once = dedup_exact(df)
        assert once.count() == 2
        assert dedup_exact(once).count() == 2

    def test_subset(self, spark):
        df = spark.createDataFrame(
            [(1, "a"), (1, "b"), (2, "c")], ["k", "v"]
        )
        assert dedup_exact(df, subset=["k"]).count() == 2


class TestValidation:
    def test_check_passes_clean(self, spark):
        df = spark.createDataFrame([(1.0,), (2.0,)], "x double")
        counts = check(df, [not_null(["x"]), in_range("x", 0, 10)])
        assert all(v == 0 for v in counts.values())

    def test_check_raises_with_counts_and_samples(self, spark):
        df = spark.createDataFrame([(1.0,), (99.0,), (None,)], "x double")
        with pytest.raises(ValidationError) as ei:
            check(df, [not_null(["x"]), in_range("x", 0, 10),
                       at_least("x", 0)])
        assert ei.value.failures["in_range:x"] == 1
        assert ei.value.failures["not_null:x"] == 1
        assert "at_least:x" not in ei.value.failures
        assert ei.value.samples["in_range:x"][0]["x"] == 99.0

    def test_observed_zero_extra_scan(self, spark):
        df = spark.createDataFrame([(5.0,), (-1.0,)], "x double")
        exps = [at_least("x", 0)]
        out, obs = observed(df, exps)
        out.count()  # the caller's own action materializes metrics
        assert obs.get["at_least:x"] == 1
        with pytest.raises(ValidationError) as ei:
            assert_observation(obs, df, exps)
        assert ei.value.failures == {"at_least:x": 1}
        assert ei.value.samples == {"at_least:x": [{"x": -1.0}]}

    def test_observed_empty_frame_counts_zero(self, spark):
        """No rows: the observed sums are null and read as 0, with
        the same keys check() returns."""
        df = spark.createDataFrame([], "x double")
        exps = [not_null(["x"]), at_least("x", 0)]
        out, obs = observed(df, exps)
        out.count()
        assert assert_observation(obs, df, exps) == check(df, exps) == {
            "not_null:x": 0, "at_least:x": 0}


class TestExactAgg:
    def test_exact_sum_avg(self, spark):
        df = spark.createDataFrame(
            [(0.1,), (0.2,), (0.3,)], "x double"
        )
        row = df.agg(
            exact_sum("x").alias("s"), exact_avg("x").alias("a")
        ).first()
        assert row["s"] == 0.6  # float sum would give 0.6000000000000001
        assert row["a"] == 0.6 / 3  # deterministic IEEE: same bits as the oracle


class TestSimhash:
    def test_deterministic_and_similarity_sensitive(self, spark):
        from etl_on_weather_dataset_spark.operators.dedup import simhash

        df = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumps over the lazy cat"),
                (3, "completely different words entirely unrelated text"),
            ],
            ["doc_id", "text"],
        )
        a = {r["id"]: r["simhash"] for r in simhash(df).collect()}
        b = {r["id"]: r["simhash"] for r in simhash(df).collect()}
        assert a == b  # deterministic

        def hamming(x, y):
            return bin((x ^ y) & ((1 << 64) - 1)).count("1")

        assert hamming(a[1], a[2]) < hamming(a[1], a[3])


class TestAsofJoin:
    def test_matches_pandas_merge_asof(self, spark):
        """Cross-check the union-carry-forward as-of join against the
        single-node reference implementation (pd.merge_asof,
        direction='backward', inclusive) on interleaved data."""
        import pandas as pd

        from etl_on_weather_dataset_spark.operators.joins import asof_join

        left_rows = [
            (1, 100, 10.0), (1, 200, 11.0), (1, 50, 9.0),
            (2, 150, 20.0), (2, 400, 21.0), (3, 10, 30.0),
        ]
        right_rows = [
            (1, 100, 1.0), (1, 150, 2.0),   # tie at ts=100: inclusive
            (2, 100, 3.0), (2, 399, 4.0),
            # user 3 has no right rows at all -> null
        ]
        import datetime as dt

        def ts(t):
            return dt.datetime(1970, 1, 1) + dt.timedelta(seconds=t)

        left = spark.createDataFrame(
            [(uid, ts(t), v) for uid, t, v in left_rows],
            "user_id long, ts timestamp, value double",
        ).withColumn("event_id", F.monotonically_increasing_id())
        right = spark.createDataFrame(
            [(uid, ts(t), v) for uid, t, v in right_rows],
            "user_id long, ts timestamp, rv double",
        )
        got = {
            (r["user_id"], r["ts"]): r["asof_rv"]
            for r in asof_join(
                left, right, on="user_id", ts_col="ts",
                right_value_cols=["rv"], left_id_col="event_id",
            ).collect()
        }

        lpdf = pd.DataFrame(
            [(uid, pd.Timestamp(t, unit="s"), v) for uid, t, v in left_rows],
            columns=["user_id", "ts", "value"],
        ).sort_values("ts")
        rpdf = pd.DataFrame(
            [(uid, pd.Timestamp(t, unit="s"), v) for uid, t, v in right_rows],
            columns=["user_id", "ts", "rv"],
        ).sort_values("ts")
        expected = pd.merge_asof(
            lpdf, rpdf, on="ts", by="user_id", direction="backward",
            allow_exact_matches=True,
        )
        for _, row in expected.iterrows():
            g = got[(row["user_id"], row["ts"].to_pydatetime())]
            if pd.isna(row["rv"]):
                assert g is None
            else:
                assert g == row["rv"]


    def test_duplicate_key_ts_right_rows_deterministic(self, spark):
        """Multiple right rows sharing (key, ts): the carried value
        must be deterministic (largest value wins -- ascending value
        tiebreak + last()), not partition-order-dependent."""
        import datetime as dt

        from etl_on_weather_dataset_spark.operators.joins import asof_join

        t0 = dt.datetime(2024, 1, 1)
        left = spark.createDataFrame(
            [(1, t0, 99.0)], "user_id long, ts timestamp, value double"
        ).withColumn("event_id", F.lit(7).cast("long"))
        right = spark.createDataFrame(
            [(1, t0, 5.0), (1, t0, 3.0), (1, t0, 4.0)],
            "user_id long, ts timestamp, rv double",
        )
        for n_parts in (1, 3):
            got = asof_join(
                left.repartition(1), right.repartition(n_parts),
                on="user_id", ts_col="ts",
                right_value_cols=["rv"], left_id_col="event_id",
            ).collect()
            assert len(got) == 1
            assert got[0]["asof_rv"] == 5.0


class TestDedupComponents:
    def test_chain_converges_to_min_label(self, spark):
        """A 6-node chain takes several propagation rounds -- the loop
        must iterate to the fixpoint, not stop after one join."""
        from etl_on_weather_dataset_spark.operators.dedup import (
            dedup_components,
        )

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(10, 15)] + [(100, 101)],
            "id_a long, id_b long",
        )
        got = {
            r["id"]: r["component"]
            for r in dedup_components(pairs).collect()
        }
        assert got == {**{i: 10 for i in range(10, 16)},
                       100: 100, 101: 100}

    def test_deep_chain_stays_tractable(self, spark):
        """A 40-node chain needs ~20 propagation rounds. Before the
        self-loop rewrite each round's plan referenced the prior
        labels TWICE, doubling the logical plan per round -- 20 rounds
        meant a 2^20-node plan and hours of Catalyst analysis. This
        test completing at all (plus the exact labels) pins the
        linear-plan-growth formulation."""
        from etl_on_weather_dataset_spark.operators.dedup import (
            dedup_components,
        )

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(40)], "id_a long, id_b long"
        )
        got = {
            r["id"]: r["component"]
            for r in dedup_components(pairs, max_iter=50).collect()
        }
        assert got == {i: 0 for i in range(41)}

    def test_truncation_fires_on_its_own_cadence(self, spark):
        """check_every=3 does not divide truncate_every=4: lineage
        truncation must still fire (on rounds 4, 8, ...) and the
        labels that pass through localCheckpoint stay exact."""
        from etl_on_weather_dataset_spark.operators.dedup import (
            dedup_components,
        )

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(12)], "id_a long, id_b long"
        )
        got = {
            r["id"]: r["component"]
            for r in dedup_components(
                pairs, max_iter=20, check_every=3, truncate_every=4
            ).collect()
        }
        assert got == {i: 0 for i in range(13)}

    def test_non_convergence_raises(self, spark):
        """A cap below the chain diameter must raise, not silently
        return a partial labeling that splits one true component."""
        import pytest

        from etl_on_weather_dataset_spark.operators.dedup import (
            dedup_components,
        )

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(5)], "id_a long, id_b long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup_components(pairs, max_iter=1)

    def test_empty_graph_returns_no_rows(self, spark):
        """Empty pairs -> typed empty labeling, with and without the
        short-circuit; the propagation path sees no sums (None == None)
        and must count that as converged, not raise."""
        from etl_on_weather_dataset_spark.operators.dedup import (
            dedup_components,
        )

        pairs = spark.createDataFrame([], "id_a long, id_b long")
        for skip in (False, True):
            out = dedup_components(pairs, skip_empty_check=skip)
            assert out.count() == 0
            assert out.schema.simpleString() == (
                "struct<id:bigint,component:bigint>"
            )


class TestStopShingleDrop:
    def _corpus(self, spark):
        # every doc shares the hot boilerplate prefix; pairs (1,2) and
        # (3,4) are near-dups beyond it
        boiler = "terms of service apply to all"
        rows = [
            (1, boiler + " alpha beta gamma delta epsilon zeta"),
            (2, boiler + " alpha beta gamma delta epsilon eta"),
            (3, boiler + " one two three four five six"),
            (4, boiler + " one two three four five seven"),
            (5, boiler + " totally different content here now yes"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_hot_shingles_shrink_candidate_join(self, spark):
        """max_doc_freq drops boilerplate shingles shared by every doc,
        shrinking the inverted-index join: without the drop all 10
        pairs share a shingle; with it only the true near-dup pairs
        survive as candidates."""
        from etl_on_weather_dataset_spark.operators.caching import (
            release_all,
        )
        from etl_on_weather_dataset_spark.operators.dedup import (
            ngram_jaccard_pairs,
        )

        docs = self._corpus(spark)
        try:
            # threshold 0 => report EVERY candidate pair the join sees
            all_cand = ngram_jaccard_pairs(
                docs, "text", "doc_id", n=3, threshold=1e-9
            ).count()
            dropped = ngram_jaccard_pairs(
                docs, "text", "doc_id", n=3, threshold=1e-9,
                max_doc_freq=0.8,
            )
            assert all_cand == 10  # full cross: boilerplate collides
            got = {
                (r["id_a"], r["id_b"]) for r in dropped.collect()
            }
            assert got == {(1, 2), (3, 4)}
        finally:
            release_all()

    def test_stop_shingle_oracle_parity(self, spark, tmp_path):
        """The SQL twin implements the identical drop semantics."""
        from etl_on_weather_dataset_spark.operators.caching import (
            release_all,
        )
        from etl_on_weather_dataset_spark.operators.dedup import (
            ngram_jaccard_pairs,
            ngram_jaccard_pairs_sql,
        )

        from .oracle_harness import compare

        sf = "/root/testdata/sf0.001"
        from etl_on_weather_dataset_spark.schemas import load_table

        docs = load_table(spark, sf, "documents")
        try:
            got = ngram_jaccard_pairs(
                docs, "text", "doc_id", n=3, threshold=0.2,
                max_doc_freq=0.05,
            )
            compare(
                got,
                ngram_jaccard_pairs_sql(
                    "documents", "text", "doc_id", 3, 0.2,
                    max_doc_freq=0.05,
                ),
                sf,
                name="ngram_jaccard_max_doc_freq",
            )
        finally:
            release_all()

    def test_minhash_stop_shingle_drop(self, spark):
        """The minhash tier's max_doc_freq strips the same boilerplate
        shingles before hashing; candidates collapse to true pairs."""
        from etl_on_weather_dataset_spark.operators.caching import (
            release_all,
        )
        from etl_on_weather_dataset_spark.operators.dedup import (
            minhash_lsh_pairs,
        )

        docs = self._corpus(spark)
        try:
            got = {
                (r["id_a"], r["id_b"])
                for r in minhash_lsh_pairs(
                    docs, "text", "doc_id", max_distance=0.999,
                    max_doc_freq=0.8,
                ).collect()
            }
            # banding may or may not surface every pair; but no pair
            # outside the true near-dups may appear (their reduced
            # shingle sets are disjoint -> rescore distance 1.0)
            assert got <= {(1, 2), (3, 4)}
            assert (1, 2) in got and (3, 4) in got
        finally:
            release_all()


class TestHashSampling:
    def test_split_is_partitioning_invariant(self, spark):
        """The property Spark's own sample()/randomSplit() lack: the
        same key lands in the same split regardless of partitioning."""
        from etl_on_weather_dataset_spark.operators.sample import (
            train_test_split,
        )

        df = spark.range(0, 2000).select(F.col("id"))
        a = {
            r["id"]: r["split"]
            for r in train_test_split(
                df.repartition(1), "id", 0.25
            ).collect()
        }
        b = {
            r["id"]: r["split"]
            for r in train_test_split(
                df.repartition(13), "id", 0.25
            ).collect()
        }
        assert a == b
        frac = sum(1 for v in a.values() if v == "test") / len(a)
        assert 0.2 < frac < 0.3  # md5 uniformity at n=2000

    def test_salt_decorrelates_samples(self, spark):
        from etl_on_weather_dataset_spark.operators.sample import (
            hash_sample,
        )

        df = spark.range(0, 2000)
        s1 = {r["id"] for r in hash_sample(df, "id", 0.3, salt="a").collect()}
        s2 = {r["id"] for r in hash_sample(df, "id", 0.3, salt="b").collect()}
        assert s1 != s2
        # both still ~30%
        assert 0.25 < len(s1) / 2000 < 0.35
        assert 0.25 < len(s2) / 2000 < 0.35

    def test_stratified_fractions_respected(self, spark):
        from etl_on_weather_dataset_spark.operators.sample import (
            stratified_hash_sample,
        )

        df = spark.range(0, 3000).select(
            F.col("id"),
            F.when(F.col("id") % 2 == 0, "even").otherwise("odd")
            .alias("parity"),
        )
        got = {
            r["parity"]: r["n"]
            for r in stratified_hash_sample(
                df, "id", "parity", {"even": 0.5}, default_fraction=0.1
            ).groupBy("parity").agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert 0.4 < got["even"] / 1500 < 0.6
        assert 0.05 < got["odd"] / 1500 < 0.15


class TestBloomFilter:
    def test_no_false_negatives_and_bounded_fp(self, spark):
        from etl_on_weather_dataset_spark.operators.bloom import (
            build_bloom,
            probe_bloom,
        )

        m, k = 1 << 14, 8  # 16 Ki bits for 1000 members
        members = spark.range(0, 1000).select(F.col("id").alias("key"))
        bloom = build_bloom(members, "key", m, k)
        probes = spark.range(0, 5000).select(F.col("id").alias("key"))
        hits = {
            r["key"]: r["bloom_hit"]
            for r in probe_bloom(bloom, probes, "key", m, k).collect()
        }
        assert all(hits[i] for i in range(1000))  # exact guarantee
        fp = sum(1 for i in range(1000, 5000) if hits[i])
        assert fp / 4000 < 0.02  # sized for ~5e-4; generous margin

    def test_empty_filter_rejects_everything(self, spark):
        from etl_on_weather_dataset_spark.operators.bloom import (
            build_bloom,
            probe_bloom,
        )

        empty = build_bloom(
            spark.range(0, 0).select(F.col("id").alias("key")),
            "key", 1 << 10,
        )
        probes = spark.range(0, 50).select(F.col("id").alias("key"))
        got = probe_bloom(empty, probes, "key", 1 << 10)
        assert got.filter("bloom_hit").count() == 0


class TestHistogramSketch:
    LO, HI, BINS = 0, 100_000_000, 100  # values 0..100 in micros

    def test_merge_equals_rebuild_grouped(self, spark):
        from etl_on_weather_dataset_spark.operators.histogram import (
            histogram_merge,
            histogram_sketch,
        )

        rows = [(f"g{i % 3}", float(i % 97)) for i in range(500)]
        df = spark.createDataFrame(rows, "g string, v double")
        parts = [
            histogram_sketch(df.filter(F.col("v") < 50), "v",
                             self.LO, self.HI, self.BINS, ["g"]),
            histogram_sketch(df.filter(F.col("v") >= 50), "v",
                             self.LO, self.HI, self.BINS, ["g"]),
        ]
        merged = {
            (r.g, r.bin): r.cnt
            for r in histogram_merge(*parts, group_cols=["g"]).collect()
        }
        rebuilt = {
            (r.g, r.bin): r.cnt
            for r in histogram_sketch(df, "v", self.LO, self.HI,
                                      self.BINS, ["g"]).collect()
        }
        assert merged == rebuilt

    def test_quantile_within_one_cell_of_exact(self, spark):
        from etl_on_weather_dataset_spark.operators.histogram import (
            histogram_quantiles,
            histogram_sketch,
        )

        vals = [float(i) for i in range(1, 1001)]  # 1..1000
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        sk = histogram_sketch(df, "v", 0, 1_000_000_000, 1000)
        got = {
            r.q_ppm: r.est_micro
            for r in histogram_quantiles(
                sk, [500_000, 990_000], 0, 1_000_000_000, 1000
            ).collect()
        }
        cell = 1_000_000_000 // 1000
        import math
        for q_ppm, est in got.items():
            exact = vals[math.ceil(len(vals) * q_ppm / 1e6) - 1] * 1e6
            assert abs(est - exact) <= cell, (q_ppm, est, exact)

    def test_out_of_range_values_clamp_into_edge_bins(self, spark):
        from etl_on_weather_dataset_spark.operators.histogram import (
            histogram_sketch,
        )

        df = spark.createDataFrame(
            [(-5.0,), (0.0,), (50.0,), (100.0,), (200.0,), (None,)],
            "v double",
        )
        got = {
            r.bin: r.cnt
            for r in histogram_sketch(df, "v", self.LO, self.HI,
                                      self.BINS).collect()
        }
        assert sum(got.values()) == 5  # NULL excluded, nothing dropped
        assert got[0] == 2             # -5 and 0 clamp to bin 0
        assert got[self.BINS - 1] == 2  # 100 and 200 clamp to last bin


class TestGroupedHllMerge:
    def test_grouped_merge_equals_rebuild(self, spark):
        """Merging per-day register sets built from disjoint batches
        must equal the registers built from the union in one shot --
        per (day, bucket), not fused across days."""
        from etl_on_weather_dataset_spark.operators.bloom import (
            hll_merge,
            hll_registers,
        )

        rows = [
            ("d%d" % (i % 3), i % 40) for i in range(200)
        ]
        df = spark.createDataFrame(rows, "day string, user_id int")
        b1 = df.filter(F.col("user_id") < 20)
        b2 = df.filter(F.col("user_id") >= 20)
        grouped = lambda d: hll_registers(  # noqa: E731
            d, "user_id", m=64, group_cols=["day"]
        )
        merged = hll_merge(
            grouped(b1), grouped(b2), group_cols=["day"]
        )
        rebuilt = grouped(df)
        key = lambda r: (r["day"], r["bucket"])  # noqa: E731
        got = {key(r): r["register"] for r in merged.collect()}
        want = {key(r): r["register"] for r in rebuilt.collect()}
        assert got == want
        # 3 distinct days survive the merge (the old bucket-only
        # groupBy would have collapsed them to one sketch)
        assert len({d for d, _ in got}) == 3

    def test_ungrouped_merge_unchanged(self, spark):
        from etl_on_weather_dataset_spark.operators.bloom import (
            hll_estimate,
            hll_merge,
            hll_registers,
        )

        df = spark.range(0, 500).select(F.col("id").alias("k"))
        b1 = df.filter("k < 250")
        b2 = df.filter("k >= 200")  # overlap: idempotent max
        merged = hll_merge(
            hll_registers(b1, "k", m=64), hll_registers(b2, "k", m=64)
        )
        rebuilt = hll_registers(df, "k", m=64)
        est_m = hll_estimate(merged, m=64).collect()[0]
        est_r = hll_estimate(rebuilt, m=64).collect()[0]
        assert est_m == est_r


class TestMinhashVsExactJaccard:
    def test_minhash_pairs_are_true_near_dups(self, spark):
        """The MinHash tier anchored against the exact tier. With the
        codegen rescore (candidates re-scored with TRUE Jaccard),
        precision is exact by construction: approx <= exact, with the
        reported distances matching the exact tier's Jaccard. Recall is
        probabilistic in general but deterministic for the fixed hash
        family; on this corpus it is total (the guarantee the
        dedup_minhash_lsh driver oracle hashes)."""
        from etl_on_weather_dataset_spark.operators.dedup import (
            minhash_lsh_pairs,
            ngram_jaccard_pairs,
        )
        from etl_on_weather_dataset_spark.schemas import load_table

        sf = "/root/testdata/sf0.001"
        docs = load_table(spark, sf, "documents")
        exact = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(
                docs, "text", "doc_id", n=3, threshold=0.2
            ).collect()
        }
        approx = {
            (r["id_a"], r["id_b"]): 1.0 - r["jaccard_dist"]
            for r in minhash_lsh_pairs(
                docs, "text", "doc_id", max_distance=0.8
            ).collect()
        }
        # precision is exact: every reported pair is a true near-dup
        assert set(approx) <= set(exact)
        # and the rescored similarity IS the exact Jaccard
        for p, sim in approx.items():
            assert abs(sim - exact[p]) < 1e-9, (p, sim, exact[p])
        # recall: total on this corpus (banding found every true pair).
        # This FULL-recall equality is a property of the pinned corpus
        # + fixed hash family and deliberately lives here, not in the
        # driver oracle (which attests only corpus-independent
        # guarantees: precision + exact-dup recall floor).
        assert set(approx) == set(exact)

    def test_rows_per_band_keeps_precision_and_exact_dup_recall(
        self, spark
    ):
        """r=2 banding (AND within band) may drop borderline
        candidates but NEVER false pairs (exact rescore) and NEVER
        exact duplicates (identical text -> identical signature at
        any r)."""
        from etl_on_weather_dataset_spark.operators.caching import (
            release_all,
        )
        from etl_on_weather_dataset_spark.operators.dedup import (
            minhash_lsh_pairs,
            ngram_jaccard_pairs,
        )
        from etl_on_weather_dataset_spark.schemas import load_table

        sf = "/root/testdata/sf0.001"
        docs = load_table(spark, sf, "documents").select("doc_id", "text")
        dups = docs.filter(F.col("doc_id") % 2 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
        corpus = docs.unionAll(dups)
        try:
            exact = {
                (r["id_a"], r["id_b"])
                for r in ngram_jaccard_pairs(
                    corpus, "text", "doc_id", n=3, threshold=0.2
                ).collect()
            }
            r2 = {
                (r["id_a"], r["id_b"])
                for r in minhash_lsh_pairs(
                    corpus, "text", "doc_id", max_distance=0.8,
                    rows_per_band=2,
                ).collect()
            }
            assert r2 <= exact  # precision at any r
            injected = {
                (r["doc_id"], r["doc_id"] + 1_000_000)
                for r in docs.filter(
                    (F.col("doc_id") % 2 == 0) & (F.length("text") > 0)
                ).collect()
            }
            assert injected <= r2  # exact-dup recall floor at any r
        finally:
            release_all()

    def test_minhash_non_default_text_col(self, spark):
        """Regression: the operator renames text_col to 'text'
        internally; shingling must reference the renamed column or any
        non-default text_col raises an unresolved-column error."""
        from etl_on_weather_dataset_spark.operators.caching import (
            release_all,
        )
        from etl_on_weather_dataset_spark.operators.dedup import (
            minhash_lsh_pairs,
        )

        docs = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "a b c d e f"), (3, "q r s t u v")],
            "id long, body string",
        )
        try:
            got = {
                (r["id_a"], r["id_b"])
                for r in minhash_lsh_pairs(
                    docs, text_col="body", id_col="id",
                    max_distance=0.5,
                ).collect()
            }
            assert got == {(1, 2)}
        finally:
            release_all()


class TestMultiTableANN:
    SF = "/root/testdata/sf0.001"

    def test_single_table_config_reproduces_lsh_topk(self, spark):
        """lsh_topk_multi(n_tables=1) -- which lsh_topk calls -- must
        equal the single-table twin lsh_topk_sql exactly (same seed ->
        same plane family -> same buckets -> same candidates -> same
        rescore/tie-break)."""
        from etl_on_weather_dataset_spark.operators.caching import (
            release_all,
        )
        from etl_on_weather_dataset_spark.operators.similarity import (
            lsh_hyperplanes,
            lsh_topk,
            lsh_topk_multi,
            lsh_topk_sql,
        )
        from etl_on_weather_dataset_spark.schemas import load_table

        from .oracle_harness import compare

        emb = load_table(spark, self.SF, "embeddings")
        oracle = lsh_topk_sql(lsh_hyperplanes(64, 8, 42), k=5)
        try:
            multi = lsh_topk_multi(emb, emb, k=5, n_tables=1)
            compare(multi, oracle, self.SF, name="lsh_topk_multi_t1")
            single = {tuple(r) for r in lsh_topk(emb, k=5).collect()}
            assert single == {tuple(r) for r in multi.collect()} and single
        finally:
            release_all()

    def test_candidates_grow_monotonically_with_tables(self, spark):
        """OR-amplification: the plane families are nested (table t is
        seeded seed+1000t), so every T=1 candidate pair is also a T=4
        candidate -- recall can only go up with T."""
        from etl_on_weather_dataset_spark.operators.similarity import (
            lsh_multi_candidates,
        )
        from etl_on_weather_dataset_spark.schemas import load_table

        emb = load_table(spark, self.SF, "embeddings")
        q = emb.filter(F.col("vec_id") < 50)
        c1 = {
            (r["query_id"], r["neighbor_id"])
            for r in lsh_multi_candidates(q, emb, n_tables=1).collect()
        }
        c4 = {
            (r["query_id"], r["neighbor_id"])
            for r in lsh_multi_candidates(q, emb, n_tables=4).collect()
        }
        assert c1 < c4  # strictly more candidates from 4 tables

    def test_broadcast_queries_changes_plan_not_rows(self, spark):
        from etl_on_weather_dataset_spark.operators.caching import (
            release_all,
        )
        from etl_on_weather_dataset_spark.operators.similarity import (
            lsh_topk_multi,
        )
        from etl_on_weather_dataset_spark.schemas import load_table

        emb = load_table(spark, self.SF, "embeddings")
        q = emb.filter(F.col("vec_id") < 20)
        try:
            shuffled = {
                tuple(r)
                for r in lsh_topk_multi(q, emb, k=5, n_tables=4).collect()
            }
            broadcast = {
                tuple(r)
                for r in lsh_topk_multi(
                    q, emb, k=5, n_tables=4, broadcast_queries=True
                ).collect()
            }
            assert broadcast == shuffled and len(broadcast) > 0
        finally:
            release_all()


class TestImageDecode:
    def test_decode_image_guard_or_real(self, spark):
        """decode_image is import-guarded: with PIL it decodes a real
        1x1 PNG through the mapInPandas plumbing; without it, it
        raises NotImplementedError at plan time."""
        from etl_on_weather_dataset_spark.operators.multimodal import (
            decode_image,
        )

        # deterministic 1x1 black RGB PNG (pre-encoded; no PIL needed
        # to construct)
        png = bytes.fromhex(
            "89504e470d0a1a0a0000000d49484452000000010000000108020000009077"
            "3df80000000c49444154789c626060600000000400019c53d1650000000049"
            "454e44ae426082"
        )
        df = spark.createDataFrame(
            [(1, bytearray(png)), (2, bytearray(b"not an image"))],
            "doc_id long, payload binary",
        )
        try:
            import PIL  # noqa: F401
        except ImportError:
            import pytest as _pytest

            with _pytest.raises(NotImplementedError, match="PIL"):
                decode_image(df)
            return
        rows = {r["doc_id"]: r for r in decode_image(df).collect()}
        assert (rows[1]["width"], rows[1]["height"]) == (1, 1)
        assert rows[1]["mode"] in ("RGB", "RGBA", "P", "L")
        assert rows[2]["width"] is None  # corrupt payload -> nulls

        # resize path shares the guard; with PIL present it must
        # produce a decodable thumbnail of the target size
        from etl_on_weather_dataset_spark.operators.multimodal import (
            resize_images,
        )

        thumbs = {
            r["doc_id"]: r["thumbnail"]
            for r in resize_images(df, 4, 4).collect()
        }
        import io

        from PIL import Image

        with Image.open(io.BytesIO(bytes(thumbs[1]))) as im:
            assert im.size == (4, 4)
        assert thumbs[2] is None


class TestAudioDecode:
    def test_wav_decode_real_and_corrupt_tolerant(self, spark):
        """decode_audio parses real WAV payloads with the stdlib wave
        module -- generated here byte-exactly, no codec deps."""
        import io
        import struct
        import wave as wavemod

        from etl_on_weather_dataset_spark.operators.multimodal import (
            decode_audio,
        )

        def make_wav(rate, n_frames, channels=1):
            buf = io.BytesIO()
            with wavemod.open(buf, "wb") as w:
                w.setnchannels(channels)
                w.setsampwidth(2)
                w.setframerate(rate)
                w.writeframes(
                    b"".join(
                        struct.pack("<h", (i * 37) % 4096)
                        for i in range(n_frames * channels)
                    )
                )
            return buf.getvalue()

        df = spark.createDataFrame(
            [
                (1, bytearray(make_wav(16000, 8000))),
                (2, bytearray(make_wav(44100, 44100, channels=2))),
                (3, bytearray(b"definitely not audio")),
            ],
            "doc_id long, payload binary",
        )
        rows = {r["doc_id"]: r for r in decode_audio(df).collect()}
        assert rows[1]["sample_rate"] == 16000
        assert rows[1]["n_frames"] == 8000
        assert abs(rows[1]["duration_sec"] - 0.5) < 1e-9
        assert rows[2]["n_channels"] == 2
        assert abs(rows[2]["duration_sec"] - 1.0) < 1e-9
        assert rows[3]["sample_rate"] is None  # corrupt -> nulls


def _box(btype: bytes, payload: bytes) -> bytes:
    return (8 + len(payload)).to_bytes(4, "big") + btype + payload


def make_mp4(
    duration=300,
    timescale=100,
    media_ts=90,
    stts_entries=((4, 10), (5, 20)),
    with_audio=True,
) -> bytes:
    """Minimal-but-real ISO BMFF bytes: ftyp + moov(mvhd, trak(video:
    mdia(mdhd, hdlr 'vide', minf/stbl/stts)) [, trak(audio hdlr
    'soun')]). Byte-exact per the spec's box layouts; no codecs."""
    mvhd = (
        bytes(4)                      # version 0 + flags
        + bytes(8)                    # creation + modification
        + timescale.to_bytes(4, "big")
        + duration.to_bytes(4, "big")
    )
    stts = (
        bytes(4)
        + len(stts_entries).to_bytes(4, "big")
        + b"".join(
            c.to_bytes(4, "big") + d.to_bytes(4, "big")
            for c, d in stts_entries
        )
    )
    mdhd = (
        bytes(4) + bytes(8) + media_ts.to_bytes(4, "big")
        + bytes(4) + bytes(4)
    )
    hdlr_v = bytes(8) + b"vide" + bytes(12)
    mdia_v = (
        _box(b"mdhd", mdhd)
        + _box(b"hdlr", hdlr_v)
        + _box(b"minf", _box(b"stbl", _box(b"stts", stts)))
    )
    moov = _box(b"mvhd", mvhd) + _box(b"trak", _box(b"mdia", mdia_v))
    if with_audio:
        hdlr_a = bytes(8) + b"soun" + bytes(12)
        moov += _box(
            b"trak", _box(b"mdia", _box(b"hdlr", hdlr_a))
        )
    return _box(b"ftyp", b"isom\x00\x00\x02\x00isom") + _box(b"moov", moov)


class TestIncrementalDedup:
    def test_dedup_across_batches_via_fingerprint_store(
        self, spark, tmp_path
    ):
        """Batch 2 drops docs whose content batch 1 already landed,
        even under new ids; within-batch dups keep the min id; the
        store grows by the survivors only."""
        from etl_on_weather_dataset_spark.operators.caching import (
            release_all,
        )
        from etl_on_weather_dataset_spark.operators.dedup import (
            incremental_exact_dedup,
        )

        store = str(tmp_path / "fp_store")
        try:
            b1 = spark.createDataFrame(
                [(1, "alpha beta"), (2, "gamma delta"),
                 (3, "alpha beta")],  # in-batch dup of 1
                "doc_id long, text string",
            )
            got1 = incremental_exact_dedup(
                spark, b1, store, str(tmp_path / "out1")
            )
            assert {r["doc_id"] for r in got1.collect()} == {1, 2}

            b2 = spark.createDataFrame(
                [(10, "alpha beta"),      # cross-batch dup of 1
                 (11, "epsilon zeta"),    # fresh
                 (12, "gamma delta")],    # cross-batch dup of 2
                "doc_id long, text string",
            )
            got2 = incremental_exact_dedup(
                spark, b2, store, str(tmp_path / "out2")
            )
            assert {r["doc_id"] for r in got2.collect()} == {11}

            stored = spark.read.parquet(store)
            assert stored.count() == 3  # fps of docs 1, 2, 11
            # replay of batch 2 against the grown store: nothing new
            got3 = incremental_exact_dedup(
                spark, b2, store, str(tmp_path / "out3")
            )
            assert got3.count() == 0
        finally:
            release_all()

    def test_null_text_docs_survive_via_sentinel(self, spark, tmp_path):
        """Null text gets a sentinel fingerprint: one null-text doc
        survives per corpus lifetime (min id), the rest dedup against
        it -- none silently vanish (the null-join-key trap)."""
        from etl_on_weather_dataset_spark.operators.dedup import (
            incremental_exact_dedup,
        )

        store = str(tmp_path / "fp_store")
        b1 = spark.createDataFrame(
            [(1, "alpha"), (2, None), (3, None)],
            "doc_id long, text string",
        )
        got1 = incremental_exact_dedup(
            spark, b1, store, str(tmp_path / "out1")
        )
        assert {r["doc_id"] for r in got1.collect()} == {1, 2}
        b2 = spark.createDataFrame(
            [(10, None), (11, "beta")], "doc_id long, text string"
        )
        got2 = incremental_exact_dedup(
            spark, b2, store, str(tmp_path / "out2")
        )
        # the store already holds the sentinel fp (doc 2): 10 drops
        assert {r["doc_id"] for r in got2.collect()} == {11}


class TestCorpusOps:
    def test_pack_sequences_concat_and_cut_invariants(self, spark):
        """Within a shard, bin/offset follow exactly from the running
        token total in (doc, chunk) order -- and the assignment is
        partitioning-invariant (repartition changes nothing)."""
        from etl_on_weather_dataset_spark.operators.corpus import (
            pack_sequences,
        )

        rows = [(d, c, 30 + 7 * ((d + c) % 5))
                for d in range(20) for c in range(3)]
        chunks = spark.createDataFrame(
            rows, "doc_id long, chunk_id int, n_tokens int"
        )
        got = pack_sequences(chunks, capacity=100, n_shards=4).collect()
        # replay the packing per shard in plain python
        by_shard: dict[int, list] = {}
        for r in sorted(got, key=lambda r: (r["shard"], r["id"],
                                            r["chunk_id"])):
            by_shard.setdefault(r["shard"], []).append(r)
        for shard, rs in by_shard.items():
            cum = 0
            for r in rs:
                assert r["bin_id"] == cum // 100, (shard, r)
                assert r["offset_in_bin"] == cum % 100, (shard, r)
                cum += r["n_tokens"]
        # partitioning invariance
        again = pack_sequences(
            chunks.repartition(7), capacity=100, n_shards=4
        ).collect()
        key = lambda r: (r["shard"], r["id"], r["chunk_id"])  # noqa: E731
        assert sorted(map(tuple, got)) == sorted(map(tuple, again))

    def test_contamination_flags_detect_benchmark_overlap(self, spark):
        """Docs sharing a 5-gram with the benchmark are flagged; others
        are not; benchmark members flag themselves (self-overlap)."""
        from etl_on_weather_dataset_spark.operators.corpus import (
            contamination_flags,
        )

        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "completely unrelated text with other words here"),
                (3, "prefix words then the quick brown fox jumps too"),
            ],
            "doc_id long, text string",
        )
        bench = docs.filter(F.col("doc_id") == 1)
        got = {
            r["id"]: r["contaminated"]
            for r in contamination_flags(docs, bench, n=5).collect()
        }
        assert got == {1: 1, 2: 0, 3: 1}

    def test_repetition_stats_flag_boilerplate(self, spark):
        from etl_on_weather_dataset_spark.operators.corpus import (
            repetition_stats,
        )

        docs = spark.createDataFrame(
            [
                (1, "spam spam spam spam spam spam spam spam"),
                (2, "eight distinct words never repeat in here"),
            ],
            "doc_id long, text string",
        )
        got = {r["id"]: r for r in repetition_stats(docs).collect()}
        assert got[1]["repetitious"] == 1
        assert got[1]["dup_frac_3"] > 0.8
        assert got[2]["repetitious"] == 0
        assert got[2]["dup_frac_2"] == 0.0


class TestVideoContainer:
    def test_decode_video_metadata(self, spark):
        """decode_video parses real MP4 container boxes (moov/mvhd/
        trak) -- duration, timescale, track count -- and corrupt
        payloads yield nulls, not failures."""
        from etl_on_weather_dataset_spark.operators.multimodal import (
            decode_video,
        )

        df = spark.createDataFrame(
            [
                (1, bytearray(make_mp4())),
                (2, bytearray(make_mp4(duration=4500, timescale=1000,
                                       with_audio=False))),
                (3, bytearray(b"definitely not an mp4")),
                # truncated mid-box: size field promises more bytes
                (4, bytearray(make_mp4()[:40])),
            ],
            "doc_id long, payload binary",
        )
        rows = {r["doc_id"]: r for r in decode_video(df).collect()}
        assert abs(rows[1]["duration_sec"] - 3.0) < 1e-9
        assert rows[1]["timescale"] == 100
        assert rows[1]["n_tracks"] == 2
        assert abs(rows[2]["duration_sec"] - 4.5) < 1e-9
        assert rows[2]["n_tracks"] == 1
        assert rows[3]["duration_sec"] is None
        assert rows[4]["duration_sec"] is None

    def test_sample_frames_every_nth_with_stts_times(self, spark):
        """sample_frames emits every Nth frame of the video track with
        timestamps accumulated from the stts table (4 frames @ delta
        10 then 5 @ delta 20, media timescale 90)."""
        from etl_on_weather_dataset_spark.operators.multimodal import (
            sample_frames,
        )

        df = spark.createDataFrame(
            [(7, bytearray(make_mp4())), (8, bytearray(b"junk"))],
            "doc_id long, payload binary",
        )
        got = sorted(
            (r["doc_id"], r["frame_idx"], r["t_sec"])
            for r in sample_frames(df, every_n=3).collect()
        )
        # frame times: 0,10,20,30 then 40,60,80,100,120 (/90)
        assert [(d, i) for d, i, _ in got] == [(7, 0), (7, 3), (7, 6)]
        expect = [0.0, 30 / 90, 80 / 90]
        for (_, _, t), e in zip(got, expect):
            assert abs(t - e) < 1e-9
        # corrupt payload contributed zero rows, no error

    def test_sample_frames_all_frames(self, spark):
        from etl_on_weather_dataset_spark.operators.multimodal import (
            sample_frames,
        )

        df = spark.createDataFrame(
            [(1, bytearray(make_mp4()))], "doc_id long, payload binary"
        )
        assert sample_frames(df, every_n=1).count() == 9


class TestMultimodalBatching:
    def test_decode_respects_arrow_batch_size(self, spark):
        """The multimodal claim in SCALE.md: executor memory is
        bounded by arrow.maxRecordsPerBatch x payload size. Verify the
        decode path works identically under a tiny batch size (many
        small Arrow batches) -- the batch shape must not change
        results."""
        from etl_on_weather_dataset_spark.operators.multimodal import (
            decode_binary_metadata,
            with_binary_payload,
        )

        docs = spark.createDataFrame(
            [(i, "word " * (i + 1)) for i in range(50)],
            "doc_id long, text string",
        )
        payloads = with_binary_payload(docs, "text")
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        try:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
            small = {
                r["doc_id"]: (r["n_bytes"], r["content_md5"])
                for r in decode_binary_metadata(payloads).collect()
            }
        finally:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old
            )
        big = {
            r["doc_id"]: (r["n_bytes"], r["content_md5"])
            for r in decode_binary_metadata(payloads).collect()
        }
        assert small == big
        assert small[0][0] == len("word ")


class TestLshBuckets:
    def test_planes_are_stable_literals(self):
        from etl_on_weather_dataset_spark.operators.similarity import (
            lsh_hyperplanes,
        )

        p1 = lsh_hyperplanes(8, 4, seed=7)
        p2 = lsh_hyperplanes(8, 4, seed=7)
        assert p1 == p2
        assert lsh_hyperplanes(8, 4, seed=8) != p1


class TestBoilerplateLines:
    def _docs(self, spark):
        nl = "\n"
        return spark.createDataFrame(
            [
                (1, nl.join(["COOKIE BANNER", "real body one",
                             "NAV MENU"])),
                (2, nl.join(["COOKIE BANNER", "real body two",
                             "NAV MENU"])),
                (3, nl.join(["COOKIE BANNER", "unique text here"])),
                (4, "only original material"),
                (5, nl.join(["COOKIE BANNER", "NAV MENU"])),
            ],
            "doc_id long, text string",
        )

    def test_removes_cross_doc_lines_keeps_order(self, spark):
        from etl_on_weather_dataset_spark.operators.corpus import (
            remove_boilerplate_lines,
        )

        got = {r["id"]: r for r in remove_boilerplate_lines(
            self._docs(spark), min_docs=2).collect()}
        assert got[1]["clean_text"] == "real body one"
        assert got[1]["n_lines"] == 3 and got[1]["n_lines_removed"] == 2
        assert got[3]["clean_text"] == "unique text here"
        assert got[4]["clean_text"] == "only original material"
        assert got[4]["n_lines_removed"] == 0
        # doc 5 is ALL boilerplate: survives as a row with empty text
        assert got[5]["clean_text"] == "" and got[5]["n_lines_removed"] == 2

    def test_order_preserved_with_many_lines(self, spark):
        """Surviving lines come back in original order even when the
        boilerplate is interleaved."""
        from etl_on_weather_dataset_spark.operators.corpus import (
            remove_boilerplate_lines,
        )

        nl = "\n"
        docs = spark.createDataFrame(
            [(1, nl.join(["AD", "a", "AD", "b", "c", "AD", "d"])),
             (2, nl.join(["AD", "x"]))],
            "doc_id long, text string",
        )
        got = {r["id"]: r["clean_text"]
               for r in remove_boilerplate_lines(docs, min_docs=2)
               .collect()}
        assert got[1] == nl.join(["a", "b", "c", "d"])

    def test_hash_keys_variant_agrees(self, spark):
        """The scale path (xxhash64 line keys, line text never
        shuffled) produces identical output to the exact path."""
        from etl_on_weather_dataset_spark.operators.corpus import (
            remove_boilerplate_lines,
        )

        docs = self._docs(spark)
        exact = sorted(map(tuple, remove_boilerplate_lines(
            docs, min_docs=2, hash_keys=False).collect()))
        hashed = sorted(map(tuple, remove_boilerplate_lines(
            docs, min_docs=2, hash_keys=True).collect()))
        assert exact == hashed


class TestCapPerKey:
    def test_cap_and_determinism(self, spark):
        from etl_on_weather_dataset_spark.operators.sample import (
            cap_per_key,
        )

        rows = [(i, f"src{i % 3}") for i in range(100)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        got = cap_per_key(df, "source", "doc_id", cap=5)
        counts = {r["source"]: r["n"] for r in got.groupBy("source")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
        assert counts == {"src0": 5, "src1": 5, "src2": 5}
        # deterministic: same survivors on a different partitioning
        again = cap_per_key(df.repartition(13), "source", "doc_id",
                            cap=5)
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, again.collect()))

    def test_small_groups_untouched(self, spark):
        from etl_on_weather_dataset_spark.operators.sample import (
            cap_per_key,
        )

        df = spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b")],
            "doc_id long, source string",
        )
        assert cap_per_key(df, "source", "doc_id", cap=10).count() == 3


class TestImportanceLogratio:
    def test_target_like_docs_score_higher(self, spark):
        """Docs made of target-heavy tokens score above docs made of
        background-only tokens; threshold 0 separates them."""
        from etl_on_weather_dataset_spark.operators.corpus import (
            importance_logratio,
        )

        docs = spark.createDataFrame(
            [
                (1, "alpha beta alpha beta alpha", "en"),
                (2, "alpha beta gamma alpha beta", "en"),
                (3, "delta epsilon delta epsilon zeta", "de"),
                (4, "alpha beta alpha epsilon beta", "de"),
            ],
            "doc_id long, text string, lang string",
        )
        got = {r["id"]: r for r in importance_logratio(
            docs, F.col("lang") == "en").collect()}
        # docs 1-2 are the target exemplars themselves -> positive
        assert got[1]["selected"] and got[2]["selected"]
        # doc 3 shares no tokens with the target -> strongly negative
        assert not got[3]["selected"]
        assert got[3]["avg_logratio_micro"] < got[4]["avg_logratio_micro"]
        # doc 4 is mostly target-vocabulary -> scores above doc 3
        assert got[4]["avg_logratio_micro"] > got[3]["avg_logratio_micro"]

    def test_partitioning_invariant(self, spark):
        from etl_on_weather_dataset_spark.operators.corpus import (
            importance_logratio,
        )

        docs = spark.createDataFrame(
            [(i, "tok%d tok%d tok0" % (i % 7, i % 3),
              "en" if i % 2 else "de") for i in range(60)],
            "doc_id long, text string, lang string",
        )
        a = sorted(map(tuple, importance_logratio(
            docs, F.col("lang") == "en").collect()))
        b = sorted(map(tuple, importance_logratio(
            docs.repartition(11), F.col("lang") == "en").collect()))
        assert a == b


class TestSemDeDup:
    def _emb(self, spark, rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_semantic_dup_groups_and_keep_rule(self, spark):
        """Identical/near-identical vectors group; exactly one member
        survives per group (the one least like its centroid, min id on
        ties); singletons always survive with null component."""
        from etl_on_weather_dataset_spark.operators.similarity import (
            semdedup,
        )

        base = [1.0] + [0.0] * 63
        near = [0.999] + [0.001] * 63
        other = [0.0] * 32 + [1.0] + [0.0] * 31
        rows = [(1, base), (2, list(base)), (3, near), (4, other)]
        got = {r["id"]: r for r in semdedup(
            self._emb(spark, rows), 0.99, n_cells=8, dim=64).collect()}
        # 1,2,3 are one semantic group; 4 is alone
        comps = {got[i]["component"] for i in (1, 2, 3)}
        assert len(comps) == 1 and comps != {None}
        assert got[4]["component"] is None and got[4]["keep"]
        keepers = [i for i in (1, 2, 3) if got[i]["keep"]]
        assert len(keepers) == 1
        # the keep rule: minimum cent_sim wins, ties by min id
        min_cs = min(got[i]["cent_sim"] for i in (1, 2, 3))
        expected = min(i for i in (1, 2, 3)
                       if got[i]["cent_sim"] == min_cs)
        assert keepers == [expected]

    def test_partitioning_invariant(self, spark):
        from etl_on_weather_dataset_spark.operators.similarity import (
            semdedup,
        )

        rows = [(i, [((i * 37 + j * 11) % 97) / 97.0 - 0.5
                     for j in range(64)]) for i in range(40)]
        # plant dups: 100+i duplicates i for i < 5
        rows += [(100 + i, list(rows[i][1])) for i in range(5)]
        df = self._emb(spark, rows)
        a = sorted(map(tuple, semdedup(df, 0.99, n_cells=4).collect()))
        b = sorted(map(tuple, semdedup(
            df.repartition(7), 0.99, n_cells=4).collect()))
        assert a == b
        got = {r[0]: r for r in a}  # (id, cell, cent_sim, comp, keep)
        # every planted identical pair shares a component
        for i in range(5):
            assert got[i][3] is not None
            assert got[i][3] == got[100 + i][3], (i, got[i], got[100 + i])
        # exactly one survivor per component, overall
        by_comp: dict[int, list] = {}
        for r in a:
            if r[3] is not None:
                by_comp.setdefault(r[3], []).append(r[4])
        for comp, keeps in by_comp.items():
            assert keeps.count(True) == 1, (comp, keeps)


class TestIvfProbes:
    def test_probe_prefix_and_argmax_consistency(self, spark):
        """Probe lists are nested (p=2's first element == the argmax
        cell used by the corpus side and by n_probe=1), and n_probe>1
        results are a superset-quality ranking: every n_probe=1 hit at
        rank r stays at rank <= r under n_probe=2."""
        from etl_on_weather_dataset_spark.operators.similarity import (
            _centroid_argmax,
            _probe_cells,
            _as_double,
            ivf_topk,
            lsh_hyperplanes,
        )

        rows = [(i, [((i * 13 + j * 7) % 89) / 89.0 - 0.5
                     for j in range(64)]) for i in range(50)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        cents = lsh_hyperplanes(64, 16, 7)
        cents_col = F.array(*[
            F.array(*[F.lit(x) for x in c]) for c in cents
        ])
        chk = df.select(
            _centroid_argmax(
                _as_double("embedding"), cents_col
            ).alias("argmax"),
            _probe_cells(
                _as_double("embedding"), cents_col, 4
            ).alias("probes"),
        ).collect()
        for r in chk:
            assert r["probes"][0] == r["argmax"]
            assert len(set(r["probes"])) == 4  # distinct cells
        # monotone recall: the n_probe=1 result set is contained in
        # the n_probe=2 candidate universe, so top-k can only improve
        p1 = ivf_topk(df, k=3, n_probe=1)
        p2 = ivf_topk(df, k=3, n_probe=2)
        s1 = {(r["query_id"], r["neighbor_id"], r["sim"])
              for r in p1.collect()}
        s2 = {(r["query_id"], r["neighbor_id"], r["sim"])
              for r in p2.collect()}
        # every p2 top-3 sim is >= the p1 sim at the same rank
        by_q1 = {}
        for r in p1.collect():
            by_q1.setdefault(r["query_id"], {})[r["rk"]] = r["sim"]
        for r in p2.collect():
            q = r["query_id"]
            if q in by_q1 and r["rk"] in by_q1[q]:
                assert r["sim"] >= by_q1[q][r["rk"]], (q, r)
        assert s1 and s2


class TestMixCorpus:
    def test_mixture_respects_weights_and_budget(self, spark):
        from etl_on_weather_dataset_spark.operators.sample import (
            mix_corpus,
        )

        # 3 sources x 200 docs x 10 tokens = 2000 tokens each
        rows = [(s * 1000 + i, f"s{s}", "tok " * 9 + "tok")
                for s in range(3) for i in range(200)]
        df = spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        )
        kept = mix_corpus(
            df, {"s0": 0.5, "s1": 0.5}, token_budget=2000,
        )
        got = {r["source"]: r["n"] for r in kept.groupBy("source")
               .agg(F.count(F.lit(1)).alias("n")).collect()}
        # s2 has weight 0 -> dropped entirely
        assert "s2" not in got
        # each kept source targets 1000 of its 2000 tokens (f=0.5):
        # ~100 docs, binomial spread
        for s in ("s0", "s1"):
            assert 60 <= got[s] <= 140, got
        # deterministic across partitionings
        again = mix_corpus(
            df.repartition(7), {"s0": 0.5, "s1": 0.5},
            token_budget=2000,
        )
        assert sorted(r["doc_id"] for r in kept.collect()) == \
            sorted(r["doc_id"] for r in again.collect())

    def test_fraction_caps_at_one(self, spark):
        from etl_on_weather_dataset_spark.operators.sample import (
            mix_corpus,
        )

        df = spark.createDataFrame(
            [(1, "a", "x y z"), (2, "a", "p q r")],
            "doc_id long, source string, text string",
        )
        kept = mix_corpus(df, {"a": 1.0}, token_budget=10**9)
        assert kept.count() == 2
        assert all(r["mix_keep_frac"] == 1.0 for r in kept.collect())


class TestCachingScoped:
    def test_scoped_releases_only_inner_frames(self, spark):
        from etl_on_weather_dataset_spark.operators import caching

        outer = caching.persisted(spark.range(10))
        outer.count()
        try:
            with caching.scoped():
                inner = caching.persisted(spark.range(20))
                inner.count()
                assert inner.storageLevel.useMemory
            # inner released by the scope, outer untouched
            assert not inner.storageLevel.useMemory
            assert outer.storageLevel.useMemory
            assert outer in caching._TRACKED
            assert inner not in caching._TRACKED
        finally:
            caching.release_all()


class TestComponentsReliableCheckpoint:
    def test_uses_reliable_checkpoint_dir_when_configured(
        self, spark, tmp_path
    ):
        """With a checkpoint dir set, truncation writes reliable
        checkpoints there (cluster-safe) and labels stay exact."""
        import os

        from etl_on_weather_dataset_spark.operators.dedup import (
            dedup_components,
        )

        ckpt = str(tmp_path / "ckpt")
        spark.sparkContext.setCheckpointDir(ckpt)
        try:
            pairs = spark.createDataFrame(
                [(i, i + 1) for i in range(10)], "id_a long, id_b long"
            )
            got = {
                r["id"]: r["component"]
                for r in dedup_components(
                    pairs, max_iter=20, check_every=3, truncate_every=4
                ).collect()
            }
            assert got == {i: 0 for i in range(11)}
            # a reliable checkpoint actually landed on disk
            assert any(
                files for _, _, files in os.walk(ckpt)
            ), "no checkpoint files written"
        finally:
            # unset so later tests keep the localCheckpoint path
            getattr(spark.sparkContext._jsc.sc(), "checkpointDir_$eq")(
                spark.sparkContext._jvm.scala.Option.empty()
            )


class TestIvfPq:
    def test_full_rerank_equals_plain_ivf(self, spark):
        """With rerank >= corpus size the ADC shortlist keeps every
        candidate, so exact rescoring must reproduce plain ivf_topk
        at the same probes exactly -- PQ only reorders the shortlist
        CUT, never the reported sims."""
        from etl_on_weather_dataset_spark.operators.caching import (
            release_all,
        )
        from etl_on_weather_dataset_spark.operators.similarity import (
            ivf_pq_topk,
            ivf_topk,
        )

        rows = [(i, [((i * 29 + j * 17) % 101) / 101.0 - 0.5
                     for j in range(64)]) for i in range(60)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        try:
            plain = sorted(map(tuple, ivf_topk(
                df, k=4, n_probe=2).collect()))
            pq = sorted(map(tuple, ivf_pq_topk(
                df, k=4, n_probe=2, rerank=10_000).collect()))
            assert plain == pq
        finally:
            release_all()

    def test_codes_are_in_range_and_deterministic(self, spark):
        from etl_on_weather_dataset_spark.operators.caching import (
            release_all,
        )
        from etl_on_weather_dataset_spark.operators.similarity import (
            ivf_pq_topk,
        )

        rows = [(i, [((i * 7 + j * 3) % 53) / 53.0 - 0.5
                     for j in range(64)]) for i in range(40)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        try:
            a = sorted(map(tuple, ivf_pq_topk(df, k=3).collect()))
            b = sorted(map(tuple, ivf_pq_topk(
                df.repartition(5), k=3).collect()))
            assert a == b and a
        finally:
            release_all()

    @pytest.mark.parametrize("residual", [False, True])
    def test_single_probe_matches_oracle(self, spark, residual):
        """n_probe=1 against the DuckDB twin at sf0.001, raw and
        residual codes (the registered queries all probe 2 cells)."""
        from etl_on_weather_dataset_spark.operators.caching import (
            release_all,
        )
        from etl_on_weather_dataset_spark.operators.similarity import (
            ivf_pq_topk,
            ivf_pq_topk_sql,
        )
        from etl_on_weather_dataset_spark.schemas import load_table

        from .conftest import SF_SMOKE as sf
        from .oracle_harness import compare

        emb = load_table(spark, sf, "embeddings")
        try:
            compare(
                ivf_pq_topk(emb, k=5, n_probe=1, residual=residual),
                ivf_pq_topk_sql(k=5, n_probe=1, residual=residual),
                sf,
                name=f"ivf_pq_topk_n_probe1_residual{residual}",
            )
        finally:
            release_all()


def test_one_topk_ranker():
    """AST scan: the package writes the per-query ranking window
    (``Window.partitionBy("query_id")``) exactly once, inside
    ``similarity._rank_topk``; every top-k operator and recall curve
    ranks through it."""
    import ast
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    pkg = repo / "etl_on_weather_dataset_spark"
    found = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef):
                for n in ast.walk(fn):
                    owner.setdefault(id(n), fn.name)
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "partitionBy"
                    and [getattr(a, "value", None) for a in node.args]
                    == ["query_id"]):
                found.append(
                    (path.relative_to(pkg).as_posix(), owner.get(id(node)))
                )
    assert found == [("operators/similarity.py", "_rank_topk")], found


class TestKmeans:
    def test_separates_planted_clusters(self, spark):
        """Two tight planted blobs end up in different clusters with
        low inertia; assignment is partitioning-invariant."""
        from etl_on_weather_dataset_spark.operators.caching import (
            release_all,
        )
        from etl_on_weather_dataset_spark.operators.cluster import kmeans

        def blob(center, i):
            return [center + ((i * 31 + j * 13) % 7) * 1e-3
                    for j in range(64)]

        rows = [(i, blob(1.0, i)) for i in range(30)] + \
               [(100 + i, blob(-1.0, i)) for i in range(30)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        try:
            out = kmeans(df, k=4, iters=3).collect()
            # the two blobs cannot share a cluster: total inertia of a
            # mixed cluster would be ~2 per axis * 64 dims * members
            sizes = sorted(r["n_members"] for r in out)
            assert sum(sizes) == 60
            for r in out:
                # within-blob spread is ~1e-3 -> tiny exact inertia
                assert r["inertia_micro"] < 10_000_000 * r["n_members"]
            again = kmeans(df.repartition(7), k=4, iters=3).collect()
            assert sorted(map(tuple, out)) == sorted(map(tuple, again))
        finally:
            release_all()


class TestCountMin:
    def test_one_sided_guarantee_and_merge(self, spark):
        """est >= true for every key (deterministically -- collisions
        only inflate), and a sketch merged from two batches equals the
        one-shot sketch (cell-wise re-sum)."""
        from etl_on_weather_dataset_spark.operators.bloom import (
            build_count_min,
            cms_estimates,
        )

        rows = [(f"k{i % 7}",) for i in range(100)] + [("rare",)]
        df = spark.createDataFrame(rows, "key string")
        sketch = build_count_min(df, "key", width=4, depth=3)
        keys = df.distinct()
        est = {r["key"]: r["est"] for r in cms_estimates(
            sketch, keys, "key", width=4, depth=3).collect()}
        true = {r["key"]: r["n"] for r in df.groupBy("key")
                .agg(F.count(F.lit(1)).alias("n")).collect()}
        assert set(est) == set(true)
        for k in true:
            assert est[k] >= true[k], (k, est[k], true[k])
        # merge = union the cell rows and re-sum (batch split by a
        # clean predicate so multiplicities are preserved)
        h1 = df.filter(F.col("key") < "k4")
        h2 = df.filter(~(F.col("key") < "k4"))
        s1 = build_count_min(h1, "key", width=4, depth=3)
        s2 = build_count_min(h2, "key", width=4, depth=3)
        merged = (
            s1.unionAll(s2).groupBy("row", "cell")
            .agg(F.sum("cnt").alias("cnt"))
        )
        a = sorted(map(tuple, sketch.collect()))
        b = sorted(map(tuple, merged.collect()))
        assert a == b


class TestWeightedSample:
    def test_weight_proportional_and_deterministic(self, spark):
        """Heavier rows are sampled more often (ES guarantee,
        verified over independent salts), zero/null weights are never
        sampled, and the draw is partitioning-invariant."""
        from etl_on_weather_dataset_spark.operators.sample import (
            weighted_sample,
        )

        rows = [(i, 10.0 if i < 20 else 1.0) for i in range(120)]
        rows += [(900, 0.0), (901, None)]
        df = spark.createDataFrame(rows, "doc_id long, w double")
        picks: dict[int, int] = {}
        for s in range(8):
            got = weighted_sample(
                df, "w", 30, "doc_id", salt=f"t{s}"
            ).collect()
            assert len(got) == 30
            ids = [r["doc_id"] for r in got]
            assert 900 not in ids and 901 not in ids
            for i in ids:
                picks[i] = picks.get(i, 0) + 1
        heavy = sum(picks.get(i, 0) for i in range(20))
        light = sum(picks.get(i, 0) for i in range(20, 120))
        # 20 heavy rows carry 200 of 300 total weight; with 30 draws
        # x 8 salts they must dominate the 100 light rows
        assert heavy > light, (heavy, light)
        a = sorted(map(tuple, weighted_sample(
            df, "w", 30, "doc_id").collect()))
        b = sorted(map(tuple, weighted_sample(
            df.repartition(7), "w", 30, "doc_id").collect()))
        assert a == b


class TestDuplicatedSpans:
    """Exact-substring span dedup (dedup.py tier 5)."""

    def _docs(self, spark):
        # doc 0 and 1 share the verbatim 6-token run "a b c d e f";
        # doc 2 repeats its own 6-token window twice (within-doc dup);
        # doc 3 is unique; doc 4 is shorter than the window.
        return spark.createDataFrame(
            [
                (0, "a b c d e f x y z"),
                (1, "p q a b c d e f"),
                (2, "m n o p q r m n o p q r"),
                (3, "one two three four five six seven"),
                (4, "too short"),
            ],
            ["doc_id", "text"],
        )

    def test_span_stats_semantics(self, spark):
        from etl_on_weather_dataset_spark.operators.dedup import (
            duplicated_span_stats,
        )

        from etl_on_weather_dataset_spark.operators.caching import (
            release_all,
        )

        try:
            out = {
                r["id"]: r
                for r in duplicated_span_stats(
                    self._docs(spark), window=6
                ).collect()
            }
        finally:
            release_all()
        assert len(out) == 5
        # cross-doc dup: exactly the 6 shared tokens covered
        assert out[0]["covered_tokens"] == 6
        assert out[0]["n_dup_spans"] == 1
        assert out[1]["covered_tokens"] == 6
        # within-doc repeat: windows at starts 0..6 all dup ("m n o p
        # q r m..." every 6-window of a 12-token doubled string occurs
        # twice corpus-wide via self-overlap) -> whole doc covered
        assert out[2]["covered_tokens"] == 12
        assert out[2]["flagged"] == 1
        # unique doc and short doc: untouched
        assert out[3]["covered_tokens"] == 0
        assert out[3]["flagged"] == 0
        assert out[4]["n_dup_windows"] == 0

    def test_span_removal_rebuild(self, spark):
        from etl_on_weather_dataset_spark.operators.dedup import (
            remove_duplicated_spans,
        )

        from etl_on_weather_dataset_spark.operators.caching import (
            release_all,
        )

        try:
            out = {
                r["id"]: r["clean_text"]
                for r in remove_duplicated_spans(
                    self._docs(spark), window=6
                ).collect()
            }
        finally:
            release_all()
        assert out[0] == "x y z"
        assert out[1] == "p q"
        assert out[2] == ""          # fully duplicated doc vanishes
        assert out[3] == "one two three four five six seven"
        assert out[4] == "too short"

    def test_adjacent_windows_merge_to_one_span(self, spark):
        from etl_on_weather_dataset_spark.operators.dedup import (
            duplicated_span_stats,
        )

        # two docs sharing a 7-token run -> two overlapping dup
        # windows merge into ONE 7-token span
        df = spark.createDataFrame(
            [(0, "a b c d e f g x"), (1, "y a b c d e f g")],
            ["doc_id", "text"],
        )
        from etl_on_weather_dataset_spark.operators.caching import (
            release_all,
        )

        try:
            rows = duplicated_span_stats(df, window=6).collect()
        finally:
            release_all()
        for r in rows:
            assert r["n_dup_windows"] == 2
            assert r["n_dup_spans"] == 1
            assert r["covered_tokens"] == 7


class TestBM25:
    def test_ranking_and_exclusion(self, spark):
        from etl_on_weather_dataset_spark.operators.retrieval import (
            bm25_topk,
        )

        df = spark.createDataFrame(
            [
                (0, "x x x pad"),          # high tf, short
                (1, "x pad pad pad pad pad pad pad"),  # low tf, long
                (2, "pad pad pad"),        # no match -> excluded
                (3, "x x pad pad"),
            ],
            ["doc_id", "text"],
        )
        rows = bm25_topk(df, ["x"], k=10).collect()
        ids = [r["id"] for r in rows]
        assert 2 not in ids                 # non-matching doc excluded
        assert ids[0] == 0                  # highest tf, shortest
        assert ids.index(3) < ids.index(1)  # tf and length norm order
        assert all(r["score"] > 0 for r in rows)

    def test_k_limit_and_tiebreak(self, spark):
        from etl_on_weather_dataset_spark.operators.retrieval import (
            bm25_topk,
        )

        # four identical docs -> identical scores; tie-break is id asc
        df = spark.createDataFrame(
            [(i, "x pad") for i in range(4)], ["doc_id", "text"]
        )
        rows = bm25_topk(df, ["x"], k=2).collect()
        assert [r["id"] for r in rows] == [0, 1]

    def test_multi_term_additivity(self, spark):
        from etl_on_weather_dataset_spark.operators.retrieval import (
            bm25_topk,
        )

        # doc matching both terms must outscore docs matching one,
        # all else equal
        df = spark.createDataFrame(
            [(0, "x y"), (1, "x pad"), (2, "y pad"), (3, "pad pad")],
            ["doc_id", "text"],
        )
        rows = bm25_topk(df, ["x", "y"], k=10).collect()
        assert rows[0]["id"] == 0
        assert len(rows) == 3


class TestLinearClassifiers:
    def test_vocab_score_exact(self, spark):
        from etl_on_weather_dataset_spark.operators.classify import (
            vocab_linear_score,
        )

        w = {"good": 500, "bad": -700}
        df = spark.createDataFrame(
            [
                (0, "good good neutral"),   # 1000 milli / 3 tokens
                (1, "bad neutral"),         # -700 / 2
                (2, "neutral only here"),   # 0 -> label 0 (not >0)
            ],
            ["doc_id", "text"],
        )
        out = {r["id"]: r for r in vocab_linear_score(df, w).collect()}
        assert out[0]["logit_milli"] == 1000
        assert out[0]["label"] == 1
        assert out[1]["logit_milli"] == -700
        assert out[1]["label"] == 0
        assert out[2]["logit_milli"] == 0
        assert out[2]["label"] == 0
        assert out[0]["logit"] == 1000 / 3000.0

    def test_hashed_score_deterministic_and_integer_exact(self, spark):
        from etl_on_weather_dataset_spark.operators.classify import (
            hashed_linear_score,
        )

        df = spark.createDataFrame(
            [(0, "alpha beta gamma"), (1, "alpha beta gamma")],
            ["doc_id", "text"],
        )
        rows = hashed_linear_score(df).collect()
        # same text -> identical exact integer logits
        assert rows[0]["logit_milli"] == rows[1]["logit_milli"]
        # partitioning must not change the per-row result
        rows2 = hashed_linear_score(df.repartition(5)).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))

    def test_threshold_applies_to_exact_sum(self, spark):
        from etl_on_weather_dataset_spark.operators.classify import (
            vocab_linear_score,
        )

        # threshold is per-token milli: mean weight must EXCEED it
        w = {"good": 100}
        df = spark.createDataFrame([(0, "good good")], ["doc_id", "text"])
        assert (
            vocab_linear_score(df, w, threshold_milli=100)
            .collect()[0]["label"] == 0   # mean == threshold -> 0
        )
        assert (
            vocab_linear_score(df, w, threshold_milli=99)
            .collect()[0]["label"] == 1
        )


class TestRecordLinkage:
    def test_blocked_pairs_find_single_edit(self, spark):
        from etl_on_weather_dataset_spark.operators.linkage import (
            qgram_blocked_pairs,
        )

        clean = spark.createDataFrame(
            [(1, "jonathan smith"), (2, "mary-jane kelly"),
             (3, "zz")],                     # shorter than q
            ["id", "name"],
        )
        dirty = spark.createDataFrame(
            [(1, "jonathn smith"),           # one deletion
             (2, "mary-jane kelly"),         # identical
             (3, "zz"),                      # identical short name
             (9, "completely other")],
            ["id", "name"],
        )
        pairs = {
            (r["id_a"], r["id_b"]): r["dist"]
            for r in qgram_blocked_pairs(clean, dirty).collect()
        }
        assert pairs[(1, 1)] == 1
        assert pairs[(2, 2)] == 0
        assert pairs[(3, 3)] == 0            # whole-string gram block
        assert all(a != 9 and b != 9 for a, b in pairs)

    def test_hot_gram_guard_drops_universal_grams(self, spark):
        from etl_on_weather_dataset_spark.operators.linkage import (
            qgram_blocked_pairs,
        )

        # every record shares the prefix "AAAA"; with the guard at 50%
        # those grams are stop-grams, so records whose remaining grams
        # differ never become candidates
        clean = spark.createDataFrame(
            [(1, "AAAAxyzw"), (2, "AAAAqrst")], ["id", "name"]
        )
        dirty = spark.createDataFrame(
            [(3, "AAAAmnop")], ["id", "name"]
        )
        pairs = qgram_blocked_pairs(
            clean, dirty, max_rel_freq=0.5, max_dist=99,
            min_keep_count=2,
        ).collect()
        assert pairs == []                   # only hot grams shared

    def test_summary_full_recall_when_grams_survive(self, spark):
        from etl_on_weather_dataset_spark.operators.linkage import (
            linkage_summary,
        )

        clean = spark.createDataFrame(
            [(i, f"record-{i}-alpha") for i in range(1, 5)],
            ["id", "name"],
        )
        dirty = spark.createDataFrame(
            [(i, f"recrd-{i}-alpha") for i in range(1, 5)],  # drop 'o'
            ["id", "name"],
        )
        row = linkage_summary(clean, dirty, max_rel_freq=1.0).collect()[0]
        assert row["n_records"] == 4
        assert row["n_true_links"] == 4
        assert row["recall_ppm"] == 1_000_000


class TestIncrementalSimhashDedup:
    def _run(self, spark, tmp_path, batches, **kw):
        from etl_on_weather_dataset_spark.operators.dedup import (
            incremental_simhash_dedup,
        )

        outs = []
        for i, rows in enumerate(batches):
            df = spark.createDataFrame(rows, ["doc_id", "text"])
            outs.append(
                incremental_simhash_dedup(
                    spark, df, str(tmp_path / "store"),
                    str(tmp_path / f"o{i}"), **kw
                )
            )
        return outs

    def test_cross_batch_exact_copy_drops(self, spark, tmp_path):
        l1, l2 = self._run(
            spark, tmp_path,
            [
                [(1, "alpha beta gamma delta")],
                [(2, "alpha beta gamma delta"),        # exact copy
                 (3, "totally different words here")],
            ],
        )
        assert [r["doc_id"] for r in l1.collect()] == [1]
        assert [r["doc_id"] for r in l2.collect()] == [3]

    def test_token_set_permutation_is_hamming_zero(self, spark, tmp_path):
        # simhash is over DISTINCT tokens: same token set in another
        # order is Hamming 0 -> dropped even though md5(text) differs
        l1, l2 = self._run(
            spark, tmp_path,
            [
                [(1, "a b c d e f g h")],
                [(2, "h g f e d c b a")],
            ],
        )
        assert l1.count() == 1
        assert l2.count() == 0

    def test_within_batch_collapse_keeps_min_id(self, spark, tmp_path):
        (l1,) = self._run(
            spark, tmp_path,
            [[(7, "x y z w"), (4, "x y z w"), (9, "p q r s")]],
        )
        assert sorted(r["doc_id"] for r in l1.collect()) == [4, 9]

    def test_pigeonhole_parameter_guard(self, spark, tmp_path):
        from etl_on_weather_dataset_spark.operators.dedup import (
            incremental_simhash_dedup,
        )

        df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
        with pytest.raises(ValueError, match="pigeonhole"):
            incremental_simhash_dedup(
                spark, df, str(tmp_path / "s"), str(tmp_path / "o"),
                n_bands=4, max_hamming=4,
            )


class TestColumnProfile:
    def test_stats_and_type_slots(self, spark):
        from etl_on_weather_dataset_spark.operators.profile import (
            profile,
        )

        df = spark.createDataFrame(
            [(1, "aa", 2.5), (2, None, -1.0), (2, "bbb", None)],
            "k long, s string, v double",
        )
        out = {r["col_name"]: r for r in profile(df).collect()}
        assert out["k"]["n_rows"] == 3
        assert out["k"]["n_null"] == 0
        assert out["k"]["n_distinct"] == 2
        assert out["k"]["min_num"] == 1.0 and out["k"]["max_num"] == 2.0
        assert out["k"]["min_len"] is None          # numeric slot only
        assert out["s"]["n_null"] == 1
        assert out["s"]["n_distinct"] == 2
        assert out["s"]["min_len"] == 2 and out["s"]["max_len"] == 3
        assert out["s"]["min_num"] is None
        assert out["v"]["n_null"] == 1
        assert out["v"]["min_num"] == -1.0 and out["v"]["max_num"] == 2.5

    def test_approx_mode_runs_without_expand(self, spark):
        from etl_on_weather_dataset_spark.operators.profile import (
            profile,
        )

        df = spark.createDataFrame([(i, str(i)) for i in range(100)],
                                   "k long, s string")
        out = profile(df, exact_distinct=False)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Expand" not in plan       # HLL path: no multi-distinct
        assert out.count() == 2


class TestBigramLogprob:
    def test_transition_probabilities_exact(self, spark):
        from etl_on_weather_dataset_spark.operators.corpus import (
            bigram_logprob,
        )

        # corpus bigrams: (a,b) x2, (b,a) x1, (a,c) x1
        # context counts: a->3, b->1
        df = spark.createDataFrame(
            [(0, "a b a c"), (1, "a b"), (2, "x")],
            ["doc_id", "text"],
        )
        out = {r["id"]: r for r in bigram_logprob(df).collect()}
        import math

        def micro(p):
            return round(math.log(p) * 1e6)

        # doc 0: ln(2/3) + ln(1/1) + ln(1/3) over 3 transitions
        exp0 = round((micro(2 / 3) + micro(1.0) + micro(1 / 3)) / 3)
        assert out[0]["n_bigrams"] == 3
        assert out[0]["avg_logprob_micro"] == exp0
        # doc 1: single transition (a,b): ln(2/3)
        assert out[1]["avg_logprob_micro"] == micro(2 / 3)
        # doc 2: one token -> no transitions -> absent
        assert 2 not in out


class TestLinkageAbsCap:
    def test_abs_cap_bounds_hot_blocks(self, spark):
        from etl_on_weather_dataset_spark.operators.linkage import (
            qgram_blocked_pairs,
        )

        # 30 records all sharing the prefix "AAAA": with the absolute
        # cap below the prefix-gram frequency (60 postings), those
        # blocks drop; each record's unique suffix grams survive and
        # still link it to its own perturbed twin
        clean = spark.createDataFrame(
            [(i, f"AAAA-{i:04d}x") for i in range(30)], ["id", "name"]
        )
        dirty = spark.createDataFrame(
            [(i, f"AAAA{i:04d}x") for i in range(30)],  # drop the '-'
            ["id", "name"],
        )
        pairs = qgram_blocked_pairs(
            clean, dirty, max_rel_freq=1.0, max_abs_count=10,
        ).collect()
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        assert {(i, i) for i in range(30)} <= got


class TestProfileDateCoercion:
    def test_date_min_max_surface_as_timestamp(self, spark):
        """The struct-array unpivot coerces DATE min/max to timestamp;
        the SQL twin casts to TIMESTAMP to match (review finding)."""
        import datetime

        from etl_on_weather_dataset_spark.operators.profile import (
            profile,
        )

        df = spark.createDataFrame(
            [(1, datetime.date(2020, 1, 2)),
             (2, datetime.date(2021, 3, 4))],
            "k long, d date",
        )
        out = profile(df)
        ts_field = {f.name: f.dataType.simpleString()
                    for f in out.schema.fields}
        assert ts_field["min_ts"].startswith("timestamp")
        row = {r["col_name"]: r for r in out.collect()}
        assert row["d"]["min_ts"] == datetime.datetime(2020, 1, 2)
        assert row["d"]["max_ts"] == datetime.datetime(2021, 3, 4)


class TestIncrementalReplayGuard:
    def test_replay_returns_landing_instead_of_destroying_it(
        self, spark, tmp_path
    ):
        """At-least-once replay: re-running a COMPLETED batch against a
        store that already holds its fingerprints must return the
        landed survivors untouched -- not overwrite them with the
        empty re-probe (review finding: silent data loss)."""
        from etl_on_weather_dataset_spark.operators.dedup import (
            incremental_exact_dedup,
            incremental_simhash_dedup,
        )

        df = spark.createDataFrame(
            [(1, "alpha beta"), (2, "gamma delta")],
            "doc_id long, text string",
        )
        for op, store, out in (
            (incremental_exact_dedup, "s_e", "o_e"),
            (incremental_simhash_dedup, "s_h", "o_h"),
        ):
            first = op(spark, df, str(tmp_path / store),
                       str(tmp_path / out))
            assert first.count() == 2
            replay = op(spark, df, str(tmp_path / store),
                        str(tmp_path / out))
            assert replay.count() == 2          # not an empty re-land
            assert sorted(r["doc_id"] for r in replay.collect()) == [1, 2]
            # and the store was not double-appended by the replay
            n_store = spark.read.parquet(str(tmp_path / store)).count()
            assert n_store == 2

    def test_crash_between_land_and_append_self_heals(
        self, spark, tmp_path
    ):
        """Crash AFTER the landing but BEFORE the store append: the
        replay must re-append the landing's fingerprints (not skip
        them -- later batches would re-admit the content) and must
        not re-probe (the original data-loss bug)."""
        import os

        from etl_on_weather_dataset_spark.operators.dedup import (
            _MARK_APPENDED,
            incremental_exact_dedup,
        )

        df = spark.createDataFrame(
            [(1, "alpha beta")], "doc_id long, text string"
        )
        store, out = str(tmp_path / "s"), str(tmp_path / "o")
        incremental_exact_dedup(spark, df, store, out)
        # simulate the crash window: store append never marked, and
        # roll the store back to its pre-append (empty) state
        os.remove(f"{out}/{_MARK_APPENDED}")
        import shutil

        shutil.rmtree(store)
        replay = incremental_exact_dedup(spark, df, store, out)
        assert replay.count() == 1           # landing intact
        # self-heal: the fingerprints are back in the store, so a
        # later batch with the same content is dropped
        later = incremental_exact_dedup(
            spark,
            spark.createDataFrame(
                [(9, "alpha beta")], "doc_id long, text string"
            ),
            store,
            str(tmp_path / "o2"),
        )
        assert later.count() == 0


class TestRRFFusion:
    def test_fusion_semantics(self, spark):
        from etl_on_weather_dataset_spark.operators.retrieval import (
            rrf_fuse,
        )

        a = spark.createDataFrame(
            [(10, 1), (11, 2), (12, 3)], "id long, rk int"
        )
        b = spark.createDataFrame(
            [(11, 1), (13, 2)], "id long, rk int"
        )
        rows = {r["id"]: r for r in rrf_fuse(a, b, k0=60, k=10).collect()}
        m = lambda r: round(1e6 / (60 + r))  # noqa: E731
        # doc in both lists sums both contributions
        assert rows[11]["rrf_micro"] == m(2) + m(1)
        assert rows[10]["rrf_micro"] == m(1)
        assert rows[13]["rrf_micro"] == m(2)
        # fused order: 11 (both lists) first
        assert rows[11]["fused_rank"] == 1
        assert len(rows) == 4

    def test_k_truncation(self, spark):
        from etl_on_weather_dataset_spark.operators.retrieval import (
            rrf_fuse,
        )

        a = spark.createDataFrame(
            [(i, i + 1) for i in range(30)], "id long, rk int"
        )
        b = spark.createDataFrame([], "id long, rk int")
        out = rrf_fuse(a, b, k=5).collect()
        assert [r["id"] for r in out] == [0, 1, 2, 3, 4]


class TestFunnelAndRetention:
    def test_order_matters(self, spark):
        import datetime

        from etl_on_weather_dataset_spark.operators.funnel import (
            funnel_counts,
        )

        t = lambda m: datetime.datetime(2024, 1, 1, 0, m)  # noqa: E731
        df = spark.createDataFrame(
            [
                # u1: A then B -> completes both
                (1, t(1), "A"), (1, t(2), "B"),
                # u2: B then A (no B after A) -> completes only A
                (2, t(1), "B"), (2, t(2), "A"),
                # u3: simultaneous A and B -> strict > blocks step 2
                (3, t(5), "A"), (3, t(5), "B"),
                # u4: B only -> completes nothing
                (4, t(1), "B"),
            ],
            "user_id long, ts timestamp, event_type string",
        )
        out = {r["step"]: r["n_users"]
               for r in funnel_counts(df, ["A", "B"]).collect()}
        assert out[1] == 3        # u1, u2, u3 did A
        assert out[2] == 1        # only u1 did B strictly after A

    def test_chained_minimum_uses_earliest_valid_completion(self, spark):
        import datetime

        from etl_on_weather_dataset_spark.operators.funnel import (
            funnel_counts,
        )

        t = lambda m: datetime.datetime(2024, 1, 1, 0, m)  # noqa: E731
        # A@1, B@2, A@3, C@4: step B completes at 2 (after first A),
        # step C at 4 -> full funnel completes even though another A
        # occurs in between
        df = spark.createDataFrame(
            [(1, t(1), "A"), (1, t(2), "B"), (1, t(3), "A"),
             (1, t(4), "C")],
            "user_id long, ts timestamp, event_type string",
        )
        out = {r["step"]: r["n_users"]
               for r in funnel_counts(df, ["A", "B", "C"]).collect()}
        assert out == {1: 1, 2: 1, 3: 1}

    def test_retention_offsets(self, spark):
        import datetime

        from etl_on_weather_dataset_spark.operators.funnel import (
            cohort_retention,
        )

        d = datetime.datetime
        df = spark.createDataFrame(
            [
                (1, d(2024, 1, 1), "x"),    # Monday, cohort week 0
                (1, d(2024, 1, 9), "x"),    # next week -> offset 1
                (2, d(2024, 1, 2), "x"),    # same cohort week
                (2, d(2024, 1, 16), "x"),   # offset 2
            ],
            "user_id long, ts timestamp, event_type string",
        )
        rows = {
            (r["cohort"].day, r["period_offset"]): r["n_users"]
            for r in cohort_retention(df).collect()
        }
        assert rows[(1, 0)] == 2
        assert rows[(1, 1)] == 1
        assert rows[(1, 2)] == 1


class TestFunnelJoinFormulation:
    def test_matches_fold_formulation(self, spark):
        from etl_on_weather_dataset_spark.operators.funnel import (
            funnel_counts,
            funnel_counts_via_joins,
        )
        from etl_on_weather_dataset_spark.schemas import load_table

        ev = load_table(spark, "/root/testdata/sf0.001", "events")
        steps = ["view", "click", "purchase"]
        a = sorted(map(tuple, funnel_counts(ev, steps).collect()))
        b = sorted(map(tuple,
                       funnel_counts_via_joins(ev, steps).collect()))
        assert a == b


class TestAudioFeatures:
    def test_rms_peak_clipping_known_signal(self, spark):
        import io
        import math
        import wave as wavemod

        import numpy as np

        from etl_on_weather_dataset_spark.operators.multimodal import (
            audio_features,
        )

        def make_wav(samples):
            buf = io.BytesIO()
            with wavemod.open(buf, "wb") as w:
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(16000)
                w.writeframes(
                    np.asarray(samples, dtype="<i2").tobytes()
                )
            return bytearray(buf.getvalue())

        full = 32767
        sine = [
            int(0.5 * 32768 * math.sin(2 * math.pi * i / 100))
            for i in range(1600)
        ]
        df = spark.createDataFrame(
            [
                (1, make_wav([full] * 100)),          # clipped DC
                (2, make_wav(sine)),                  # half-scale sine
                (3, bytearray(b"not a wav")),         # corrupt
            ],
            "doc_id long, payload binary",
        )
        out = {r["doc_id"]: r for r in audio_features(df).collect()}
        assert abs(out[1]["peak"] - full / 32768.0) < 1e-9
        assert out[1]["clipping_frac"] == 1.0
        # half-scale sine: rms ~ 0.5/sqrt(2), nothing clips
        assert abs(out[2]["rms"] - 0.5 / math.sqrt(2)) < 0.01
        assert out[2]["clipping_frac"] == 0.0
        assert out[3]["rms"] is None


class TestRollingZscore:
    def _ts(self, i):
        from datetime import datetime, timedelta

        return datetime(2024, 1, 1) + timedelta(minutes=i)

    def test_spike_flagged_steady_not(self, spark):
        from etl_on_weather_dataset_spark.operators.timeseries import (
            rolling_zscore,
        )

        # user A: noisy-but-steady series, then one 100x spike
        rows = [
            (i, self._ts(i), "A", 10.0 + (i % 3) * 0.5) for i in range(25)
        ] + [(25, self._ts(25), "A", 1000.0)]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id string, value double"
        )
        out = rolling_zscore(
            df, "user_id", "ts", "event_id", "value",
            window_rows=20, threshold=3.0,
        ).collect()
        by_id = {r.event_id: r for r in out}
        assert by_id[25].is_anomaly
        # warm-up rows (< 20 predecessors) are never judged
        for i in range(20):
            assert by_id[i].z is None and not by_id[i].is_anomaly
        # steady rows inside the noise band are not flagged
        for i in range(20, 25):
            assert not by_id[i].is_anomaly

    def test_zero_variance_window_is_safe(self, spark):
        from etl_on_weather_dataset_spark.operators.timeseries import (
            rolling_zscore,
        )

        rows = [(i, self._ts(i), "A", 5.0) for i in range(30)]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id string, value double"
        )
        out = rolling_zscore(
            df, "user_id", "ts", "event_id", "value", window_rows=20
        ).collect()
        assert all(r.z is None and not r.is_anomaly for r in out)


class TestSourceDrift:
    def test_kl_zero_for_identical_sources_positive_for_skewed(self, spark):
        from etl_on_weather_dataset_spark.operators.corpus import (
            source_unigram_drift,
        )

        # a and b share one distribution; c is pure "zzz" -> drifted
        rows = (
            [("a", "x y x y"), ("b", "x y x y")] * 5
            + [("c", "zzz zzz zzz zzz")] * 5
        )
        df = spark.createDataFrame(rows, "source string, text string")
        out = {r.source: r for r in source_unigram_drift(df).collect()}
        # all-sources KL is nonnegative by Gibbs' inequality (up to
        # micro-nat rounding of each term)
        assert all(r.kl_micro >= -len(rows) for r in out.values())
        assert out["c"].kl_micro > out["a"].kl_micro
        assert out["a"].kl_micro == out["b"].kl_micro
        assert out["c"].vocab_size == 1 and out["c"].n_tokens == 20


class TestIncrementalRollup:
    def _batch(self, spark, rows):
        return spark.createDataFrame(
            rows, "k string, day date, value double"
        ).withColumnRenamed("k", "event_type")

    def test_merge_replay_and_crash_recovery(self, spark, tmp_path):
        from datetime import date

        from etl_on_weather_dataset_spark.operators.rollup_store import (
            incremental_rollup,
            read_rollup,
        )

        store = str(tmp_path / "store")
        d = date(2024, 1, 1)
        b1 = self._batch(spark, [("a", d, 1.00), ("a", d, 2.00)])
        b2 = self._batch(spark, [("a", d, 4.00), ("b", d, 8.00)])

        incremental_rollup(spark, b1, store, "b1",
                           ("event_type", "day"), "value")
        out = incremental_rollup(spark, b2, store, "b2",
                                 ("event_type", "day"), "value")
        got = {(r.event_type): (r.n_rows, r.sum_c) for r in out.collect()}
        assert got == {"a": (3, 700), "b": (1, 800)}

        # replaying b2 changes nothing (no new version either)
        _, _, v_before = read_rollup(spark, store)
        replay = incremental_rollup(spark, b2, store, "b2",
                                    ("event_type", "day"), "value")
        assert {(r.event_type): (r.n_rows, r.sum_c)
                for r in replay.collect()} == got
        _, _, v_after = read_rollup(spark, store)
        assert v_after == v_before

        # crash window: a version dir without _COMMITTED is invisible
        import pathlib

        fake = pathlib.Path(store) / f"v{v_after + 5}"
        fake.mkdir(parents=True)
        agg, _, v = read_rollup(spark, store)
        assert v == v_after
        assert {(r.event_type): (r.n_rows, r.sum_c)
                for r in agg.collect()} == got

    def test_vacuum_keeps_last_n_and_readers_stay_whole(
        self, spark, tmp_path
    ):
        """keep-last-N GC (r4 verdict item 3): old versions disappear,
        the newest N survive bit-for-bit, a reader holding a version
        inside the retention window reads intact data after GC, the
        replay ledger survives, and a marker-less (half-deleted or
        half-written) directory is never selected."""
        import pathlib
        from datetime import date

        from etl_on_weather_dataset_spark.operators.rollup_store import (
            incremental_rollup,
            read_rollup,
            vacuum_rollup_store,
        )

        store = str(tmp_path / "store")
        d = date(2024, 1, 1)
        for i in range(1, 5):  # v1..v4
            incremental_rollup(
                spark, self._batch(spark, [("a", d, float(i))]), store,
                f"b{i}", ("event_type", "day"), "value",
            )
        # reader resolves BEFORE GC, inside the keep_last=2 window
        pre_agg, _, pre_v = read_rollup(spark, store)
        assert pre_v == 4

        deleted = vacuum_rollup_store(spark, store, keep_last=2)
        assert deleted == [1, 2]
        dirs = {p.name for p in pathlib.Path(store).iterdir()}
        assert {"v3", "v4"} <= dirs and not {"v1", "v2"} & dirs
        # the pre-GC reader's resolved version is intact
        assert {(r.event_type): (r.n_rows, r.sum_c)
                for r in pre_agg.collect()} == {"a": (4, 1000)}

        # replay guard survives GC (ledger lives in the kept version)
        replay = incremental_rollup(
            spark, self._batch(spark, [("a", d, 99.0)]), store, "b2",
            ("event_type", "day"), "value",
        )
        _, _, v = read_rollup(spark, store)
        assert v == 4  # no new version: b2 recognized as applied
        assert {(r.event_type): (r.n_rows, r.sum_c)
                for r in replay.collect()} == {"a": (4, 1000)}

        # writer-integrated GC: marker lands first, then retention
        incremental_rollup(
            spark, self._batch(spark, [("b", d, 1.0)]), store, "b5",
            ("event_type", "day"), "value", keep_versions=2,
        )
        dirs = {p.name for p in pathlib.Path(store).iterdir()}
        assert {"v4", "v5"} <= dirs and "v3" not in dirs
        agg, _, v = read_rollup(spark, store)
        assert v == 5
        assert {(r.event_type): (r.n_rows, r.sum_c)
                for r in agg.collect()} == {"a": (4, 1000), "b": (1, 100)}

    def test_compact_fingerprint_store_blue_green(self, spark, tmp_path):
        from etl_on_weather_dataset_spark.operators.dedup import (
            _MARK_APPENDED,
            _marker_exists,
            compact_fingerprint_store,
        )

        src = str(tmp_path / "fp_store")
        rows = [("f1", 1), ("f1", 1), ("f2", 2), ("f2", 7), ("f3", 3)]
        spark.createDataFrame(rows, "fp string, keep_id long") \
            .write.parquet(src)
        dst = str(tmp_path / "fp_store_c")
        n = compact_fingerprint_store(spark, src, dst)
        assert n == 3
        got = {(r.fp, r.keep_id)
               for r in spark.read.parquet(dst).collect()}
        assert got == {("f1", 1), ("f2", 2), ("f3", 3)}
        # marker published; source untouched (blue/green)
        assert _marker_exists(spark, dst, _MARK_APPENDED)
        assert spark.read.parquet(src).count() == 5


class TestOhlcTwap:
    def _df(self, spark):
        from datetime import datetime

        rows = [
            # key A, one day: open 10 @00:00, spike 30 @06:00,
            # dip 5 @12:00, close 20 @18:00
            (1, datetime(2024, 1, 1, 0), "A", 10.0),
            (2, datetime(2024, 1, 1, 6), "A", 30.0),
            (3, datetime(2024, 1, 1, 12), "A", 5.0),
            (4, datetime(2024, 1, 1, 18), "A", 20.0),
            # equal timestamps: tiebreak decides open/close
            (5, datetime(2024, 1, 2, 0), "A", 7.0),
            (6, datetime(2024, 1, 2, 0), "A", 9.0),
        ]
        return spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id string, value double"
        )

    def test_ohlc_known_values(self, spark):
        from datetime import date

        from etl_on_weather_dataset_spark.operators.timeseries import ohlc

        out = {
            (r.key, r.bucket): r
            for r in ohlc(
                self._df(spark), "user_id", "ts", "event_id", "value"
            ).collect()
        }
        d1 = out[("A", date(2024, 1, 1))]
        assert (d1.open, d1.high, d1.low, d1.close) == (10.0, 30.0, 5.0, 20.0)
        d2 = out[("A", date(2024, 1, 2))]
        # same ts: event_id tiebreak -> open is id 5, close is id 6
        assert (d2.open, d2.close) == (7.0, 9.0)

    def test_twap_known_values(self, spark):
        from datetime import date

        from etl_on_weather_dataset_spark.operators.timeseries import (
            time_weighted_avg,
        )

        out = {
            (r.key, r.bucket): r
            for r in time_weighted_avg(
                self._df(spark), "user_id", "ts", "event_id", "value"
            ).collect()
        }
        d1 = out[("A", date(2024, 1, 1))]
        # 6h each of 10, 30, 5, 20 -> mean of the four values
        assert d1.held_seconds == 86400
        assert d1.twap == (10.0 + 30.0 + 5.0 + 20.0) / 4
        d2 = out[("A", date(2024, 1, 2))]
        # value 7 held 0s (superseded at the same instant), 9 all day
        assert d2.held_seconds == 86400
        assert d2.twap == 9.0


class TestCorrMatrix:
    def test_known_correlations(self, spark):
        from etl_on_weather_dataset_spark.operators.profile import corr_matrix

        # y = x exactly (r=1), z = -x exactly (r=-1), w uncorrelated-ish
        rows = [(float(i), float(i), float(-i), float((i * 7) % 5))
                for i in range(1, 101)]
        df = spark.createDataFrame(rows, "x double, y double, z double, w double")
        out = {(r.col_x, r.col_y): r.r
               for r in corr_matrix(df, ["x", "y", "z", "w"]).collect()}
        assert abs(out[("x", "y")] - 1.0) < 1e-12
        assert abs(out[("x", "z")] + 1.0) < 1e-12
        assert abs(out[("y", "z")] + 1.0) < 1e-12
        assert abs(out[("x", "w")]) < 0.1
        assert len(out) == 6  # all pairs x<y, one pass

    def test_no_int64_overflow_at_scale(self, spark):
        """Cents-scaled prices (~1e7 after scale=100) square to ~1e14
        per term; 100k rows sum to ~1e19, past int64's 9.2e18. The
        sums accumulate in DECIMAL(38,0), so r stays exact instead of
        wrapping silently (r4 advice: the old LONG sums overflowed at
        ~85k rows -- below even sf0.1's 600k-row lineitem)."""
        from etl_on_weather_dataset_spark.operators.profile import (
            corr_matrix,
        )

        n = 100_000
        df = spark.range(n).selectExpr(
            "CAST(100000 + id % 5000 AS DOUBLE) AS x",
            "CAST(100000 + id % 5000 AS DOUBLE) AS y",
        )
        out = corr_matrix(df, ["x", "y"]).collect()
        assert len(out) == 1
        # y = x exactly; a wrapped sum makes r garbage (NaN / far
        # from 1), the decimal path gives exactly 1 to 1e-12
        assert abs(out[0].r - 1.0) < 1e-12


class TestContrastiveTriplets:
    def test_triplet_invariants(self, spark):
        from etl_on_weather_dataset_spark.operators.sample import (
            contrastive_triplets,
        )

        # labels: 'a' x4, 'c' x3, 'z' x1 (singleton -> never anchors)
        rows = [(i, "a") for i in range(4)] + \
               [(10 + i, "c") for i in range(3)] + [(99, "z")]
        df = spark.createDataFrame(rows, "vec_id long, label string")
        out = contrastive_triplets(df, "vec_id", "label").collect()
        # every member of a,c anchors exactly once; z never
        assert sorted(r.anchor_id for r in out) == [0, 1, 2, 3, 10, 11, 12]
        by_anchor = {r.anchor_id: r for r in out}
        labels = {i: lbl for i, lbl in rows}
        for r in out:
            assert r.anchor_id != r.positive_id
            assert labels[r.positive_id] == r.label
            assert r.negative_label != r.label
            assert labels[r.negative_id] == r.negative_label
        # determinism: second run identical
        out2 = contrastive_triplets(df, "vec_id", "label").collect()
        assert sorted(map(tuple, out)) == sorted(map(tuple, out2))

    def test_single_label_yields_no_triplets(self, spark):
        """One distinct label: the cyclic next-label map would wrap to
        the anchor's own class -- emit nothing instead of degenerate
        same-class negatives (r4 advice)."""
        from etl_on_weather_dataset_spark.operators.sample import (
            contrastive_triplets,
        )

        df = spark.createDataFrame(
            [(i, "only") for i in range(5)], "vec_id long, label string"
        )
        assert contrastive_triplets(df, "vec_id", "label").collect() == []


class TestBpeMerges:
    def test_learn_and_apply_known_corpus(self, spark):
        from etl_on_weather_dataset_spark.operators.corpus import (
            apply_bpe_merges,
            learn_bpe_merges,
        )

        # "new york" dominates (5x), then "san francisco" (4x --
        # split across two continuations so no pair ties with it)
        rows = (
            [("new york city",)] * 3
            + [("in new york",)] * 2
            + [("san francisco fog",)] * 2
            + [("san francisco bay",)] * 2
            + [("lone",)]
        )
        df = spark.createDataFrame(rows, "text string")
        merges, seqs = learn_bpe_merges(df, "text", n_merges=2)
        assert merges[0] == ("new", "york")
        assert merges[1] == ("san", "francisco")
        # the trained corpus has the merged units
        texts = [r.seq for r in seqs.collect()]
        assert ["newyork", "city"] in texts
        assert ["sanfrancisco", "fog"] in texts
        from etl_on_weather_dataset_spark.operators.caching import release_all

        release_all()

        # applying the rules to NEW text reproduces the merges
        out = apply_bpe_merges(
            spark.createDataFrame([("new york san francisco",)],
                                  "text string"),
            merges,
        ).collect()[0]
        assert out.bpe_tokens == ["newyork", "sanfrancisco"]

    def test_greedy_nonoverlapping_rule(self, spark):
        from etl_on_weather_dataset_spark.operators.corpus import (
            apply_bpe_merges,
        )

        out = apply_bpe_merges(
            spark.createDataFrame([("a a a",)], "text string"),
            [("a", "a")],
        ).collect()[0]
        # leftmost-nonoverlapping: [a,a,a] -> [aa, a], never [aa, aa]
        assert out.bpe_tokens == ["aa", "a"]

    def test_min_count_stops_early(self, spark):
        from etl_on_weather_dataset_spark.operators.corpus import (
            learn_bpe_merges,
        )
        from etl_on_weather_dataset_spark.operators.caching import release_all

        df = spark.createDataFrame(
            [("x y",), ("p q",), ("solo",)], "text string"
        )
        merges, _ = learn_bpe_merges(df, "text", n_merges=5, min_count=2)
        release_all()
        assert merges == []  # every pair occurs once < min_count


def test_bpe_oracle_handles_back_to_back_pairs(spark):
    """Adversarial case from review: a doc repeating the winning pair
    back-to-back ([x,y,x,y]) must merge BOTH occurrences in the
    DuckDB twin, exactly like the Spark fold."""
    import duckdb

    from etl_on_weather_dataset_spark.operators.caching import release_all
    from etl_on_weather_dataset_spark.operators.corpus import (
        learn_bpe_merges,
    )
    from etl_on_weather_dataset_spark.plans.queries_pipeline import (
        _bpe_compression_oracle,
    )

    rows = [("x y x y",)] * 4 + [("x y pad",)] * 2 + [("filler words",)]
    df = spark.createDataFrame(rows, "text string")
    merges, seqs = learn_bpe_merges(df, "text", n_merges=1)
    assert merges == [("x", "y")]
    texts = [r.seq for r in seqs.collect()]
    release_all()
    assert texts.count(["xy", "xy"]) == 4  # both occurrences merged

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?)",
                    [(t,) for (t,) in rows])
    n_docs, before, after, _ratio = con.sql(
        _bpe_compression_oracle()
    ).fetchall()[0]
    assert (n_docs, before) == (7, 4 * 4 + 3 * 2 + 2)
    # spark side totals
    spark_after = sum(len(t) for t in texts)
    # oracle applies 3 rounds vs spark's 1 here; re-learn with 3 to
    # compare apples to apples
    merges3, seqs3 = learn_bpe_merges(df, "text", n_merges=3)
    spark_after3 = sum(len(r.seq) for r in seqs3.collect())
    release_all()
    assert after == spark_after3


class TestLogregTraining:
    def test_learns_separable_concept(self, spark):
        from pyspark.sql import functions as Fx

        from etl_on_weather_dataset_spark.operators.caching import (
            release_all,
        )
        from etl_on_weather_dataset_spark.operators.classify import (
            train_hashed_logreg,
        )
        from etl_on_weather_dataset_spark.operators.text import tokens

        # positives contain 'spam', negatives don't; filler shared
        rows = [(i, "spam alpha beta") for i in range(30)] + \
               [(i + 100, "alpha beta gamma") for i in range(30)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        label = Fx.array_contains(tokens("text"), "spam")
        try:
            w, scored = train_hashed_logreg(
                df, label, dim=16, iters=8, lr_num=4, lr_den=1
            )
            out = scored.collect()
        finally:
            release_all()
        acc = sum(1 for r in out if r.pred == r.y) / len(out)
        assert acc >= 0.9  # separable concept is learned
        assert any(v != 0 for v in w)  # training moved the weights

    def test_zero_iters_returns_zero_weights(self, spark):
        from pyspark.sql import functions as Fx

        from etl_on_weather_dataset_spark.operators.caching import (
            release_all,
        )
        from etl_on_weather_dataset_spark.operators.classify import (
            train_hashed_logreg,
        )

        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        try:
            w, scored = train_hashed_logreg(
                df, Fx.lit(True), dim=4, iters=0
            )
            rows = scored.collect()
        finally:
            release_all()
        assert w == [0, 0, 0, 0]
        assert rows[0].m_micro == 0 and rows[0].pred == 0


def test_logreg_negative_gradients_match_duckdb(spark):
    """Adversarial division-semantics case: positive-dominated buckets
    produce NEGATIVE gradient sums that don't divide evenly, where a
    floored (Python) vs truncated (DuckDB //) update would diverge by
    1 micro and compound. Train on such a corpus and demand the
    DuckDB twin's weights bit-for-bit."""
    import duckdb
    from pyspark.sql import functions as Fx

    from etl_on_weather_dataset_spark.operators.caching import release_all
    from etl_on_weather_dataset_spark.operators.classify import (
        train_hashed_logreg,
        train_hashed_logreg_sql,
    )
    from etl_on_weather_dataset_spark.operators.text import tokens

    # n_docs = 7 (odd, not a divisor of typical grads); label by 'spam'
    rows = [(i, "spam alpha beta") for i in range(4)] + \
           [(100 + i, "alpha beta gamma") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    try:
        w, _ = train_hashed_logreg(
            df, Fx.array_contains(tokens("text"), "spam"),
            dim=8, iters=3, lr_num=4, lr_den=1,
        )
    finally:
        release_all()
    assert any(v < 0 for v in w) or any(v > 0 for v in w)

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    got = con.sql(train_hashed_logreg_sql(
        "documents",
        "list_contains(regexp_split_to_array(text, ' +'), 'spam')",
        dim=8, iters=3, lr_num=4, lr_den=1,
    )).fetchall()
    assert [v for _, v in got] == w


class TestIvfIndexStore:
    def _emb(self, spark, n=60, dim=8, base=0):
        from etl_on_weather_dataset_spark.operators.similarity import (
            lsh_hyperplanes,
        )

        vecs = lsh_hyperplanes(dim, n, seed=123 + base)
        return spark.createDataFrame(
            [(base + i, v) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )

    def test_build_append_replay_query(self, spark, tmp_path):
        from etl_on_weather_dataset_spark.operators.ann_store import (
            _read_version,
            ivf_index_append,
            ivf_index_build,
            ivf_index_query,
        )

        store = str(tmp_path / "ivf")
        b1 = self._emb(spark, n=40, base=0)
        b2 = self._emb(spark, n=20, base=1000)
        v1 = ivf_index_build(spark, b1, store, k=4, iters=2, dim=8)
        assert v1 == 1
        v2 = ivf_index_append(spark, b2, store, "b2")
        assert v2 == 2
        # replay: no new version, cells unchanged
        assert ivf_index_append(spark, b2, store, "b2") == 2
        cents, cells, batches, v = _read_version(spark, store)
        assert v == 2
        assert cells.count() == 60
        assert {r.batch_id for r in batches.collect()} == {
            "__build__", "b2"
        }
        # centroids frozen across append (bit-exact round-trip)
        c1 = spark.read.parquet(f"{store}/v1/centroids.parquet")
        assert sorted(map(tuple, (r.cent for r in c1.collect()))) == \
            sorted(map(tuple, (r.cent for r in cents.collect())))
        # querying serves appended vectors too
        out = ivf_index_query(
            spark, b2.limit(3), store, k=3, n_probe=4
        ).collect()
        assert out and all(r.rk <= 3 for r in out)

    def test_crash_garbage_invisible_and_vacuum(self, spark, tmp_path):
        import pathlib

        from etl_on_weather_dataset_spark.operators.ann_store import (
            _read_version,
            ivf_index_append,
            ivf_index_build,
        )

        store = str(tmp_path / "ivf")
        b1 = self._emb(spark, n=30, base=0)
        ivf_index_build(spark, b1, store, k=4, iters=1, dim=8)
        # marker-less directory (crash mid-write) is never selected
        fake = pathlib.Path(store) / "v9"
        fake.mkdir()
        assert _read_version(spark, store)[3] == 1
        # appends with retention keep only the newest keep_versions
        for i in range(3):
            ivf_index_append(
                spark, self._emb(spark, n=5, base=2000 + 100 * i),
                store, f"b{i}", keep_versions=2,
            )
        dirs = {p.name for p in pathlib.Path(store).iterdir()}
        assert "v4" in dirs and "v3" in dirs
        assert not {"v1", "v2"} & dirs
        assert _read_version(spark, store)[3] == 4

    def test_crash_before_marker_keeps_serving_previous_version(
        self, spark, tmp_path, monkeypatch
    ):
        """A real crash between the segment write and ``_COMMITTED``:
        the append's segment and metadata land on disk, the marker
        never does. Readers keep the previous version and its exact
        query answers; the next append's GC removes the orphan."""
        import pathlib

        from etl_on_weather_dataset_spark.operators import ann_store

        store = str(tmp_path / "ivf")
        ann_store.ivf_index_build(
            spark, self._emb(spark, n=30, base=0), store,
            k=4, iters=1, dim=8,
        )
        queries = self._emb(spark, n=6, base=0)

        def answers():
            return sorted(ann_store.ivf_index_query(
                spark, queries, store, k=3, n_probe=2
            ).collect())

        before = answers()
        assert before

        def crash(*_args, **_kwargs):
            raise RuntimeError("crash before the marker")

        monkeypatch.setattr(ann_store, "commit", crash)
        with pytest.raises(RuntimeError, match="before the marker"):
            ann_store.ivf_index_append(
                spark, self._emb(spark, n=8, base=500), store, "b1"
            )
        monkeypatch.undo()
        orphan = "seg-v2-b1.parquet"
        assert (pathlib.Path(store) / "segments" / orphan).is_dir()
        assert not (pathlib.Path(store) / "v2" / "_COMMITTED").exists()

        _, _, batches, version = ann_store._read_version(spark, store)
        assert version == 1
        assert {r.batch_id for r in batches.collect()} == {"__build__"}
        assert answers() == before

        collected: list[list[str]] = []
        real_gc = ann_store.gc_segments

        def spy(*args, **kwargs):
            collected.append(real_gc(*args, **kwargs))
            return collected[-1]

        monkeypatch.setattr(ann_store, "gc_segments", spy)
        assert ann_store.ivf_index_append(
            spark, self._emb(spark, n=8, base=700), store, "b2",
            keep_versions=2,
        ) == 2
        assert collected == [[orphan]]
        assert not (pathlib.Path(store) / "segments" / orphan).exists()
        assert ann_store._read_version(spark, store)[1].count() == 38

    def test_append_writes_o_batch_not_o_index(self, spark, tmp_path):
        """The scale contract of the segment/manifest layout: an
        append must write bytes proportional to the BATCH, never
        rewrite the corpus -- the build segment's files are untouched
        and the bytes added are a small fraction of the index."""
        import pathlib

        from etl_on_weather_dataset_spark.operators.ann_store import (
            _read_version,
            ivf_index_append,
            ivf_index_build,
        )

        def snapshot(root):
            return {
                str(p): (p.stat().st_size, p.stat().st_mtime_ns)
                for p in pathlib.Path(root).rglob("*")
                if p.is_file()
            }

        store = str(tmp_path / "ivf")
        corpus = self._emb(spark, n=500, base=0)
        ivf_index_build(spark, corpus, store, k=4, iters=1, dim=8)
        before = snapshot(store)
        seg_dir = pathlib.Path(store) / "segments"
        build_files = {
            str(p): before[str(p)]
            for p in seg_dir.rglob("*") if p.is_file()
        }
        corpus_bytes = sum(sz for sz, _ in build_files.values())

        ivf_index_append(spark, self._emb(spark, n=10, base=9000),
                         store, "tiny")
        after = snapshot(store)
        # immutability: every pre-existing segment file byte-identical
        for path, sig in build_files.items():
            assert after[path] == sig, f"build segment rewritten: {path}"
        new_bytes = sum(
            sz for p, (sz, _) in after.items() if p not in before
        )
        # 10 rows appended to 500: new bytes (tiny segment + metadata
        # trio) must be far below the corpus segment, not ~equal to it
        assert new_bytes < 0.5 * corpus_bytes, (
            f"append wrote {new_bytes}B vs corpus {corpus_bytes}B"
        )
        assert _read_version(spark, store)[1].count() == 510


    def test_compaction_prunes_probe_row_groups(self, spark, tmp_path):
        """Parquet-footer proof of ann_store.py's pruning claim
        (round-6 verdict item 4): after ivf_index_compact (range-
        partition + sort by cluster), a one-cell probe touches
        STRICTLY fewer row groups than against the uncompacted
        multi-segment layout, measured from actual footer min/max
        stats on the cluster column -- the same measurement
        layout.py's file_span_stats applies to Z-order."""
        import glob
        import os

        import pyarrow.parquet as pq

        from etl_on_weather_dataset_spark.operators.ann_store import (
            _manifest_names,
            _read_version,
            _segment_path,
            ivf_index_append,
            ivf_index_build,
            ivf_index_compact,
        )

        def rg_spans(store, version):
            spans = []
            for seg in _manifest_names(spark, store, version):
                for p in glob.glob(
                    os.path.join(_segment_path(store, seg), "*.parquet")
                ):
                    md = pq.ParquetFile(p).metadata
                    ci = [
                        md.row_group(0).column(i).path_in_schema
                        for i in range(md.num_columns)
                    ].index("cluster")
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(ci).statistics
                        spans.append((st.min, st.max))
            return spans

        store = str(tmp_path / "ivf")
        ivf_index_build(spark, self._emb(spark, n=200), store,
                        k=8, iters=2, dim=8)
        for i in range(4):
            ivf_index_append(
                spark, self._emb(spark, n=50, base=(i + 1) * 1000),
                store, f"b{i}",
            )
        _, cells, _, v_before = _read_version(spark, store)
        clusters = sorted(
            r.cluster for r in cells.select("cluster").distinct().collect()
        )
        before = rg_spans(store, v_before)
        # rows_per_file sized so the 400-row store compacts into ~8
        # range files -- the same dial a real deployment sets to its
        # target file size
        v_after = ivf_index_compact(spark, store, rows_per_file=50)
        after = rg_spans(store, v_after)

        def touched(spans, c):
            return sum(1 for lo, hi in spans if lo <= c <= hi)

        tb = {c: touched(before, c) for c in clusters}
        ta = {c: touched(after, c) for c in clusters}
        # every one-cell probe touches no more row groups than before,
        # and the total is strictly smaller (the pruning is real, not
        # a comment)
        assert all(ta[c] <= tb[c] for c in clusters), (ta, tb)
        assert sum(ta.values()) < sum(tb.values()), (ta, tb)
        # and the compacted layout is genuinely selective: no single
        # row group spans the whole cluster range
        full = (min(clusters), max(clusters))
        assert all((lo, hi) != full for lo, hi in after), after

    def test_segment_gc_after_rebuild(self, spark, tmp_path):
        """A rebuild supersedes all prior segments; once retention
        drops the versions referencing them, gc removes the orphans
        while every surviving manifest's segments stay readable."""
        import pathlib

        from etl_on_weather_dataset_spark.operators.ann_store import (
            _read_version,
            ivf_index_append,
            ivf_index_build,
        )

        store = str(tmp_path / "ivf")
        ivf_index_build(spark, self._emb(spark, n=30), store,
                        k=4, iters=1, dim=8)
        ivf_index_append(spark, self._emb(spark, n=5, base=500),
                         store, "b1")
        # rebuild on the drifted store with keep_versions=1: v1+v2
        # vacuumed, their segments unreferenced -> gc'd
        ivf_index_build(spark, self._emb(spark, n=40, base=900), store,
                        k=4, iters=1, dim=8, keep_versions=1)
        segs = {
            p.name for p in (pathlib.Path(store) / "segments").iterdir()
        }
        assert segs == {"seg-v3-build.parquet"}, segs
        assert _read_version(spark, store)[1].count() == 40

    def test_compact_merges_segments_preserving_contents(self, spark,
                                                          tmp_path):
        """Compaction folds N segments into 1 with identical cell
        contents, leaves the ledger intact (replays still no-op), and
        is itself a no-op when already compact."""
        import pathlib

        from etl_on_weather_dataset_spark.operators.ann_store import (
            _read_version,
            ivf_index_append,
            ivf_index_build,
            ivf_index_compact,
        )

        store = str(tmp_path / "ivf")
        ivf_index_build(spark, self._emb(spark, n=30), store,
                        k=4, iters=1, dim=8)
        for i in range(3):
            ivf_index_append(spark, self._emb(spark, n=5, base=(i + 1) * 500),
                             store, f"b{i}")
        before = sorted(
            (r.id, r.cluster) for r in _read_version(spark, store)[1]
            .select("id", "cluster").collect()
        )
        v = ivf_index_compact(spark, store, keep_versions=1)
        assert v == 5
        segs = {
            p.name for p in (pathlib.Path(store) / "segments").iterdir()
        }
        assert segs == {"seg-v5-compact.parquet"}, segs
        cents, cells, batches, _ = _read_version(spark, store)
        after = sorted(
            (r.id, r.cluster) for r in cells.select("id", "cluster").collect()
        )
        assert after == before
        # ledger survives compaction: replaying an old batch still no-ops
        assert ivf_index_append(spark, self._emb(spark, n=5, base=500),
                                store, "b0") == 5
        # already compact -> no new version
        assert ivf_index_compact(spark, store) == 5

    def test_append_requires_built_index(self, spark, tmp_path):
        import pytest as _pytest

        from etl_on_weather_dataset_spark.operators.ann_store import (
            ivf_index_append,
        )

        with _pytest.raises(ValueError, match="no committed index"):
            ivf_index_append(
                spark, self._emb(spark, n=3), str(tmp_path / "none"), "b"
            )


class TestSnapshotDiff:
    def test_insert_update_delete_and_null_transitions(self, spark):
        from etl_on_weather_dataset_spark.operators.merge import (
            snapshot_diff,
        )

        old = spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0),
             (4, "d", 4.0)],
            "k long, s string, v double",
        )
        new = spark.createDataFrame(
            [(1, "a", 1.0),        # unchanged -> absent from output
             (2, "b", 2.0),       # NULL -> value: update
             (3, None, 3.0),      # value -> NULL: update
             (5, "e", 5.0)],      # insert; 4 deleted
            "k long, s string, v double",
        )
        out = {r.k: r for r in snapshot_diff(old, new, ["k"]).collect()}
        assert set(out) == {2, 3, 4, 5}
        assert out[2].change_type == "update" and out[2].new_v == 2.0 \
            and out[2].old_v is None
        assert out[3].change_type == "update" and out[3].new_s is None
        assert out[4].change_type == "delete" and out[4].new_s is None \
            and out[4].old_s == "d"
        assert out[5].change_type == "insert" and out[5].old_s is None


class TestAudioFingerprint:
    def _wav(self, samples, rate=16000):
        import io
        import wave as wavemod

        import numpy as np

        buf = io.BytesIO()
        with wavemod.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
        return bytearray(buf.getvalue())

    def _signal(self, freqs, n=8000, amp=8000, seed=None, noise=0.0):
        import math

        import numpy as np

        t = np.arange(n)
        x = sum(
            amp * np.sin(2 * math.pi * f * t / 16000.0) for f in freqs
        )
        if noise:
            rng = np.random.default_rng(seed)
            x = x + rng.normal(0, amp * noise, n)
        return np.clip(x, -32768, 32767).astype("<i2")

    def test_fingerprint_robust_to_volume_and_noise(self, spark):
        from etl_on_weather_dataset_spark.operators.multimodal import (
            audio_fingerprint,
        )

        base = self._signal([440, 1200, 3000], seed=1, noise=0.01)
        rows = [
            (1, self._wav(base)),
            # same audio, half volume + small noise -> near-dup
            (2, self._wav(
                (base * 0.5).astype("<i2")
                + self._signal([0], amp=0, seed=2, noise=0.0)
            )),
            # different spectral content -> far
            (3, self._wav(self._signal([700, 2100, 5000], seed=3))),
            (4, bytearray(b"corrupt")),  # undecodable -> null fp
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        fps = {r.doc_id: r for r in audio_fingerprint(df).collect()}
        assert fps[4].fingerprint is None
        assert fps[1].n_frames_used > 10

        def ham(a, b):
            return bin((a ^ b) & ((1 << 64) - 1)).count("1")

        d_dup = ham(fps[1].fingerprint, fps[2].fingerprint)
        d_far = ham(fps[1].fingerprint, fps[3].fingerprint)
        assert d_dup <= 8, d_dup       # volume change barely moves bits
        assert d_far > 16, d_far       # different audio is far

        # determinism: second run bit-identical
        fps2 = {r.doc_id: r.fingerprint
                for r in audio_fingerprint(df).collect()}
        assert fps2[1] == fps[1].fingerprint

    def test_near_dup_pairs_banded(self, spark):
        from etl_on_weather_dataset_spark.operators.multimodal import (
            audio_fingerprint,
            audio_near_dup_pairs,
        )

        base = self._signal([500, 1500], seed=5, noise=0.01)
        rows = [
            (1, self._wav(base)),
            (2, self._wav((base * 0.7).astype("<i2"))),  # near-dup of 1
            (3, self._wav(self._signal([900, 4000], seed=6))),
            (4, bytearray(b"junk")),
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        fps = audio_fingerprint(df)
        pairs = {(r.id_a, r.id_b): r.hamming
                 for r in audio_near_dup_pairs(fps).collect()}
        assert (1, 2) in pairs
        assert all(h <= 8 for h in pairs.values())
        assert not any(4 in p for p in pairs)  # nulls never pair


class TestImageDhash:
    """dHash over pure-bytes 24-bit BMPs (no codec libs needed)."""

    @staticmethod
    def _bmp(pixels) -> bytes:
        """Minimal bottom-up 24-bit BMP from rows of (r,g,b)."""
        import struct

        h, w = len(pixels), len(pixels[0])
        stride = ((3 * w + 3) // 4) * 4
        body = b""
        for row in reversed(pixels):  # bottom-up
            line = b"".join(bytes((b_, g, r)) for r, g, b_ in row)
            body += line + b"\x00" * (stride - len(line))
        header = (
            b"BM"
            + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                          len(body), 2835, 2835, 0, 0)
        )
        return header + body

    @classmethod
    def _gradient(cls, w=32, h=32, tweak=0):
        return [
            [
                (
                    min(255, (x * 255) // w),
                    min(255, (y * 255) // h),
                    min(255, ((x + y + tweak) * 255) // (w + h)),
                )
                for x in range(w)
            ]
            for y in range(h)
        ]

    def test_dhash_near_dup_geometry(self, spark):
        from etl_on_weather_dataset_spark.operators.multimodal import (
            image_dhash,
            image_near_dup_pairs,
        )

        base = self._gradient()
        # near-dup: tiny brightness tweak; far: alternating vertical
        # stripes (opposite horizontal-delta signs every other cell --
        # an inverted/flipped gradient would NOT do: dHash's
        # gradient-direction bits are invariant to that, by design)
        near = self._gradient(tweak=2)
        stripe = lambda x: 230 if (x // 4) % 2 else 20  # noqa: E731
        far = [
            [(stripe(x), stripe(x), stripe(x)) for x in range(32)]
            for _ in range(32)
        ]
        df = spark.createDataFrame(
            [
                (1, bytearray(self._bmp(base))),
                (2, bytearray(self._bmp(near))),
                (3, bytearray(self._bmp(far))),
                (4, bytearray(b"not an image")),
            ],
            "doc_id long, payload binary",
        )
        hashes = image_dhash(df)
        got = {r.doc_id: r for r in hashes.collect()}
        assert got[4].dhash is None  # corrupt -> null, never a crash
        assert got[1].img_w == 32 and got[1].img_h == 32
        h1, h2, h3 = (got[i].dhash for i in (1, 2, 3))
        ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")  # noqa: E731
        assert ham(h1, h2) <= 8, ham(h1, h2)
        assert ham(h1, h3) > 8, ham(h1, h3)
        pairs = {
            (r.id_a, r.id_b)
            for r in image_near_dup_pairs(hashes).collect()
        }
        assert pairs == {(1, 2)}

    def test_flip_flag_and_truncation_guard(self, spark):
        from etl_on_weather_dataset_spark.operators.multimodal import (
            image_dhash,
        )

        bmp = self._bmp(self._gradient())
        truncated = bmp[: len(bmp) // 2]
        df = spark.createDataFrame(
            [(1, bytearray(bmp)), (2, bytearray(truncated))],
            "doc_id long, payload binary",
        )
        got = {r.doc_id: r.dhash for r in image_dhash(df).collect()}
        assert got[1] is not None and got[2] is None

    def _corpus(self, spark):
        return spark.createDataFrame(
            [
                (1, bytearray(self._bmp(self._gradient()))),
                (2, bytearray(self._bmp(self._gradient(tweak=2)))),
                (3, bytearray(b"not an image")),
            ],
            "doc_id long, payload binary",
        )

    def test_decoded_tier_matches_native_on_bmp(self, spark):
        """The composed decode->dhash path (image_dhash_decoded) is
        bit-identical to the native BMP tier on payloads both can
        decode -- the shared-fold contract, attested end-to-end
        through the full mapInPandas plumbing with the PIL-free
        _native_bmp_rgb decoder injected."""
        from etl_on_weather_dataset_spark.operators.multimodal import (
            _native_bmp_rgb,
            image_dhash,
            image_dhash_decoded,
        )

        df = self._corpus(spark)
        native = {r.doc_id: r for r in image_dhash(df).collect()}
        decoded = {
            r.doc_id: r
            for r in image_dhash_decoded(
                df, decoder=_native_bmp_rgb
            ).collect()
        }
        for i in (1, 2, 3):
            assert decoded[i].dhash == native[i].dhash, i
            assert decoded[i].img_w == native[i].img_w
            assert decoded[i].img_h == native[i].img_h
        assert decoded[3].dhash is None  # corrupt -> null in BOTH tiers

    def test_decoded_tier_guard_without_pil(self, spark):
        """Plan-time fail-fast: no PIL and no injected decoder must
        raise on the DRIVER, not inside executor tasks."""
        try:
            import PIL  # noqa: F401

            pytest.skip("PIL installed; the no-PIL guard is unreachable")
        except ImportError:
            pass
        from etl_on_weather_dataset_spark.operators.multimodal import (
            image_dhash_decoded,
        )

        with pytest.raises(NotImplementedError):
            image_dhash_decoded(self._corpus(spark))

    def test_decoded_tier_jpeg_clone_near_dup(self, spark):
        """With PIL present: a JPEG re-encode of a BMP is a planted
        near-dup -- the decoded tier hashes it within the banded-join
        threshold of the native tier's hash of the original, and the
        BMP itself round-trips bit-identically through PIL."""
        pytest.importorskip("PIL")
        import io

        from PIL import Image

        from etl_on_weather_dataset_spark.operators.multimodal import (
            image_dhash,
            image_dhash_decoded,
        )

        bmp = self._bmp(self._gradient())
        buf = io.BytesIO()
        Image.open(io.BytesIO(bmp)).convert("RGB").save(
            buf, format="JPEG", quality=90
        )
        df = spark.createDataFrame(
            [(1, bytearray(bmp)), (2, bytearray(buf.getvalue()))],
            "doc_id long, payload binary",
        )
        native = {r.doc_id: r.dhash for r in image_dhash(df).collect()}
        decoded = {
            r.doc_id: r.dhash for r in image_dhash_decoded(df).collect()
        }
        assert decoded[1] == native[1]  # PIL BMP decode == native parse
        assert native[2] is None  # JPEG is invisible to the native tier
        ham = bin(
            (decoded[2] ^ native[1]) & ((1 << 64) - 1)
        ).count("1")
        assert ham <= 8, ham  # the re-encoded clone pairs up


class TestJoinAdvisor:
    def test_strategy_flips_with_shape(self, spark):
        """broadcast when a side is tiny; salted_shuffle when a hot
        key dominates; shuffle_hash otherwise -- and the CMS estimate
        stays one-sided (est >= true)."""
        from etl_on_weather_dataset_spark.operators.advisor import (
            join_advice,
        )

        big_uniform = spark.createDataFrame(
            [(i % 500, i) for i in range(2000)], "k long, id long"
        )
        tiny = spark.createDataFrame(
            [(i, i) for i in range(20)], "k long, id long"
        )
        hot = spark.createDataFrame(
            [((0 if i % 10 else i), i) for i in range(2000)],
            "k long, id long",
        )

        def advise(left, right, **kw):
            return join_advice(
                left, right, "k", "k",
                broadcast_rows=100, skew_ppm=300_000, **kw
            ).collect()[0]

        r = advise(big_uniform, tiny)
        assert r.strategy == "broadcast"
        r = advise(hot, big_uniform)
        assert r.strategy == "salted_shuffle"
        # hot side: key 0 owns 90% of rows
        assert r.left_top_share_ppm >= 890_000
        r = advise(big_uniform, big_uniform)
        assert r.strategy == "shuffle_hash"
        true_size = big_uniform.join(
            big_uniform.withColumnRenamed("id", "id2"), "k"
        ).count()
        assert r.est_join_size >= true_size  # one-sided CMS guarantee
        assert r.fanout_ppm >= 1_000_000  # 4 rows/key fan-out flagged

    def test_null_keys_excluded(self, spark):
        from etl_on_weather_dataset_spark.operators.advisor import (
            join_advice,
        )

        withnull = spark.createDataFrame(
            [(None, 1), (1, 2), (1, 3), (2, 4)], "k long, id long"
        )
        r = join_advice(withnull, withnull, "k", "k").collect()[0]
        assert r.n_left == 3 and r.left_keys == 2


class TestHistogramStore:
    def test_ingest_replay_and_store_quantiles(self, spark, tmp_path):
        """Three batches (one replayed) fold into a persistent store
        whose quantiles equal the one-shot sketch's -- the exactly-
        once quantile dashboard over ingestion batches."""
        from etl_on_weather_dataset_spark.operators.histogram import (
            histogram_quantiles,
            histogram_sketch,
            histogram_store_ingest,
            histogram_store_quantiles,
        )

        LO, HI, BINS = 0, 1_000_000_000, 200
        df = spark.createDataFrame(
            [(i, float(i % 997)) for i in range(1500)],
            "id long, v double",
        )
        store = str(tmp_path / "qstore")
        b1 = df.filter("id < 500")
        b2 = df.filter("id >= 500")
        histogram_store_ingest(spark, b1, store, "b1", "v", LO, HI, BINS)
        histogram_store_ingest(spark, b2, store, "b2", "v", LO, HI, BINS)
        # replay: ledger makes it a no-op
        histogram_store_ingest(spark, b2, store, "b2", "v", LO, HI, BINS)

        got = {
            r.q_ppm: (r.n_rows, r.est_micro)
            for r in histogram_store_quantiles(
                spark, store, [250_000, 750_000], LO, HI, BINS
            ).collect()
        }
        want = {
            r.q_ppm: (r.n_rows, r.est_micro)
            for r in histogram_quantiles(
                histogram_sketch(df, "v", LO, HI, BINS),
                [250_000, 750_000], LO, HI, BINS,
            ).collect()
        }
        assert got == want
        assert got[250_000][0] == 1500  # replay did not double-count


class TestWeightedHistogram:
    def test_weighted_equals_row_expansion(self, spark):
        """A weight-w row must be indistinguishable from w unit rows:
        the weighted sketch == the sketch of the expanded frame, and
        so are the quantiles."""
        from etl_on_weather_dataset_spark.operators.histogram import (
            histogram_quantiles,
            histogram_sketch,
        )

        LO, HI, BINS = 0, 100_000_000, 50
        rows = [(float(i % 90), (i % 4) + 1) for i in range(200)]
        df = spark.createDataFrame(rows, "v double, w long")
        expanded = spark.createDataFrame(
            [(v,) for v, w in rows for _ in range(w)], "v double"
        )
        wsk = {
            (r.bin, r.cnt)
            for r in histogram_sketch(
                df, "v", LO, HI, BINS, weight_col="w"
            ).collect()
        }
        esk = {
            (r.bin, r.cnt)
            for r in histogram_sketch(expanded, "v", LO, HI, BINS)
            .collect()
        }
        assert wsk == esk
        wq = histogram_quantiles(
            histogram_sketch(df, "v", LO, HI, BINS, weight_col="w"),
            [500_000], LO, HI, BINS,
        ).collect()[0]
        eq = histogram_quantiles(
            histogram_sketch(expanded, "v", LO, HI, BINS),
            [500_000], LO, HI, BINS,
        ).collect()[0]
        assert (wq.n_rows, wq.est_micro) == (eq.n_rows, eq.est_micro)


class TestTimeTravel:
    def test_rollup_store_reads_as_of_version(self, spark, tmp_path):
        """Versions are immutable, so pinning one is a time-travel
        read: v1 shows only batch b1 after b2 lands; vacuumed
        versions raise (retention == time-travel horizon)."""
        import pytest as _pytest

        from etl_on_weather_dataset_spark.operators.rollup_store import (
            incremental_rollup,
            read_rollup,
            vacuum_rollup_store,
        )

        store = str(tmp_path / "roll")
        mk = lambda vals: spark.createDataFrame(  # noqa: E731
            [("k", float(v)) for v in vals], "g string, x double"
        )
        incremental_rollup(spark, mk([1, 2]), store, "b1",
                           key_cols=["g"], value_col="x")
        incremental_rollup(spark, mk([3]), store, "b2",
                           key_cols=["g"], value_col="x")
        asof1 = read_rollup(spark, store, version=1)
        assert asof1[2] == 1
        assert asof1[0].collect()[0].n_rows == 2  # before b2
        latest = read_rollup(spark, store)
        assert latest[2] == 2 and latest[0].collect()[0].n_rows == 3
        vacuum_rollup_store(spark, store, keep_last=1)
        with _pytest.raises(ValueError, match="not committed"):
            read_rollup(spark, store, version=1)

    def test_ivf_store_reads_as_of_version(self, spark, tmp_path):
        """An old manifest keeps serving its own segment set even
        after newer appends -- gc never touches a segment a committed
        manifest still names."""
        from etl_on_weather_dataset_spark.operators.ann_store import (
            _read_version,
            ivf_index_append,
            ivf_index_build,
        )
        from etl_on_weather_dataset_spark.operators.similarity import (
            lsh_hyperplanes,
        )

        vecs = lsh_hyperplanes(8, 40, seed=11)
        mk = lambda lo, hi: spark.createDataFrame(  # noqa: E731
            [(i, vecs[i]) for i in range(lo, hi)],
            "vec_id long, embedding array<double>",
        )
        store = str(tmp_path / "ivf")
        ivf_index_build(spark, mk(0, 25), store, k=4, iters=1, dim=8)
        ivf_index_append(spark, mk(25, 40), store, "b1")
        assert _read_version(spark, store, version=1)[1].count() == 25
        assert _read_version(spark, store)[1].count() == 40


class TestContractReport:
    def test_violations_counted_and_flagged(self, spark):
        from etl_on_weather_dataset_spark.operators.validate import (
            at_least,
            contract_report,
            not_null,
        )

        df = spark.createDataFrame(
            [(1, 10.0), (2, None), (None, -5.0), (4, 3.0)],
            "k long, v double",
        )
        rows = {
            r.expectation: r
            for r in contract_report(
                df, [not_null(["k"]), at_least("v", 0)]
            ).collect()
        }
        nn = rows["not_null:k"]
        assert (nn.n_rows, nn.n_violations, nn.passed) == (4, 1, 0)
        al = rows["at_least:v"]  # null v passes by policy; -5 fails
        assert (al.n_rows, al.n_violations, al.passed) == (4, 1, 0)

    def test_clean_table_passes_everything(self, spark):
        from etl_on_weather_dataset_spark.operators.validate import (
            contract_report,
            in_range,
            not_null,
        )

        df = spark.createDataFrame([(1, 1.0), (2, 2.0)],
                                   "k long, v double")
        out = contract_report(
            df, [not_null(["k", "v"]), in_range("v", 0, 10)]
        ).collect()
        assert all(r.passed == 1 and r.n_violations == 0 for r in out)

    def test_uniqueness_counts_extra_copies(self, spark):
        from etl_on_weather_dataset_spark.operators.validate import (
            uniqueness_report,
        )

        df = spark.createDataFrame(
            [(1,), (1,), (1,), (2,), (3,), (3,)], "k long"
        )
        r = uniqueness_report(df, ["k"]).collect()[0]
        # 6 rows, 3 keys -> 3 extra copies
        assert (r.expectation, r.n_rows, r.n_violations, r.passed) == \
            ("unique:k", 6, 3, 0)
        clean = spark.createDataFrame([(1,), (2,)], "k long")
        r = uniqueness_report(clean, ["k"]).collect()[0]
        assert (r.n_violations, r.passed) == (0, 1)


class TestBinaryEval:
    """operators/evaluate.py: exact ROC-AUC + confusion (par.2b eval
    leg). Hand-computed Mann-Whitney ground truths, including ties."""

    def _eval(self, spark, rows, threshold=0):
        from etl_on_weather_dataset_spark.operators.evaluate import (
            binary_eval,
        )

        df = spark.createDataFrame(rows, "y int, score long")
        return binary_eval(df, threshold=threshold).collect()[0]

    def test_perfect_separation(self, spark):
        r = self._eval(
            spark, [(1, 10), (1, 9), (0, -5), (0, -7)]
        )
        # every pos > every neg: 2U = 2 * 2 * 2 = 8, AUC = 1
        assert (r.n_pos, r.n_neg, r.two_u, r.auc_ppm) == (2, 2, 8, 1000000)
        assert (r.tp, r.fp, r.fn, r.tn) == (2, 0, 0, 2)
        assert (r.precision_ppm, r.recall_ppm, r.f1_ppm) == (
            1000000, 1000000, 1000000,
        )

    def test_ties_count_half(self, spark):
        # pos scores {5, 3}, neg scores {3, 1}:
        # pairs: (5,3)+1 (5,1)+1 (3,3)+0.5 (3,1)+1 -> U=3.5, 2U=7
        # AUC = 3.5/4 = 0.875
        r = self._eval(spark, [(1, 5), (1, 3), (0, 3), (0, 1)])
        assert (r.two_u, r.auc_ppm) == (7, 875000)

    def test_reversed_scores_auc_zero(self, spark):
        r = self._eval(spark, [(1, -1), (0, 1), (0, 2)])
        assert (r.two_u, r.auc_ppm) == (0, 0)
        # nothing predicted positive above 0 except the negs
        assert (r.tp, r.fp, r.fn, r.tn) == (0, 2, 1, 0)
        assert (r.precision_ppm, r.recall_ppm, r.f1_ppm) == (0, 0, 0)

    def test_single_class_no_division_error(self, spark):
        r = self._eval(spark, [(1, 4), (1, 2)])
        assert (r.n_pos, r.n_neg, r.auc_ppm) == (2, 0, 0)

    def test_threshold_is_strict(self, spark):
        # score == threshold predicts NEGATIVE (score > thr)
        r = self._eval(spark, [(1, 0), (0, 0), (1, 1)], threshold=0)
        assert (r.tp, r.fp, r.fn, r.tn) == (1, 0, 1, 1)

    def test_matches_pairwise_bruteforce(self, spark):
        # deterministic pseudo-random fixture, checked against the
        # O(n^2) definition computed in plain Python
        rows = [
            ((i * 7 + 3) % 5 % 2, ((i * 31 + 11) % 23) - 10)
            for i in range(40)
        ]
        pos = [s for y, s in rows if y == 1]
        neg = [s for y, s in rows if y == 0]
        two_u = sum(
            2 if p > n else (1 if p == n else 0)
            for p in pos for n in neg
        )
        r = self._eval(spark, rows)
        assert r.two_u == two_u
        assert r.auc_ppm == two_u * 1_000_000 // (2 * len(pos) * len(neg))


class TestEvalStore:
    def test_ingest_replay_equals_one_shot(self, spark, tmp_path):
        """Two batches (one replayed) folded into the persistent eval
        store must report EXACTLY what one-shot binary_eval says about
        the union -- merge == rebuild for the AUC sufficient
        statistic."""
        from etl_on_weather_dataset_spark.operators.evaluate import (
            binary_eval,
            eval_store_ingest,
            eval_store_report,
        )

        rows = [
            (i % 3 % 2, ((i * 37 + 5) % 41) - 20, i) for i in range(300)
        ]
        df = spark.createDataFrame(rows, "y int, score long, id long")
        store = str(tmp_path / "evalstore")
        b1 = df.filter("id < 100")
        b2 = df.filter("id >= 100")
        eval_store_ingest(spark, b1, store, "b1")
        eval_store_ingest(spark, b2, store, "b2")
        eval_store_ingest(spark, b2, store, "b2")  # replay: no-op

        got = eval_store_report(spark, store).collect()[0]
        want = binary_eval(df.select("y", "score")).collect()[0]
        assert got.asDict() == want.asDict()
        assert got.n_pos + got.n_neg == 300  # replay did not double

    def test_time_travel_reads_earlier_batch_state(self, spark,
                                                   tmp_path):
        from etl_on_weather_dataset_spark.operators.evaluate import (
            binary_eval,
            eval_store_ingest,
            eval_store_report,
        )

        df = spark.createDataFrame(
            [(1, 5, 0), (0, 1, 1), (1, 2, 2), (0, 4, 3)],
            "y int, score long, id long",
        )
        store = str(tmp_path / "evalstore")
        eval_store_ingest(spark, df.filter("id < 2"), store, "b1")
        eval_store_ingest(spark, df.filter("id >= 2"), store, "b2")
        asof = eval_store_report(spark, store, version=1).collect()[0]
        want = binary_eval(
            df.filter("id < 2").select("y", "score")
        ).collect()[0]
        assert asof.asDict() == want.asDict()
        now = eval_store_report(spark, store).collect()[0]
        assert (now.n_pos, now.n_neg) == (2, 2)


class TestGroupedEvalAndCalibration:
    def test_grouped_equals_per_group_filters(self, spark):
        """binary_eval(group_cols) must equal running the ungrouped
        report on each group's rows separately."""
        from etl_on_weather_dataset_spark.operators.evaluate import (
            binary_eval,
        )

        rows = [
            (f"g{i % 3}", (i * 11 + 2) % 7 % 2, ((i * 29 + 3) % 19) - 9)
            for i in range(120)
        ]
        df = spark.createDataFrame(rows, "g string, y int, score long")
        grouped = {
            r.g: {k: v for k, v in r.asDict().items() if k != "g"}
            for r in binary_eval(df, group_cols=["g"]).collect()
        }
        for g in ("g0", "g1", "g2"):
            solo = binary_eval(
                df.filter(F.col("g") == g).select("y", "score")
            ).collect()[0]
            assert grouped[g] == solo.asDict(), g

    def test_calibration_bins_clamp_and_rates(self, spark):
        from etl_on_weather_dataset_spark.operators.evaluate import (
            calibration_bins,
        )

        # lo=0, hi=100, 10 bins; scores -50 and 999 must clamp to
        # bins 0 and 9; bin edges: 10 lands in bin 1
        df = spark.createDataFrame(
            [(1, -50), (0, 0), (1, 9), (0, 10), (1, 999)],
            "y int, score long",
        )
        got = {
            r.bin: (r.n_rows, r.n_pos, r.pos_rate_ppm)
            for r in calibration_bins(df, 0, 100, 10).collect()
        }
        assert got == {
            0: (3, 2, 666666),
            1: (1, 0, 0),
            9: (1, 1, 1000000),
        }


def make_mp4_frames(frames, chunk_counts=None, media_ts=90, delta=10):
    """ISO BMFF bytes with a full sample table: ftyp + moov(mvhd,
    trak(mdhd, hdlr 'vide', stbl(stts, stsz, stsc, stco))) + mdat
    holding the encoded frame bytes -- enough structure for
    frame-range extraction (stsz/stsc/stco walk), still no codec.
    ``chunk_counts`` splits samples into chunks (default: all in one
    chunk); stco offsets are absolute file offsets, so the moov is
    assembled twice (sizes are chunk-count-invariant)."""
    n = len(frames)
    chunk_counts = chunk_counts or [n]
    assert sum(chunk_counts) == n
    sizes = [len(f) for f in frames]
    # stsc runs: new entry whenever samples-per-chunk changes
    runs = []
    for ci, c in enumerate(chunk_counts):
        if not runs or runs[-1][1] != c:
            runs.append((ci + 1, c))
    stts = (
        bytes(4) + (1).to_bytes(4, "big")
        + n.to_bytes(4, "big") + delta.to_bytes(4, "big")
    )
    stsz = (
        bytes(4) + bytes(4) + n.to_bytes(4, "big")
        + b"".join(s.to_bytes(4, "big") for s in sizes)
    )
    stsc = (
        bytes(4) + len(runs).to_bytes(4, "big")
        + b"".join(
            f.to_bytes(4, "big") + c.to_bytes(4, "big")
            + (1).to_bytes(4, "big")
            for f, c in runs
        )
    )
    mdhd = (
        bytes(4) + bytes(8) + media_ts.to_bytes(4, "big")
        + bytes(4) + bytes(4)
    )
    hdlr = bytes(8) + b"vide" + bytes(12)
    mvhd = bytes(4) + bytes(8) + (100).to_bytes(4, "big") \
        + (n * delta).to_bytes(4, "big")

    def build(offsets):
        stco = (
            bytes(4) + len(offsets).to_bytes(4, "big")
            + b"".join(o.to_bytes(4, "big") for o in offsets)
        )
        stbl = (
            _box(b"stts", stts) + _box(b"stsz", stsz)
            + _box(b"stsc", stsc) + _box(b"stco", stco)
        )
        mdia = (
            _box(b"mdhd", mdhd) + _box(b"hdlr", hdlr)
            + _box(b"minf", _box(b"stbl", stbl))
        )
        moov = _box(b"mvhd", mvhd) + _box(b"trak", _box(b"mdia", mdia))
        return _box(b"ftyp", b"isom\x00\x00\x02\x00isom") \
            + _box(b"moov", moov)

    head = build([0] * len(chunk_counts))
    # chunk ci starts after the mdat header, past prior chunks' bytes
    base = len(head) + 8
    offsets, si = [], 0
    for c in chunk_counts:
        offsets.append(base)
        base += sum(sizes[si:si + c])
        si += c
    head = build(offsets)
    return head + _box(b"mdat", b"".join(frames))


class TestVideoFrameDedup:
    def _frames(self, pattern, n):
        import hashlib

        return [
            hashlib.md5(f"vid-{pattern}-{k}".encode()).digest() * 4
            for k in range(n)
        ]

    def test_frame_hashes_invariant_to_chunking(self, spark):
        """The same frames re-muxed into different chunk layouts must
        hash identically (extraction walks stsz/stsc/stco, not the
        raw mdat order assumptions); corrupt payloads yield no rows."""
        from etl_on_weather_dataset_spark.operators.multimodal import (
            frame_hashes,
        )

        fr = self._frames("a", 6)
        df = spark.createDataFrame(
            [
                (1, bytearray(make_mp4_frames(fr))),
                (2, bytearray(make_mp4_frames(fr, [2, 2, 2]))),
                (3, bytearray(b"not a video")),
            ],
            "doc_id long, payload binary",
        )
        rows = frame_hashes(df).collect()
        by_id = {}
        for r in rows:
            by_id.setdefault(r.doc_id, {})[r.frame_idx] = r.frame_hash
        assert by_id[1] == by_id[2] and len(by_id[1]) == 6
        assert 3 not in by_id

    def test_near_dup_pairs_clone_containment_disjoint(self, spark):
        from etl_on_weather_dataset_spark.operators.multimodal import (
            frame_hashes,
            video_near_dup_pairs,
        )

        fa = self._frames("a", 8)
        df = spark.createDataFrame(
            [
                (1, bytearray(make_mp4_frames(fa))),
                (2, bytearray(make_mp4_frames(fa, [4, 4]))),  # clone
                (3, bytearray(make_mp4_frames(fa[:4]))),  # clip of 1
                (4, bytearray(make_mp4_frames(self._frames("b", 8)))),
            ],
            "doc_id long, payload binary",
        )
        pairs = {
            (r.id_a, r.id_b): r.overlap_ppm
            for r in video_near_dup_pairs(frame_hashes(df)).collect()
        }
        # clone and contained clip both hit 100% containment overlap
        assert pairs[(1, 2)] == 1_000_000
        assert pairs[(1, 3)] == 1_000_000
        assert pairs[(2, 3)] == 1_000_000
        assert not any(4 in p for p in pairs)

    def test_hot_frame_guard_drops_slate(self, spark):
        """A slate frame shared by every video must not pair
        otherwise-disjoint videos when the cap excludes it."""
        from etl_on_weather_dataset_spark.operators.multimodal import (
            frame_hashes,
            video_near_dup_pairs,
        )

        slate = self._frames("slate", 1)
        rows = [
            (i, bytearray(make_mp4_frames(
                slate + self._frames(f"v{i}", 3)
            )))
            for i in range(1, 5)
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        fh = frame_hashes(df)
        with_guard = video_near_dup_pairs(
            fh, min_overlap_ppm=250_000, max_ids_per_hash=3
        ).collect()
        assert with_guard == []
        without = video_near_dup_pairs(
            fh, min_overlap_ppm=250_000, max_ids_per_hash=None
        ).collect()
        assert len(without) == 6  # all pairs share the slate


class TestPrivacyAudit:
    def _df(self, spark):
        rows = [
            # class (1, 'A'): 3 rows, sensitive {10, 10, 20} -> l=2
            (1, "A", 10.0), (1, "A", 10.0), (1, "A", 20.0),
            # class (1, NULL): 2 rows -- NULL is its own class
            (1, None, 30.0), (1, None, 30.0),
            # class (2, 'B'): 1 row -> below any k >= 2
            (2, "B", 40.0),
        ]
        return spark.createDataFrame(rows, "nat int, seg string, bal double")

    def test_report_counts_null_class_and_l_diversity(self, spark):
        from etl_on_weather_dataset_spark.operators.privacy import (
            k_anonymity_report,
        )

        row = k_anonymity_report(
            self._df(spark), ["nat", "seg"], k=2,
            sensitive_col="bal", l=2,
        ).first()
        assert row["n_rows"] == 6
        assert row["n_classes"] == 3  # NULL seg forms its own class
        assert row["min_class_size"] == 1
        assert row["classes_below_k"] == 1
        assert row["rows_below_k"] == 1
        assert row["rows_below_k_ppm"] == 1_000_000 // 6
        assert row["min_l_diversity"] == 1  # the NULL class: only 30.0
        assert row["classes_below_l"] == 2  # (1,NULL) l=1 and (2,B) l=1

    def test_suppression_keeps_null_classes(self, spark):
        from etl_on_weather_dataset_spark.operators.privacy import (
            suppress_below_k,
        )

        out = suppress_below_k(self._df(spark), ["nat", "seg"], k=2)
        # (2,'B') suppressed; the NULL-seg class (size 2) must SURVIVE
        # -- a plain equi-join would drop it (NULL != NULL)
        assert out.count() == 5
        assert out.filter(F.col("seg").isNull()).count() == 2

    def test_suppression_matches_report_arithmetic(self, spark):
        from etl_on_weather_dataset_spark.operators.privacy import (
            k_anonymity_report,
            suppress_below_k,
        )

        df = self._df(spark)
        row = k_anonymity_report(df, ["nat", "seg"], k=3).first()
        released = suppress_below_k(df, ["nat", "seg"], k=3).count()
        assert released == row["n_rows"] - row["rows_below_k"]


class TestTransitionMatrix:
    def test_counts_probabilities_and_start_state(self, spark):
        from etl_on_weather_dataset_spark.operators.funnel import (
            transition_matrix,
        )

        rows = [
            # user 1: A -> B -> B  (tie on ts broken by event_id)
            (1, 1, 10, "A"), (2, 1, 20, "B"), (3, 1, 20, "B"),
            # user 2: A -> C
            (4, 2, 5, "A"), (5, 2, 6, "C"),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts long, event_type string"
        )
        out = {
            (r["src"], r["dst"]): (r["n_transitions"], r["src_total"],
                                   r["p_ppm"])
            for r in transition_matrix(
                df, ts_col="ts", tiebreak_col="event_id"
            ).collect()
        }
        assert out[("__start__", "A")] == (2, 2, 1_000_000)
        assert out[("A", "B")] == (1, 2, 500_000)
        assert out[("A", "C")] == (1, 2, 500_000)
        assert out[("B", "B")] == (1, 1, 1_000_000)
        assert len(out) == 4

    def test_no_start_state_drops_first_events(self, spark):
        from etl_on_weather_dataset_spark.operators.funnel import (
            transition_matrix,
        )

        df = spark.createDataFrame(
            [(1, 1, 1, "A"), (2, 1, 2, "B")],
            "event_id long, user_id long, ts long, event_type string",
        )
        out = transition_matrix(
            df, ts_col="ts", start_state=None
        ).collect()
        assert [(r["src"], r["dst"]) for r in out] == [("A", "B")]


class TestRankingMetrics:
    """operators/evaluate.py ranking_metrics: hand-computed MRR/NDCG
    ground truths over tiny ranked lists (discount table = plan-time
    micro literals, so expected values are exact integers)."""

    def _run(self, spark, rows, k=3):
        from etl_on_weather_dataset_spark.operators.evaluate import (
            ranking_metrics,
        )

        df = spark.createDataFrame(rows, "query_id long, rk long, rel int")
        return ranking_metrics(df, k=k).collect()[0]

    def test_perfect_ranking(self, spark):
        # one query, all top-3 relevant -> NDCG 1, RR 1
        r = self._run(spark, [(1, 1, 1), (1, 2, 1), (1, 3, 1)])
        assert (r.n_queries, r.n_with_rel, r.hits_at_1) == (1, 1, 1)
        assert r.mrr_ppm == 1_000_000
        assert r.mean_ndcg_ppm == 1_000_000

    def test_single_relevant_at_rank_two(self, spark):
        # weights (k=3): w1=1000000, w2=630930, w3=500000
        # dcg = w2; idcg (1 relevant) = w1 -> ndcg = 630930 ppm
        r = self._run(spark, [(1, 1, 0), (1, 2, 1), (1, 3, 0)])
        assert r.hits_at_1 == 0
        assert r.mrr_ppm == 500_000          # 1/2
        assert r.mean_ndcg_ppm == 630_930    # w2 / w1

    def test_no_relevant_counts_as_zero(self, spark):
        # q1 perfect, q2 empty of relevance -> means halve
        rows = [(1, 1, 1), (1, 2, 0), (1, 3, 0),
                (2, 1, 0), (2, 2, 0), (2, 3, 0)]
        r = self._run(spark, rows)
        assert (r.n_queries, r.n_with_rel) == (2, 1)
        assert r.mrr_ppm == 500_000
        assert r.mean_ndcg_ppm == 500_000

    def test_beyond_k_ignored(self, spark):
        # relevant only at rank 4 with k=3 -> contributes nothing
        rows = [(1, 1, 0), (1, 2, 0), (1, 3, 0), (1, 4, 1)]
        r = self._run(spark, rows)
        assert (r.mrr_ppm, r.mean_ndcg_ppm, r.n_with_rel) == (0, 0, 0)

    def test_idcg_caps_at_k(self, spark):
        # 2 relevant of 3 shown at ranks 1,3: dcg = w1 + w3,
        # idcg(m=2) = w1 + w2 -> ndcg = (1500000*1e6)//1630930
        r = self._run(spark, [(1, 1, 1), (1, 2, 0), (1, 3, 1)])
        assert r.mean_ndcg_ppm == (1_500_000 * 1_000_000) // 1_630_930

    def test_matches_duckdb_twin_on_edge_rows(self, spark):
        import duckdb

        from etl_on_weather_dataset_spark.operators.evaluate import (
            ranking_metrics,
            ranking_metrics_sql,
        )

        rows = [(q, r, int((q * r) % 3 == 0))
                for q in range(1, 8) for r in range(1, 6)]
        df = spark.createDataFrame(rows, "query_id long, rk long, rel int")
        got = ranking_metrics(df, k=4).collect()[0].asDict()
        con = duckdb.connect()
        vals = ", ".join(f"({q}, {r}, {v})" for q, r, v in rows)
        inner = (f"SELECT * FROM (VALUES {vals}) "
                 "AS t(query_id, rk, rel)")
        want = con.execute(
            ranking_metrics_sql(inner, k=4)
        ).df().iloc[0].to_dict()
        con.close()
        assert got == {k2: int(v) for k2, v in want.items()}


class TestInferenceBatching:
    """operators/batching.py: deterministic length-bucketed batches
    + padding-waste audit (serving-side sibling of pack_sequences)."""

    def _docs(self, spark, n=60):
        rows = [(i, " ".join(["w"] * (1 + (i * 7) % 40))) for i in range(n)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_assignment_is_partitioning_invariant(self, spark):
        from etl_on_weather_dataset_spark.operators.batching import (
            length_bucketed_batches,
        )

        docs = self._docs(spark)
        a = length_bucketed_batches(docs).orderBy("id").collect()
        b = length_bucketed_batches(docs.repartition(13)) \
            .orderBy("id").collect()
        assert a == b

    def test_batch_size_respected_and_pad_consistent(self, spark):
        from etl_on_weather_dataset_spark.operators.batching import (
            length_bucketed_batches,
        )

        rows = length_bucketed_batches(
            self._docs(spark), batch_size=4
        ).collect()
        from collections import defaultdict
        batches = defaultdict(list)
        for r in rows:
            batches[(r.shard, r.bucket, r.batch_idx)].append(r)
        for members in batches.values():
            assert len(members) <= 4
            mx = max(m.n_tokens for m in members)
            for m in members:
                assert m.batch_max == mx
                assert m.pad == mx - m.n_tokens
                # length bucketing: same 16-token bucket
                assert m.bucket == m.n_tokens // 16

    def test_bucketing_never_pads_worse_than_naive(self, spark):
        from etl_on_weather_dataset_spark.operators.batching import (
            batching_waste_audit,
        )

        r = batching_waste_audit(self._docs(spark)).collect()[0]
        assert r.n_docs == 60
        assert r.pad_bucketed <= r.pad_naive
        assert 0 <= r.pad_saving_ppm <= 1_000_000
        # bucketed batches pad within a 16-wide length band, so each
        # doc pads < 16 slots
        assert r.pad_bucketed < 16 * r.n_docs


class TestLabelPrototypes:
    """cluster.label_prototypes: pure-integer class-prototype audit
    (snapped components, truncating centroid division, integer
    squared distances)."""

    def _emb(self, spark):
        # two tight planted classes far apart + one noisy class
        import math
        rows = []
        for i in range(12):
            base = [1.0] * 4 if i % 3 == 0 else (
                [-1.0] * 4 if i % 3 == 1 else [0.25, -0.75, 0.5, -0.25])
            jitter = ((i * 37) % 7 - 3) / 1000.0
            rows.append((i, [c + jitter for c in base], i % 3))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int")

    def test_margins_and_structure(self, spark):
        from etl_on_weather_dataset_spark.operators.cluster import (
            label_prototypes,
        )

        out = label_prototypes(self._emb(spark), dim=4).collect()
        assert [r.label for r in out] == [0, 1, 2]
        for r in out:
            assert r.n_vecs == 4
            # planted classes are far tighter than their separation
            assert r.margin_ppm > 1_000_000
        # class 0 (+1s) is nearer to class 2 (mixed) than to class 1
        assert out[0].nearest_label == 2
        assert out[1].nearest_label == 2

    def test_matches_duckdb_twin_with_negative_sums(self, spark):
        """Negative component sums exercise the div/truncation
        parity that floats would get wrong at floor boundaries."""
        import duckdb

        from etl_on_weather_dataset_spark.operators.cluster import (
            label_prototypes,
            label_prototypes_sql,
        )

        df = self._emb(spark)
        got = [tuple(r) for r in label_prototypes(df, dim=4).collect()]
        rows = df.collect()
        con = duckdb.connect()
        vals = ", ".join(
            f"({r.vec_id}, {r.embedding!r}::DOUBLE[], {r.label})"
            for r in rows
        )
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                    f"(VALUES {vals}) t(vec_id, embedding, label)")
        want = [tuple(int(x) for x in row) for row in con.execute(
            label_prototypes_sql("embeddings", dim=4)).fetchall()]
        con.close()
        assert got == want

    def test_partitioning_invariant(self, spark):
        from etl_on_weather_dataset_spark.operators.cluster import (
            label_prototypes,
        )

        df = self._emb(spark)
        a = label_prototypes(df, dim=4).collect()
        b = label_prototypes(df.repartition(7), dim=4).collect()
        assert a == b


class TestContextWindows:
    """funnel.assemble_context_windows: session-cut, recency
    truncation, and deterministic tie-breaks."""

    def _ev(self, spark):
        from datetime import datetime as dt
        rows = [
            # user 1: one session of 7 events (1 min apart) -> keep
            # the LAST 5; two same-ts events (ids 103,104) tie-break
            (100 + i, dt(2024, 1, 1, 10, min(i, 59)), 1, f"e{i}")
            for i in range(7)
        ]
        rows[4] = (104, dt(2024, 1, 1, 10, 3), 1, "e4")  # ties id 103
        # user 1: second session 2h later, 2 events
        rows += [(110, dt(2024, 1, 1, 13, 0), 1, "x0"),
                 (111, dt(2024, 1, 1, 13, 1), 1, "x1")]
        # user 2: single event
        rows += [(200, dt(2024, 1, 2, 9, 0), 2, "solo")]
        return spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string")

    def test_sessions_truncation_and_ties(self, spark):
        from etl_on_weather_dataset_spark.operators.funnel import (
            assemble_context_windows,
        )

        out = {
            (r.key, str(r.session_start)): r
            for r in assemble_context_windows(
                self._ev(spark), max_turns=5
            ).collect()
        }
        assert len(out) == 3
        s1 = out[(1, "2024-01-01 10:00:00")]
        # 7 events, last 5 kept; at 10:03 id 103 ('e3') sorts before
        # id 104 ('e4')
        assert (s1.n_events, s1.n_kept) == (7, 5)
        assert s1.context == "e2 -> e3 -> e4 -> e5 -> e6"
        s2 = out[(1, "2024-01-01 13:00:00")]
        assert (s2.n_events, s2.n_kept) == (2, 2)
        assert s2.context == "x0 -> x1"
        s3 = out[(2, "2024-01-02 09:00:00")]
        assert (s3.n_events, s3.context) == (1, "solo")

    def test_matches_duckdb_twin(self, spark):
        import duckdb

        from etl_on_weather_dataset_spark.operators.funnel import (
            assemble_context_windows,
            assemble_context_windows_sql,
        )

        df = self._ev(spark)
        got = sorted(
            (r.key, str(r.session_start), r.n_events, r.n_kept,
             r.context, r.context_fp)
            for r in assemble_context_windows(df, max_turns=3).collect()
        )
        con = duckdb.connect()
        vals = ", ".join(
            f"({r.event_id}, TIMESTAMP '{r.ts}', {r.user_id}, "
            f"'{r.event_type}')"
            for r in df.collect()
        )
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM (VALUES {vals}) "
            "t(event_id, ts, user_id, event_type)"
        )
        want = sorted(
            (row[0], str(row[1]), row[2], row[3], row[4], row[5])
            for row in con.execute(
                assemble_context_windows_sql("events", max_turns=3)
            ).fetchall()
        )
        con.close()
        assert got == want


class TestVocabStore:
    """corpus.vocab_store_*: the unigram model as a persistent
    mergeable store (exactly-once folds, time travel), and scoring
    that is bit-equal to the one-shot operator when OOV-free."""

    def _docs(self, spark, lo, hi):
        return spark.createDataFrame(
            [(i, "alpha beta " + ("gamma " * (1 + i % 3)).strip())
             for i in range(lo, hi)],
            "doc_id long, text string",
        )

    def test_incremental_equals_oneshot_and_replay_noop(
        self, spark, tmp_path
    ):
        from etl_on_weather_dataset_spark.operators.corpus import (
            vocab_store_ingest,
        )

        store = str(tmp_path / "vocab")
        b1, b2 = self._docs(spark, 0, 40), self._docs(spark, 40, 100)
        vocab_store_ingest(spark, b1, store, "b1")
        vocab_store_ingest(spark, b2, store, "b2")
        # replay of b2 must be a no-op
        agg = vocab_store_ingest(spark, b2, store, "b2")
        got = {r.token: r.n_rows for r in agg.collect()}
        want = {
            r.token: r.n
            for r in self._docs(spark, 0, 100)
            .selectExpr("explode(split(text, ' +')) AS token")
            .groupBy("token").count().withColumnRenamed("count", "n")
            .collect()
        }
        assert got == want

    def test_store_scoring_bit_equals_oneshot_when_no_oov(
        self, spark, tmp_path
    ):
        from etl_on_weather_dataset_spark.operators.caching import (
            release_all,
        )
        from etl_on_weather_dataset_spark.operators.corpus import (
            unigram_logprob,
            vocab_store_ingest,
            vocab_store_logprob,
        )

        store = str(tmp_path / "vocab2")
        docs = self._docs(spark, 0, 60)
        vocab_store_ingest(spark, docs, store, "all")
        got = sorted(
            (r.id, r.n_tokens, r.n_oov, r.avg_logprob_micro)
            for r in vocab_store_logprob(spark, docs, store).collect()
        )
        release_all()
        want = sorted(
            (r.id, r.n_tokens, 0, r.avg_logprob_micro)
            for r in unigram_logprob(docs).collect()
        )
        release_all()
        assert got == want

    def test_oov_floor_and_time_travel(self, spark, tmp_path):
        from etl_on_weather_dataset_spark.operators.caching import (
            release_all,
        )
        from etl_on_weather_dataset_spark.operators.corpus import (
            vocab_store_ingest,
            vocab_store_logprob,
        )

        store = str(tmp_path / "vocab3")
        vocab_store_ingest(spark, self._docs(spark, 0, 40), store, "b1")
        new = spark.createDataFrame(
            [(999, "alpha zzz_unseen")], "doc_id long, text string"
        )
        r = vocab_store_logprob(spark, new, store).collect()[0]
        assert (r.n_tokens, r.n_oov) == (2, 1)
        release_all()
        # fold a batch CONTAINING the new token; v1 still scores it OOV
        vocab_store_ingest(
            spark, spark.createDataFrame(
                [(1000, "zzz_unseen")], "doc_id long, text string"
            ), store, "b2",
        )
        now = vocab_store_logprob(spark, new, store).collect()[0]
        release_all()
        asof = vocab_store_logprob(spark, new, store, version=1
                                   ).collect()[0]
        assert now.n_oov == 0
        assert asof.n_oov == 1


class TestWilsonCI:
    """evaluate.rate_with_wilson: engine-exact Wilson bounds (every
    op in the formula is IEEE-correctly-rounded, so the shared
    expression is bit-portable)."""

    def _rates(self, spark, rows):
        from etl_on_weather_dataset_spark.operators.evaluate import (
            rate_with_wilson,
        )

        df = spark.createDataFrame(rows, "g string, s int")
        return {
            r.g: r for r in rate_with_wilson(
                df, success_col="s", group_cols=["g"]
            ).collect()
        }

    def test_bounds_bracket_and_clamp(self, spark):
        rows = (
            [("half", i % 2) for i in range(10)]
            + [("none", 0)] * 8
            + [("all", 1)] * 8
        )
        out = self._rates(spark, rows)
        h = out["half"]
        assert h.ci_lo_ppm < h.rate_ppm < h.ci_hi_ppm
        # Wilson is symmetric around 1/2 at p-hat = 1/2
        assert h.ci_lo_ppm + h.ci_hi_ppm == 1_000_000
        # zero and full rates clamp into [0, 1] but stay informative
        assert out["none"].ci_lo_ppm == 0 and out["none"].ci_hi_ppm > 0
        assert out["all"].ci_hi_ppm == 1_000_000
        assert out["all"].ci_lo_ppm < 1_000_000

    def test_matches_duckdb_twin(self, spark):
        import duckdb

        from etl_on_weather_dataset_spark.operators.evaluate import (
            rate_with_wilson,
            rate_with_wilson_sql,
        )

        rows = [(f"g{i % 3}", int((i * 7) % 5 == 0)) for i in range(50)]
        df = spark.createDataFrame(rows, "g string, s int")
        got = sorted(
            tuple(r) for r in rate_with_wilson(
                df, success_col="s", group_cols=["g"]
            ).collect()
        )
        con = duckdb.connect()
        vals = ", ".join(f"('{g}', {s})" for g, s in rows)
        want = sorted(
            (row[0], *map(int, row[1:]))
            for row in con.execute(rate_with_wilson_sql(
                f"SELECT * FROM (VALUES {vals}) t(g, s)",
                success_sql="s", group_cols=["g"],
            )).fetchall()
        )
        con.close()
        assert got == want


class TestKSTwoSample:
    """evaluate.ks_two_sample: exact integer ECDF distance."""

    def test_identical_and_shifted(self, spark):
        from etl_on_weather_dataset_spark.operators.evaluate import (
            ks_two_sample,
        )

        rows = [("a", (i % 20) * 1.0) for i in range(100)]
        same = rows + [("b", v) for _, v in rows]
        r = ks_two_sample(
            spark.createDataFrame(same, "side string, value double"),
            "value", "side", "a", "b",
        ).collect()[0]
        assert (r.n_a, r.n_b, r.ks_ppm) == (100, 100, 0)

        shifted = rows + [("b", v + 10.0) for _, v in rows]
        r2 = ks_two_sample(
            spark.createDataFrame(shifted, "side string, value double"),
            "value", "side", "a", "b",
        ).collect()[0]
        # b is a +10 shift of a with support width 19: D = 10/20 = 0.5
        assert r2.ks_ppm == 500_000
        # arg-value: the smallest snapped value attaining the max gap
        assert r2.at_value_scaled == 900  # value 9.0 at scale 100

    def test_matches_duckdb_twin(self, spark):
        import duckdb

        from etl_on_weather_dataset_spark.operators.evaluate import (
            ks_two_sample,
            ks_two_sample_sql,
        )

        rows = [("a" if i % 3 else "b", ((i * 17) % 40) / 4.0)
                for i in range(120)]
        df = spark.createDataFrame(rows, "side string, value double")
        got = tuple(ks_two_sample(df, "value", "side", "a", "b")
                    .collect()[0])
        con = duckdb.connect()
        vals = ", ".join(f"('{s}', {v})" for s, v in rows)
        want = tuple(map(int, con.execute(ks_two_sample_sql(
            f"SELECT * FROM (VALUES {vals}) t(side, value)",
            "value", "side", "a", "b",
        )).fetchone()))
        con.close()
        assert got == want


class TestKSStore:
    """evaluate.ks_store_*: distribution monitoring off the
    persistent per-value count store."""

    def test_version_compare_equals_direct_ks(self, spark, tmp_path):
        from etl_on_weather_dataset_spark.operators.evaluate import (
            ks_between_versions,
            ks_store_ingest,
            ks_two_sample,
        )

        store = str(tmp_path / "dist")
        b1 = spark.range(200).selectExpr(
            "CAST(id % 40 AS DOUBLE) AS value")
        b2 = spark.range(150).selectExpr(
            "CAST(id % 40 + 15 AS DOUBLE) AS value")
        ks_store_ingest(spark, b1, store, "b1", "value")
        # replay no-op, then the drifted batch
        ks_store_ingest(spark, b1, store, "b1", "value")
        ks_store_ingest(spark, b2, store, "b2", "value")

        got = ks_between_versions(spark, store, 1).collect()[0]
        # direct KS: side a = snapshot v1 (b1), side b = current
        # cumulative corpus (b1 + b2)
        direct_rows = (
            b1.selectExpr("'a' AS side", "value")
            .unionByName(b1.selectExpr("'b' AS side", "value"))
            .unionByName(b2.selectExpr("'b' AS side", "value"))
        )
        want = ks_two_sample(
            direct_rows, "value", "side", "a", "b"
        ).collect()[0]
        assert tuple(got) == tuple(want)
        assert got.ks_ppm > 0  # the shift is visible

        # comparing a version with itself is exactly zero drift
        same = ks_between_versions(spark, store, 1, 1).collect()[0]
        assert (same.ks_ppm, same.n_a) == (0, 200)


class TestOrderedFoldStream:
    """Bounded-memory ordered fold (operators/fold.py): the EWMA
    scale path. The whale-key case is the round-6 verdict's item 3 --
    a key whose history spans MANY Arrow batches must fold exactly,
    with the carry crossing batch boundaries."""

    @staticmethod
    def _reference(rows, fold):
        # rows: (key, order, v) -- Python reference fold per key
        from collections import defaultdict

        per = defaultdict(list)
        for k, o, v in rows:
            per[k].append((o, v))
        out = {}
        for k, seq in per.items():
            seq.sort()
            acc = seq[0][1]
            for _, v in seq[1:]:
                acc = fold(acc, v)
            out[k] = (len(seq), acc)
        return out

    def test_ordered_fold_stream_whale_key(self, spark):
        from etl_on_weather_dataset_spark.operators.fold import (
            ordered_fold_stream,
        )

        fold = lambda acc, v: (v + acc) // 2  # noqa: E731
        # whale: 5000 rows >> the 97-row Arrow batches forced below;
        # plus two normal keys so key-change emission is exercised
        rows = [("whale", i, (i * 2654435761) % 1_000_000)
                for i in range(5000)]
        rows += [("u1", i, i * 7) for i in range(13)]
        rows += [("u2", i, 41 - i) for i in range(3)]
        df = spark.createDataFrame(rows, "k string, o long, v long")

        prev = spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", "97")
        try:
            got = {
                r.k: (r.n_events, r.fold_value)
                for r in ordered_fold_stream(
                    df, ["k"], ["o"], "v", fold
                ).collect()
            }
        finally:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", prev)
        assert got == self._reference(rows, fold)
        assert got["whale"][0] == 5000

    def test_chunked_ewma_matches_array_fold_plan_free_of_collect_list(
        self, spark
    ):
        # the two registered EWMA variants agree row-for-row at
        # sf0.001, and the chunked plan contains NO collect_list
        from etl_on_weather_dataset_spark.plans.queries_analytics import (
            _ewma_user_value,
            _ewma_user_value_chunked,
        )

        from .conftest import SF_SMOKE

        a = _ewma_user_value(spark, SF_SMOKE)
        b = _ewma_user_value_chunked(spark, SF_SMOKE)
        assert a.collect() == b.collect()
        plan = b._jdf.queryExecution().optimizedPlan().toString()
        assert "collect_list" not in plan


class TestKsDegenerateInput:
    def test_ks_empty_side_raises(self, spark):
        """An empty sample side must fail loudly, not return NULL
        ks_ppm (r6 advice item 3)."""
        from etl_on_weather_dataset_spark.operators.evaluate import (
            ks_two_sample,
        )

        df = spark.createDataFrame(
            [(float(i), "a") for i in range(5)],
            "value double, side string",
        )
        with pytest.raises(Exception, match="empty sample side"):
            ks_two_sample(
                df, value_col="value", side_col="side",
                side_a="a", side_b="b",
            ).collect()

    def test_ks_both_sides_empty_raises(self, spark):
        from etl_on_weather_dataset_spark.operators.evaluate import (
            ks_two_sample,
        )

        df = spark.createDataFrame(
            [(1.0, "x")], "value double, side string")
        with pytest.raises(Exception, match="empty sample side"):
            ks_two_sample(
                df, value_col="value", side_col="side",
                side_a="a", side_b="b",
            ).collect()


class TestCanonicalSurvivors:
    def test_best_kept_singletons_survive_tie_to_min_id(self, spark):
        from etl_on_weather_dataset_spark.operators.dedup import (
            canonical_survivors,
        )

        docs = spark.createDataFrame(
            [(1, 10), (2, 99), (3, 99), (4, 5), (7, 42)],
            "doc_id long, score long",
        )
        comps = spark.createDataFrame(
            # cluster A = {1,2,3} (2 and 3 tie on score -> keep 2),
            # cluster B = {4}; 7 never clustered
            [(1, 1), (2, 1), (3, 1), (4, 4)],
            "id long, component long",
        )
        got = sorted(
            r.doc_id
            for r in canonical_survivors(
                docs, comps, "doc_id", "score"
            ).collect()
        )
        assert got == [2, 4, 7]


class TestQuotaWaterfill:
    def test_hand_computed_allocation(self, spark):
        from etl_on_weather_dataset_spark.operators.sample import (
            quota_waterfill,
        )

        strata = spark.createDataFrame(
            [("a", 10, 1), ("b", 100, 1), ("c", 100, 2)],
            "stratum string, n_avail long, weight long",
        )
        # n/w order: a (10), c (50), b (100). budget 110:
        # a capped (10); c test 100*3 <= 100*2 fails -> uncapped;
        # B'=100, W'=3 -> c = 200 div 3 = 66, b = 100 div 3 = 33
        got = {r.stratum: (r.capped, r.alloc)
               for r in quota_waterfill(strata, 110).collect()}
        assert got == {"a": (1, 10), "b": (0, 33), "c": (0, 66)}

    def test_nonpositive_weight_fails_loudly_in_both_engines(self, spark):
        """r7 advice: weight <= 0 must error, not silently NULL the
        n/w ordering key (Spark non-ANSI div) while DuckDB's //
        errors -- the engines would diverge on degenerate input."""
        import duckdb
        import pytest

        from etl_on_weather_dataset_spark.operators.sample import (
            quota_waterfill,
            quota_waterfill_sql,
        )

        strata = spark.createDataFrame(
            [("a", 10, 1), ("b", 5, 0)],
            "stratum string, n_avail long, weight long",
        )
        with pytest.raises(Exception, match="weight must be"):
            quota_waterfill(strata, 10).collect()
        sql = quota_waterfill_sql(
            "SELECT * FROM (VALUES ('a', 10, 1), ('b', 5, 0))"
            " AS t(stratum, n_avail, weight)",
            10,
        )
        with pytest.raises(Exception, match="weight must be"):
            duckdb.sql(sql).fetchall()

    def test_budget_exceeds_total_all_capped(self, spark):
        from etl_on_weather_dataset_spark.operators.sample import (
            quota_waterfill,
        )

        strata = spark.createDataFrame(
            [("a", 5, 1), ("b", 7, 3)],
            "stratum string, n_avail long, weight long",
        )
        got = {r.stratum: (r.capped, r.alloc)
               for r in quota_waterfill(strata, 1000).collect()}
        assert got == {"a": (1, 5), "b": (1, 7)}

    def test_invariants_hold(self, spark):
        from etl_on_weather_dataset_spark.operators.sample import (
            quota_waterfill,
        )

        strata = spark.createDataFrame(
            [(f"s{i}", (i * 37) % 90 + 3, i % 4 + 1)
             for i in range(12)],
            "stratum string, n_avail long, weight long",
        )
        rows = quota_waterfill(strata, 250).collect()
        assert sum(r.alloc for r in rows) <= 250
        for r in rows:
            assert 0 <= r.alloc <= r.n_avail
            assert (r.capped == 1) == (r.alloc == r.n_avail) or \
                r.capped == 0  # uncapped may coincidentally equal


class TestCurriculumInterleave:
    def test_positions_unique_and_round_robin(self, spark):
        from etl_on_weather_dataset_spark.operators.sample import (
            curriculum_interleave,
        )

        df = spark.createDataFrame(
            [(i, (i * 13) % 50) for i in range(100)],
            "doc_id long, score long",
        )
        rows = curriculum_interleave(
            df, "score", "doc_id", n_buckets=5
        ).collect()
        assert len(rows) == 100
        assert len({r.pos for r in rows}) == 100  # collision-free
        # buckets are score-quantile tiers: every bucket's max score
        # <= next bucket's min score
        by_b = {}
        for r in rows:
            by_b.setdefault(r.bucket, []).append(r.score)
        bs = sorted(by_b)
        assert bs == [0, 1, 2, 3, 4]
        for a, b in zip(bs, bs[1:]):
            assert max(by_b[a]) <= min(by_b[b])
        # first len(bs) positions in pos order hit distinct buckets
        first = sorted(rows, key=lambda r: r.pos)[: len(bs)]
        assert {r.bucket for r in first} == set(bs)


class TestWinsorize:
    def test_clip_flags_and_null_passthrough(self, spark):
        from etl_on_weather_dataset_spark.operators.clean import winsorize

        df = spark.createDataFrame(
            [("a", float(v)) for v in range(1, 11)] + [("a", None)],
            "g string, value double",
        )
        out = {
            (r.value if r.value is None else r.value): (
                r.value_w, r.value_clip
            )
            for r in winsorize(
                df, ["g"], "value", lo_q=0.1, hi_q=0.9
            ).collect()
        }
        # interpolated p10 of 1..10 = 1.9, p90 = 9.1
        assert out[1.0] == (1.9, -1)
        assert out[10.0] == (9.1, 1)
        assert out[5.0] == (5.0, 0)
        assert out[None] == (None, 0)


class TestContainmentPairs:
    def test_short_inside_long_found_despite_low_jaccard(self, spark):
        """A 3-shingle doc fully inside a 40-shingle doc: containment
        1.0 both ways detected, Jaccard ~0.07 would miss it at any
        realistic threshold."""
        from etl_on_weather_dataset_spark.operators.caching import (
            release_all,
        )
        from etl_on_weather_dataset_spark.operators.dedup import (
            ngram_containment_pairs,
            ngram_jaccard_pairs,
        )

        long_text = " ".join(f"w{i}" for i in range(42))
        short_text = "w10 w11 w12 w13 w14"  # 3 trigram shingles
        other = " ".join(f"z{i}" for i in range(20))
        df = spark.createDataFrame(
            [(1, long_text), (2, short_text), (3, other)],
            "doc_id long, text string",
        )
        try:
            cont = ngram_containment_pairs(
                df, "text", "doc_id", n=3, threshold_ppm=900_000
            ).collect()
            jac = ngram_jaccard_pairs(
                df, "text", "doc_id", n=3, threshold=0.5
            ).collect()
        finally:
            release_all()
        assert [(r.contained_id, r.container_id,
                 r.containment_ppm) for r in cont] == [(2, 1, 1_000_000)]
        assert jac == []  # symmetric tier is blind to this pair


class TestBootstrapMeanCi:
    def test_ci_brackets_point_and_shrinks_sane(self, spark):
        from etl_on_weather_dataset_spark.operators.evaluate import (
            bootstrap_mean_ci,
        )

        df = spark.createDataFrame(
            [(i, "g", 10.0 + (i % 7)) for i in range(400)],
            "id long, g string, value double",
        )
        r = bootstrap_mean_ci(
            df, ["g"], "value", "id", n_boot=100
        ).collect()[0]
        assert r.n_rows == 400
        # point mean of 10..16 cycle ~ 12.99; e4 scale
        assert 125000 <= r.mean_e <= 135000
        assert r.ci_lo_e <= r.mean_e <= r.ci_hi_e
        # 95% CI of a 400-row mean with sd~2: half-width ~0.2 -> e4
        # within [500, 6000] (loose sanity, not a statistics test)
        assert 0 < r.ci_hi_e - r.ci_lo_e < 10000
        assert r.n_boot_used == 100

    def test_deterministic_across_runs(self, spark):
        from etl_on_weather_dataset_spark.operators.evaluate import (
            bootstrap_mean_ci,
        )

        df = spark.createDataFrame(
            [(i, "a" if i % 2 else "b", float(i % 13)) for i in range(150)],
            "id long, g string, value double",
        ).repartition(7)
        a = sorted(map(tuple, bootstrap_mean_ci(
            df, ["g"], "value", "id", n_boot=50).collect()))
        b = sorted(map(tuple, bootstrap_mean_ci(
            df.repartition(3), ["g"], "value", "id", n_boot=50
        ).collect()))
        assert a == b  # partitioning-invariant, hash-seeded


class TestBalancedShards:
    def test_every_shard_carries_the_mixture(self, spark):
        from etl_on_weather_dataset_spark.operators.sample import (
            balanced_shard_assignment,
        )

        df = spark.createDataFrame(
            [(f"d{i}", "en" if i % 10 < 7 else "de") for i in range(200)],
            "doc_id string, lang string",
        )
        rows = balanced_shard_assignment(df, "lang", "doc_id", 4).collect()
        from collections import Counter

        per = Counter((r.shard, r.lang) for r in rows)
        # per-stratum counts across shards differ by at most 1
        for lang, total in (("en", 140), ("de", 60)):
            counts = [per[(s, lang)] for s in range(4)]
            assert sum(counts) == total
            assert max(counts) - min(counts) <= 1


class TestQuotaWaterfillSelect:
    def test_exactly_alloc_rows_per_stratum(self, spark):
        from etl_on_weather_dataset_spark.operators.sample import (
            quota_waterfill,
            quota_waterfill_select,
        )

        df = spark.createDataFrame(
            [(f"k{i}", "small" if i < 30 else "big")
             for i in range(330)],
            "doc_id string, src string",
        )
        strata = df.groupBy(F.col("src").alias("stratum")).agg(
            F.count(F.lit(1)).cast("long").alias("n_avail"),
            F.lit(1).cast("long").alias("weight"),
        )
        plan = quota_waterfill(strata, 100)
        alloc = {r.stratum: r.alloc for r in plan.collect()}
        # small (30 avail) caps; big gets the redistributed 70
        assert alloc == {"small": 30, "big": 70}
        got = (
            quota_waterfill_select(df, plan, "src", "doc_id")
            .groupBy("src").count().collect()
        )
        assert {r.src: r["count"] for r in got} == \
            {"small": 30, "big": 70}


class TestScaledNCells:
    """The ANN density dial as code (round-8 verdict item 4)."""

    def test_ceil_div_and_clamps(self):
        from etl_on_weather_dataset_spark.operators.similarity import (
            scaled_n_cells,
        )

        # exact ceil division at the default target (256 rows/cell)
        assert scaled_n_cells(256) == 8        # min_cells floor
        assert scaled_n_cells(2048) == 8       # exactly 8 cells
        assert scaled_n_cells(2049) == 9       # ceil, not floor
        assert scaled_n_cells(1_000_000) == 3907
        # explicit target
        assert scaled_n_cells(500, 64) == 8
        assert scaled_n_cells(2000, 64) == 32
        assert scaled_n_cells(20_000, 64) == 313
        # clamps
        assert scaled_n_cells(0) == 8
        assert scaled_n_cells(-5) == 8
        assert scaled_n_cells(10**12, 1) == 1 << 20

    def test_semdedup_none_matches_explicit(self, spark):
        """n_cells=None must behave exactly as the explicitly scaled
        count -- same cells, same survivors."""
        from etl_on_weather_dataset_spark.operators.similarity import (
            scaled_n_cells,
            semdedup,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        n = emb.count()
        auto = semdedup(emb, 0.9, n_cells=None, target_cell_rows=64)
        explicit = semdedup(emb, 0.9, n_cells=scaled_n_cells(n, 64))
        assert sorted(map(tuple, auto.collect())) == sorted(
            map(tuple, explicit.collect())
        )

    def test_ivf_build_k_none_scales_cells(self, spark, tmp_path):
        """k=None derives the quantizer size from the corpus."""
        from etl_on_weather_dataset_spark.operators.ann_store import (
            ivf_index_build,
            ivf_store_stats,
        )

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        store = str(tmp_path / "ivf")
        ivf_index_build(spark, emb, store, k=None, target_cell_rows=64)
        stats = ivf_store_stats(spark, store).collect()[0]
        # 500 vectors / 64 per cell -> 8 trained centroids; Lloyd can
        # leave a centroid empty, so cells with members may be fewer
        assert stats.n_vectors == 500
        assert 1 <= stats.n_cells <= 8


class TestMinhashBandCostPlanner:
    """The rows_per_band dial's planner (round-9): exact collision
    budgets from bucket sizes, never forming a pair."""

    def test_planner_matches_actual_join_collisions(self, spark):
        from pyspark.sql import functions as F

        from etl_on_weather_dataset_spark.operators.dedup import (
            _band_keys,
            _minhash_shingles,
            minhash_band_cost,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        cost = {
            int(r.rows_per_band): r.n_collision_pairs
            for r in minhash_band_cost(docs).collect()
        }
        for r in (1, 2):
            sh = _minhash_shingles(docs, "text", "doc_id", 3, None)
            bands = sh.select(
                "id",
                F.posexplode(_band_keys(4, r, 42)).alias("band", "key"),
            )
            actual = (
                bands.alias("a")
                .join(bands.alias("b"), ["band", "key"])
                .filter(F.col("a.id") < F.col("b.id"))
                .count()
            )
            assert cost[r] == actual, (r, cost[r], actual)
        # the AND-step suppresses collisions
        assert cost[2] < cost[1]

    def test_choose_rows_per_band_budgets(self, spark):
        from etl_on_weather_dataset_spark.operators.dedup import (
            choose_rows_per_band,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        # huge budget -> max-recall r=1; zero budget -> the honest
        # fallback is the largest (most suppressive) option
        assert choose_rows_per_band(docs, 10**12) == 1
        assert choose_rows_per_band(docs, 0) == 2

    def test_planner_never_forms_a_pair(self, spark):
        """The plan must contain NO self-join of the bands relation:
        one scan per option, aggregates only."""
        from etl_on_weather_dataset_spark.operators.dedup import (
            minhash_band_cost,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        df = minhash_band_cost(docs)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")
        )
        for join in ("SortMergeJoin", "ShuffledHashJoin",
                     "BroadcastHashJoin", "CartesianProduct"):
            assert join not in plan, plan[:2000]

    def test_auto_rows_per_band_matches_explicit(self, spark):
        """rows_per_band=None must produce exactly the pairs of the
        explicitly chosen option for the same budget."""
        from etl_on_weather_dataset_spark.operators.dedup import (
            choose_rows_per_band,
            minhash_lsh_pairs,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        # tight budget forces r=2 on this corpus (565 collisions at
        # r=1, 116 at r=2; 500 shingled docs -> budget 0.5/doc = 250)
        r = choose_rows_per_band(docs, 250)
        assert r == 2
        auto = minhash_lsh_pairs(
            docs, rows_per_band=None, collision_budget_per_doc=0
        )
        explicit = minhash_lsh_pairs(docs, rows_per_band=2)
        assert sorted(map(tuple, auto.collect())) == sorted(
            map(tuple, explicit.collect())
        )


class TestQuarantineSplit:
    """Dead-letter routing (round-9): valid + quarantined partition
    the input, reasons name exactly the violated expectations."""

    def test_partition_and_reasons(self, spark):
        from pyspark.sql import functions as F

        from etl_on_weather_dataset_spark.operators.validate import (
            Expectation,
            in_range,
            not_null,
            quarantine_split,
        )

        df = spark.createDataFrame(
            [(1, 10.0, "a"), (2, None, "a"), (3, -5.0, "b"),
             (4, 999.0, None), (5, -1.0, None)],
            "id long, price double, cat string",
        )
        exps = [
            not_null(["cat"]),
            in_range("price", 0, 100),
        ]
        valid, quarantined = quarantine_split(df, exps)
        assert {r.id for r in valid.collect()} == {1, 2}  # null price passes in_range
        got = {r.id: sorted(r.reasons) for r in quarantined.collect()}
        assert got == {
            3: ["in_range:price"],
            4: ["in_range:price", "not_null:cat"],
            5: ["in_range:price", "not_null:cat"],
        }
        # the split partitions the input exactly
        assert valid.count() + quarantined.count() == df.count()
        assert "reasons" not in valid.columns

    def test_split_is_shuffle_free(self, spark):
        from etl_on_weather_dataset_spark.operators.validate import (
            in_range,
            quarantine_split,
        )

        df = spark.read.parquet(
            "/root/testdata/sf0.001/orders.parquet"
        )
        valid, quarantined = quarantine_split(
            df, [in_range("o_totalprice", 0, 600_000)]
        )
        for frame in (valid, quarantined):
            plan = frame._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
            assert "Exchange" not in plan, plan[:1500]


class TestLastTouchAttribution:
    """Semantics of operators.funnel.last_touch_attribution on
    constructed histories: strict-before, lookback cutoff, the
    same-microsecond tie rule, and the direct bucket."""

    def _run(self, spark, rows):
        from etl_on_weather_dataset_spark.operators.funnel import (
            last_touch_attribution,
        )

        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_type string, "
                  "value double",
        )
        return {
            r.channel: (r.n_conversions, r.value_cents, r.sum_lag_us)
            for r in last_touch_attribution(
                df, lookback_seconds=3600
            ).collect()
        }

    def test_last_strictly_before_wins(self, spark):
        from datetime import datetime as dt

        got = self._run(spark, [
            (1, dt(2024, 1, 1, 10, 0, 0), "view", 0.0),
            (1, dt(2024, 1, 1, 10, 30, 0), "click", 0.0),
            # conversion at 10:45 -> last touch = the 10:30 click
            (1, dt(2024, 1, 1, 10, 45, 0), "purchase", 5.0),
        ])
        assert got == {"click": (1, 500, 15 * 60 * 1_000_000)}

    def test_same_microsecond_touch_does_not_count(self, spark):
        from datetime import datetime as dt

        t = dt(2024, 1, 1, 10, 0, 0)
        got = self._run(spark, [
            (1, t, "click", 0.0),  # simultaneous: NOT strictly before
            (1, t, "purchase", 2.0),
        ])
        assert got == {"direct": (1, 200, None)}

    def test_lookback_cutoff_is_inclusive_at_edge(self, spark):
        from datetime import datetime as dt

        got = self._run(spark, [
            # exactly 3600s before: tus == cus - L -> inside window
            (1, dt(2024, 1, 1, 9, 0, 0), "view", 0.0),
            (1, dt(2024, 1, 1, 10, 0, 0), "purchase", 1.0),
            # one micro past the lookback -> direct
            (2, dt(2024, 1, 1, 8, 59, 59, 999999), "view", 0.0),
            (2, dt(2024, 1, 1, 10, 0, 0), "purchase", 1.0),
        ])
        assert got["view"] == (1, 100, 3600 * 1_000_000)
        assert got["direct"] == (1, 100, None)

    def test_same_microsecond_touch_tie_breaks_to_max_channel(
        self, spark
    ):
        from datetime import datetime as dt

        t = dt(2024, 1, 1, 10, 0, 0)
        got = self._run(spark, [
            (1, t, "click", 0.0),
            (1, t, "view", 0.0),  # 'view' > 'click' lexicographically
            (1, dt(2024, 1, 1, 10, 5, 0), "purchase", 3.0),
        ])
        assert got == {"view": (1, 300, 5 * 60 * 1_000_000)}

    def test_touches_from_other_users_never_credit(self, spark):
        from datetime import datetime as dt

        got = self._run(spark, [
            (1, dt(2024, 1, 1, 9, 59, 0), "click", 0.0),
            (2, dt(2024, 1, 1, 10, 0, 0), "purchase", 4.0),
        ])
        assert got == {"direct": (1, 400, None)}


class TestFdAudit:
    """operators.profile.fd_audit: g3 semantics, NULL-as-a-value,
    key checks."""

    def test_g3_and_verdicts(self, spark):
        from etl_on_weather_dataset_spark.operators.profile import (
            fd_audit,
        )

        df = spark.createDataFrame(
            [(1, "a", 10), (1, "a", 11), (2, "b", 10), (2, "c", 10),
             (2, "c", 12), (3, "d", 13)],
            "k long, v string, w long",
        )
        got = {
            r.fd: (r.n_rows, r.n_groups, r.n_violating_groups,
                   r.g3_delete_rows, r.holds)
            for r in fd_audit(df, [
                (("k",), "v"),   # k=2 maps to b and c -> g3 = 1
                (("k",), None),  # k repeats -> not a key
                (("k", "v"), None),  # (k,v) repeats for (1,a),(2,c)
                (("v",), "k"),   # each v has one k -> holds
            ]).collect()
        }
        assert got["k->v"] == (6, 3, 1, 1, False)
        assert got["k->*"] == (6, 3, 2, 3, False)
        assert got["k,v->*"] == (6, 4, 2, 2, False)
        assert got["v->k"] == (6, 4, 0, 0, True)

    def test_null_rhs_is_one_more_value(self, spark):
        from etl_on_weather_dataset_spark.operators.profile import (
            fd_audit,
        )

        df = spark.createDataFrame(
            [(1, "a"), (1, None), (2, None), (2, None)],
            "k long, v string",
        )
        got = {
            r.fd: (r.n_violating_groups, r.g3_delete_rows, r.holds)
            for r in fd_audit(df, [(("k",), "v")]).collect()
        }
        # k=1 has {a, NULL} -> violating, delete 1; k=2 has {NULL} only
        assert got["k->v"] == (1, 1, False)

    def test_fd_scan_is_column_pruned_and_join_free(self, spark):
        from etl_on_weather_dataset_spark.operators.profile import (
            fd_audit,
        )

        df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        plan = fd_audit(
            df, [(("o_orderkey",), "o_custkey")]
        )._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")
        )
        assert "Join" not in plan
        assert "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint>" \
            in plan, plan[:2000]
        assert "partial_count" in plan  # map-side combine


class TestNeymanWeights:
    """operators.sample.neyman_weights: exact N_h*sigma_h weights."""

    def test_weight_is_floor_of_n_sigma(self, spark):
        import math

        from etl_on_weather_dataset_spark.operators.sample import (
            neyman_weights,
        )

        df = spark.createDataFrame(
            [("a", 1), ("a", 3), ("a", 5),
             ("b", 4), ("b", 4), ("b", 4),
             ("c", 10), ("c", 20)],
            "s string, x long",
        )
        got = {
            r.stratum: (r.n_avail, r.weight)
            for r in neyman_weights(df, "s", "x").collect()
        }
        # a: var_num = 3*35 - 81 = 24; floor(sqrt(24)) = 4
        assert got["a"] == (3, math.isqrt(3 * 35 - 9 * 9))
        # b: zero variance -> weight 0
        assert got["b"] == (3, 0)
        # c: var_num = 2*500 - 900 = 100 -> exactly 10
        assert got["c"] == (2, 10)

    def test_overflow_guard_fails_loud(self, spark):
        import pytest
        from pyspark.errors.exceptions.captured import (
            SparkRuntimeException,
        )

        from etl_on_weather_dataset_spark.operators.sample import (
            neyman_weights,
        )

        # var_num ~ 3.6e16 > 2^52 while every intermediate product
        # still fits a long (beyond long, Spark's ANSI overflow is
        # the fail-loud path instead)
        big = 2**27
        df = spark.createDataFrame(
            [("a", big), ("a", big - 1_000_000), ("a", 1)],
            "s string, x long",
        )
        with pytest.raises(SparkRuntimeException, match="2\\^52"):
            neyman_weights(df, "s", "x").collect()

    def test_guard_covers_floor_sqrt_isqrt_divergence(self, spark):
        """The guard bound is 2^52, not 2^53: for var_num in
        (2^52, 2^53] floor(IEEE sqrt) can exceed isqrt (e.g.
        67108865^2 - 1 <= 2^53 sqrts to exactly 67108865.0), so a
        2^53 guard would pass silently-wrong weights. Construct
        var_num = k^2 - 1 via n=2 rows {0, x}: var_num = 2*x^2 - x^2
        = x^2 ... need k^2-1, so use rows {a, b}: var_num =
        2(a^2+b^2) - (a+b)^2 = (a-b)^2 -- always a perfect square.
        Instead assert directly: the guard refuses ANY var_num >=
        2^52, including the first divergent family."""
        import math

        import pytest
        from pyspark.errors.exceptions.captured import (
            SparkRuntimeException,
        )

        from etl_on_weather_dataset_spark.operators.sample import (
            neyman_weights,
        )

        k = 2**26 + 1
        bad = k * k - 1  # <= 2^53 yet floor(sqrt) == k != isqrt == k-1
        assert bad <= 2**53
        assert math.floor(math.sqrt(bad)) != math.isqrt(bad)
        # two-row stratum {0, x} has var_num = (x-0)^2 = x^2; pick
        # x = 2^26 so var_num = 2^52 exactly -- the first refused value
        df = spark.createDataFrame(
            [("a", 0), ("a", 2**26)], "s string, x long"
        )
        with pytest.raises(SparkRuntimeException, match="2\\^52"):
            neyman_weights(df, "s", "x").collect()
        # and 2^52 - 1 (one below the bound) still passes exactly
        ok = spark.createDataFrame(
            [("a", 0), ("a", 2**26 - 1)], "s string, x long"
        )
        [row] = neyman_weights(ok, "s", "x").collect()
        assert row.weight == math.isqrt((2**26 - 1) ** 2)

    def test_sql_twin_guard_fails_loud(self):
        import duckdb
        import pytest

        from etl_on_weather_dataset_spark.operators.sample import (
            neyman_weights_sql,
        )

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW t AS SELECT 'a' AS s, x FROM (VALUES "
            f"(CAST(0 AS BIGINT)), (CAST({2**26} AS BIGINT))) v(x)"
        )
        with pytest.raises(Exception, match="2\\^52"):
            con.execute(
                neyman_weights_sql("SELECT * FROM t", "s", "x")
            ).fetchall()

    def test_weights_equal_oracle_on_documents(self, spark):
        import duckdb

        from etl_on_weather_dataset_spark.operators.sample import (
            neyman_weights,
            neyman_weights_sql,
        )
        from etl_on_weather_dataset_spark.schemas import load_table

        sf = "/root/testdata/sf0.001"
        docs = load_table(spark, sf, "documents")
        got = {
            r.stratum: (r.n_avail, r.weight)
            for r in neyman_weights(docs, "source", "n_chars").collect()
        }
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf}/documents.parquet')"
        )
        want = {
            s: (n, w)
            for s, n, w in con.execute(
                neyman_weights_sql(
                    "SELECT * FROM documents", "source", "n_chars"
                )
            ).fetchall()
        }
        assert got == want


class TestHeavyHitters:
    """operators.topk_sketch: Misra-Gries compress exactness and the
    partitioning-invariant merge guarantees."""

    def test_small_cardinality_is_exact(self, spark):
        from etl_on_weather_dataset_spark.operators.topk_sketch import (
            heavy_hitters,
        )

        rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 2
        df = spark.createDataFrame(rows, "item string").coalesce(1)
        got = {
            r.item: (r.est_lo, r.err_bound)
            for r in heavy_hitters(df, "item", k=8).collect()
        }
        # <= k distinct per batch: no deduction anywhere
        assert got == {"a": (5, 0), "b": (3, 0), "c": (2, 0)}

    def test_guarantees_hold_under_any_partitioning(self, spark):
        from collections import Counter

        from etl_on_weather_dataset_spark.operators.topk_sketch import (
            heavy_hitters,
        )

        # 3 heavy items + a long tail, deterministic
        raw = (["hot1"] * 300 + ["hot2"] * 250 + ["hot3"] * 200
               + [f"t{i % 97}" for i in range(450)])
        truth = Counter(raw)
        n = len(raw)
        k = 16
        for parts in (1, 3, 11):
            df = spark.createDataFrame(
                [(x,) for x in raw], "item string"
            ).repartition(parts)
            got = {
                r.item: (r.est_lo, r.err_bound)
                for r in heavy_hitters(df, "item", k=k).collect()
            }
            errs = {e for _, e in got.values()}
            assert len(errs) == 1
            bound = errs.pop()
            assert bound * (k + 1) <= n  # worst-case N/(k+1)
            for item, true_n in truth.items():
                if true_n * (k + 1) > n:
                    assert item in got, (parts, item)
                est = got.get(item, (0,))[0]
                assert est <= true_n
                assert true_n - est <= bound, (parts, item)

    def test_null_items_are_ignored(self, spark):
        from etl_on_weather_dataset_spark.operators.topk_sketch import (
            heavy_hitters,
        )

        df = spark.createDataFrame(
            [("a",), (None,), ("a",), (None,)], "item string"
        )
        got = {
            r.item: r.est_lo
            for r in heavy_hitters(df, "item", k=4).collect()
        }
        assert got == {"a": 2}


class TestCusumDaily:
    """operators.timeseries.cusum_daily: hand-checked recursion,
    max(0,.) reset, and alarm latching on a constructed series."""

    def test_recursion_matches_hand_computation(self, spark):
        from datetime import datetime as dt

        from etl_on_weather_dataset_spark.operators.timeseries import (
            cusum_daily,
        )

        # 2 burn-in days at 100 cents/event, then a +100% day and a
        # -100%-ish day: burn-in mu = 100e6 micro-cents/event,
        # slack 10% -> k = 10e6, thresh = 2 * 100e6 * (4 div 2)
        rows = []
        for d, cents in [(1, 100), (2, 100), (3, 200), (4, 10)]:
            rows += [(dt(2024, 1, d, 12, 0, 0), cents)] * 2
        df = spark.createDataFrame(rows, "ts timestamp, cents long")
        got = {
            str(r.day): (r.cusum_pos, r.cusum_neg, r.alarm_pos,
                         r.alarm_neg)
            for r in cusum_daily(
                df, burn_in_days=2, slack_ppm=100_000, h_mult=2
            ).collect()
        }
        mu, k = 100_000_000, 10_000_000
        # day1/2: dev_pos = 200e6 - 2*(mu+k) = -20e6 -> clipped to 0;
        # dev_neg = 2*(mu-k) - 200e6 = -20e6 -> clipped to 0
        assert got["2024-01-01"] == (0, 0, False, False)
        assert got["2024-01-02"] == (0, 0, False, False)
        # day3: 400e6 - 2*110e6 = 180e6 positive; neg stays 0
        assert got["2024-01-03"] == (180_000_000, 0, False, False)
        # day4: pos 180e6 + (20e6 - 220e6) = -20e6 -> reset to 0;
        # neg 0 + (180e6 - 20e6) = 160e6
        assert got["2024-01-04"] == (0, 160_000_000, False, False)

    def test_sustained_shift_latches_alarm(self, spark):
        from datetime import datetime as dt

        from etl_on_weather_dataset_spark.operators.timeseries import (
            cusum_daily,
        )

        rows = []
        for d in range(1, 11):
            cents = 100 if d <= 4 else 300  # shift at day 5
            rows += [(dt(2024, 1, d, 8, 0, 0), cents)] * 3
        df = spark.createDataFrame(rows, "ts timestamp, cents long")
        out = cusum_daily(
            df, burn_in_days=4, slack_ppm=100_000, h_mult=2
        ).collect()
        alarms = [str(r.day) for r in out if r.alarm_pos]
        # surplus/day = 3*(300e6 - 110e6) = 570e6;
        # thresh = 2 * 100e6 * (12 div 4) = 600e6 -> latch on day 6
        assert alarms == [f"2024-01-{d:02d}" for d in range(6, 11)]
        assert not any(r.alarm_neg for r in out)

    def test_event_grain_is_never_sorted_or_windowed(self, spark):
        from etl_on_weather_dataset_spark.operators.timeseries import (
            cusum_daily,
        )
        from etl_on_weather_dataset_spark.schemas import load_table
        from pyspark.sql import functions as F

        ev = load_table(spark, "/root/testdata/sf0.001", "events")
        df = ev.select(
            "ts", F.round(F.col("value") * 100).cast("long")
            .alias("cents")
        )
        plan = cusum_daily(df)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")
        )
        # the daily rollup must partial-aggregate map-side, and the
        # only Window is the burn-in rank at |days| grain -- never a
        # window ordered over raw event timestamps
        assert "partial_count" in plan
        assert "CartesianProduct" not in plan
        assert "Window" in plan  # the |days|-grain burn-in rank
        assert "windowspecdefinition(ts" not in plan

    def test_degenerate_burn_in_fails_loud(self, spark):
        """Empty frames and burn-ins with fewer events than days are
        rejected (otherwise mu nulls out / thresh=0 alarms on every
        positive deviation -- round-9 ADVICE)."""
        import pytest
        from pyspark.errors.exceptions.captured import (
            SparkRuntimeException,
        )

        from etl_on_weather_dataset_spark.operators.timeseries import (
            cusum_from_daily,
        )

        empty = spark.createDataFrame(
            [], "day date, n long, s long"
        )
        with pytest.raises(SparkRuntimeException, match="burn-in"):
            cusum_from_daily(empty, burn_in_days=5).collect()

        # 3 days x 1 event with burn_in_days=5: d=3 < 5 -> refuse
        # (previously thresh = mu * (3 div 5) = 0)
        from datetime import date

        sparse = spark.createDataFrame(
            [(date(2024, 1, d), 1, 100) for d in range(1, 4)],
            "day date, n long, s long",
        )
        with pytest.raises(SparkRuntimeException, match="burn-in"):
            cusum_from_daily(sparse, burn_in_days=5).collect()

        # exactly burn_in_days events across the burn-in still passes
        ok = spark.createDataFrame(
            [(date(2024, 1, d), 1, 100) for d in range(1, 7)],
            "day date, n long, s long",
        )
        assert len(cusum_from_daily(ok, burn_in_days=5).collect()) == 6


class TestBlockingQuality:
    """operators.linkage.blocking_quality on a constructed corpus
    with known blocking behavior."""

    def test_counts_and_ratios(self, spark):
        from etl_on_weather_dataset_spark.operators.linkage import (
            blocking_quality,
        )

        # clean/dirty share ids; names engineered so blocking (q=3,
        # generous cutoffs) finds everything -- completeness 1e6
        rows = [(i, f"record-{i:04d}") for i in range(40)]
        clean = spark.createDataFrame(rows, "id long, name string")
        dirty = spark.createDataFrame(
            [(i, n[:-1]) for i, n in rows], "id long, name string"
        )
        r = blocking_quality(
            clean, dirty, q=3, max_rel_freq=1.0, max_dist=2,
            min_keep_count=5, panel_ppm=1_000_000,  # full panel
        ).collect()[0]
        assert (r.n_a, r.n_b) == (40, 40)
        assert r.panel_a_n == 40 and r.panel_b_n == 40
        # every id's counterpart is within dist 1 and shares grams
        assert r.panel_true_matches >= 40
        assert r.panel_found == r.panel_true_matches
        assert r.completeness_ppm == 1_000_000
        # blocking found SOME structure: fewer candidates than the
        # cross product (the shared 'record-' prefix is kept at
        # rel_freq=1.0, so candidates = all pairs here -> reduction 0;
        # assert the arithmetic instead)
        assert r.reduction_ppm == (
            1_000_000 - r.candidate_pairs * 1_000_000 // (40 * 40)
        )

    def test_empty_panel_is_vacuously_complete(self, spark):
        from etl_on_weather_dataset_spark.operators.linkage import (
            blocking_quality,
        )

        clean = spark.createDataFrame(
            [(1, "alpha")], "id long, name string"
        )
        dirty = spark.createDataFrame(
            [(2, "zzzzzzz")], "id long, name string"
        )
        r = blocking_quality(
            clean, dirty, panel_ppm=1_000_000
        ).collect()[0]
        assert r.panel_true_matches == 0
        assert r.completeness_ppm == 1_000_000


class TestComponentStore:
    """operators.component_store: incremental merges through the
    bucket-partitioned store equal the one-shot recompute."""

    def _pairs(self, spark, edges):
        return spark.createDataFrame(edges, "id_a long, id_b long")

    def test_merge_then_merge_equals_oneshot(self, spark, tmp_path):
        from etl_on_weather_dataset_spark.operators.component_store import (
            merge_component_batch,
            read_component_store,
        )
        from etl_on_weather_dataset_spark.operators.dedup import (
            dedup_components,
        )

        day1 = [(1, 2), (3, 4), (7, 8)]
        day2 = [(2, 3), (10, 11)]  # merges {1,2}+{3,4}; new {10,11}
        store = str(tmp_path / "cstore")
        merge_component_batch(spark, self._pairs(spark, day1), store)
        merge_component_batch(spark, self._pairs(spark, day2), store)
        got = {
            r.id: r.component
            for r in read_component_store(spark, store).collect()
        }
        want = {
            r.id: r.component
            for r in dedup_components(
                self._pairs(spark, day1 + day2)
            ).collect()
        }
        assert got == want
        assert got[4] == 1 and got[7] == 7 and got[11] == 10

    def test_untouched_components_keep_their_rows(self, spark, tmp_path):
        from etl_on_weather_dataset_spark.operators.component_store import (
            merge_component_batch,
            read_component_store,
        )

        store = str(tmp_path / "cstore")
        merge_component_batch(
            spark, self._pairs(spark, [(1, 2), (50, 51)]), store
        )
        # second batch touches only {1,2}; {50,51} must survive the
        # bucket rewrite byte-for-byte
        merge_component_batch(spark, self._pairs(spark, [(2, 5)]), store)
        got = {
            r.id: r.component
            for r in read_component_store(spark, store).collect()
        }
        assert got == {1: 1, 2: 1, 5: 1, 50: 50, 51: 50}

    def test_three_batches_chain_merge(self, spark, tmp_path):
        from etl_on_weather_dataset_spark.operators.component_store import (
            merge_component_batch,
            read_component_store,
        )

        store = str(tmp_path / "cstore")
        # chains that only connect across batches, forcing the merge
        # to relabel previously-separate stored components repeatedly
        merge_component_batch(
            spark, self._pairs(spark, [(10, 20), (30, 40)]), store
        )
        merge_component_batch(
            spark, self._pairs(spark, [(20, 30)]), store
        )
        merge_component_batch(
            spark, self._pairs(spark, [(40, 5)]), store
        )
        got = {
            r.id: r.component
            for r in read_component_store(spark, store).collect()
        }
        assert got == {5: 5, 10: 5, 20: 5, 30: 5, 40: 5}

    def test_summary_single_pass_matches_bruteforce(self, spark, tmp_path):
        """component_store_summary's one-pass rollup (round-13: one
        scan instead of global-agg x broadcast(per-component agg))
        must reproduce every checksum the two-scan form defined,
        verified against a python brute force over the store rows."""
        from etl_on_weather_dataset_spark.operators.component_store import (
            component_store_summary,
            merge_component_batch,
            read_component_store,
        )

        store = str(tmp_path / "cstore")
        merge_component_batch(
            spark,
            self._pairs(spark, [(1, 2), (2, 3), (10, 11), (20, 21)]),
            store,
        )
        rows = read_component_store(spark, store).collect()
        by_comp: dict[int, int] = {}
        for r in rows:
            by_comp[r.component] = by_comp.get(r.component, 0) + 1
        [s] = component_store_summary(spark, store).collect()
        assert s.n_nodes == len(rows)
        assert s.n_components == len(by_comp)
        assert s.max_component == max(by_comp.values())
        assert s.sum_ids == sum(r.id for r in rows)
        assert s.sum_labels == sum(r.component for r in rows)
        # schema is part of the driver's compare surface
        assert [f.dataType.simpleString()
                for f in component_store_summary(spark, store).schema
                ] == ["bigint"] * 5

    def test_merge_survives_empty_batch(self, spark, tmp_path):
        """An empty day-2 batch flows through the lazy-checkpoint
        merge (round-13: localCheckpoint(eager=False) materializes
        inside the affected-buckets collect, which runs on the empty
        path too) without touching the store."""
        from etl_on_weather_dataset_spark.operators.component_store import (
            merge_component_batch,
            read_component_store,
        )

        store = str(tmp_path / "cstore")
        merge_component_batch(spark, self._pairs(spark, [(1, 2)]), store)
        out = merge_component_batch(spark, self._pairs(spark, []), store)
        assert out.collect() == []
        got = {
            r.id: r.component
            for r in read_component_store(spark, store).collect()
        }
        assert got == {1: 1, 2: 1}


class TestPqTrainedBatchedLloyd:
    """pq_trained_codebooks' fused one-aggregate-per-round training
    (round-13: m_sub sequential Lloyd collects -> one (m, cluster,
    pos)-keyed aggregate per round) must reproduce the sequential
    per-subspace cluster._lloyd books float-for-float."""

    def test_batched_books_equal_sequential_lloyd(self, spark):
        from etl_on_weather_dataset_spark.operators.caching import (
            persisted,
            release_all,
        )
        from etl_on_weather_dataset_spark.operators.cluster import _lloyd
        from etl_on_weather_dataset_spark.operators.similarity import (
            _as_double,
            _centroid_argmax,
            _with_constant_row,
            lsh_hyperplanes,
            pq_trained_codebooks,
        )

        dim, m_sub, k_codes, iters, n_cells, seed = 64, 8, 4, 2, 16, 7
        d_sub = dim // m_sub
        rows = [(i, [((i * 31 + j * 17) % 97) / 97.0 - 0.5
                     for j in range(dim)]) for i in range(80)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        # sequential reference: the pre-round-13 shape, one Lloyd per
        # subspace over the same persisted cell residuals
        centroids = lsh_hyperplanes(dim, n_cells, seed)
        const_df = spark.createDataFrame(
            [(centroids, 0)], "cents array<array<double>>, __k long"
        )
        vecs = _with_constant_row(
            df.select(F.col("vec_id").alias("id"),
                      _as_double("embedding").alias("v")),
            const_df,
            "id",
        ).withColumn(
            "cell", _centroid_argmax(F.col("v"), F.col("cents"))
        )
        rv = persisted(
            vecs.select(
                "id",
                F.zip_with(
                    F.col("v"),
                    F.element_at(F.col("cents"), F.col("cell") + 1),
                    lambda x, y: x - y,
                ).alias("rv"),
            )
        )
        want = [
            _lloyd(
                rv.select(
                    "id",
                    F.slice(
                        F.col("rv"), m * d_sub + 1, d_sub
                    ).alias("v"),
                ),
                k_codes, iters, d_sub, seed + 101 * (m + 1),
            )
            for m in range(m_sub)
        ]
        got = pq_trained_codebooks(
            df, n_cells=n_cells, dim=dim, seed=seed, m_sub=m_sub,
            k_codes=k_codes, train_iters=iters,
        )
        release_all()
        assert got == want  # exact float equality, subspace by subspace


class TestMmrTopk:
    """operators.similarity.mmr_topk: the greedy selection on a
    constructed embedding set with a planted redundant cluster."""

    def _emb(self, spark, rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    def test_mmr_skips_the_redundant_twin(self, spark):
        from etl_on_weather_dataset_spark.operators.similarity import (
            mmr_topk,
        )

        # query q; a/b nearly identical high-relevance twins; c a bit
        # less relevant but orthogonal to a -- pure relevance ranks
        # (a, b); MMR must pick a then c (b is redundant with a)
        d = 8
        def v(*spec):
            out = [0.0] * d
            for i, x in spec:
                out[i] = x
            return out
        rows = [
            (0, v((0, 1.0))),                       # query
            (1, v((0, 0.95), (1, 0.30))),           # a
            (2, v((0, 0.94), (1, 0.32))),           # b ~ a
            (3, v((0, 0.80), (2, 0.60))),           # c, orthogonal-ish
        ]
        got = [
            (r.rank, r.neighbor_id)
            for r in mmr_topk(
                self._emb(spark, rows).filter("vec_id = 0"),
                self._emb(spark, rows),
                k=2, shortlist=3, lam_ppm=500_000,
            ).orderBy("rank").collect()
        ]
        assert got == [(1, 1), (2, 3)]

    def test_first_pick_is_pure_relevance_and_k_caps_at_shortlist(
        self, spark
    ):
        from etl_on_weather_dataset_spark.operators.similarity import (
            cosine_topk,
            mmr_topk,
        )

        emb = self._emb(spark, [
            (i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)])
            for i in range(12)
        ])
        q = emb.filter("vec_id < 2")
        top1 = {
            r.query_id: r.neighbor_id
            for r in cosine_topk(q, emb, k=1).collect()
        }
        out = mmr_topk(q, emb, k=6, shortlist=6).collect()
        first = {
            r.query_id: r.neighbor_id for r in out if r.rank == 1
        }
        assert first == top1
        # k == shortlist: every candidate picked exactly once
        per_q = {}
        for r in out:
            per_q.setdefault(r.query_id, []).append(r.neighbor_id)
        for ids in per_q.values():
            assert len(ids) == 6 and len(set(ids)) == 6

    def test_k_above_shortlist_fails_loud(self, spark):
        import pytest

        from etl_on_weather_dataset_spark.operators.similarity import (
            mmr_topk,
        )

        emb = self._emb(spark, [(0, [1.0] * 8)])
        with pytest.raises(ValueError, match="k <= shortlist"):
            mmr_topk(emb, emb, k=9, shortlist=8)


class TestIsotonicFit:
    """operators.evaluate.isotonic_fit: PAV semantics on constructed
    bins -- cascading merges, monotone output, equal-mean boundary."""

    def _fit(self, spark, rows, n_bins):
        from etl_on_weather_dataset_spark.operators.evaluate import (
            isotonic_fit,
        )

        df = spark.createDataFrame(
            rows, "bin long, n_rows long, n_pos long"
        )
        return [
            (r.bin_lo, r.bin_hi, r.n_rows, r.n_pos, r.iso_ppm)
            for r in isotonic_fit(df, n_bins).orderBy("pool").collect()
        ]

    def test_violating_prefix_merges_and_cascades(self, spark):
        # rates 0.5, 0.2, 0.4, 0.8: (0.5,0.2) pool to 0.35; 0.4 and
        # 0.8 stand -- and the output is monotone
        got = self._fit(
            spark, [(0, 10, 5), (1, 10, 2), (2, 10, 4), (3, 10, 8)], 4
        )
        assert got == [
            (0, 1, 20, 7, 350_000),
            (2, 2, 10, 4, 400_000),
            (3, 3, 10, 8, 800_000),
        ]
        rates = [g[4] for g in got]
        assert rates == sorted(rates)

    def test_strictly_decreasing_input_pools_to_one(self, spark):
        got = self._fit(
            spark, [(0, 5, 5), (1, 5, 3), (2, 5, 1), (3, 5, 0)], 4
        )
        assert got == [(0, 3, 20, 9, 450_000)]

    def test_equal_means_stay_separate_pools(self, spark):
        got = self._fit(spark, [(0, 10, 3), (1, 20, 6)], 2)
        assert got == [(0, 0, 10, 3, 300_000), (1, 1, 20, 6, 300_000)]

    def test_sparse_bins_keep_their_ids(self, spark):
        # absent bins are not zero-rate evidence: pools span the
        # PRESENT bin ids only
        got = self._fit(spark, [(2, 10, 6), (7, 10, 2)], 10)
        assert got == [(2, 7, 20, 8, 400_000)]


class TestCohensKappa:
    """operators.evaluate.cohens_kappa: hand-checked confusion
    matrices, the negative-kappa sign rule, and self-agreement."""

    def test_textbook_example(self, spark):
        from etl_on_weather_dataset_spark.operators.evaluate import (
            cohens_kappa,
        )

        # classic 2x2: raters agree on 20 yes + 15 no of 50;
        # marginals a: 25 yes / 25 no, b: 30 yes / 20 no
        rows = (
            [("y", "y")] * 20 + [("n", "n")] * 15
            + [("y", "n")] * 5 + [("n", "y")] * 10
        )
        df = spark.createDataFrame(rows, "a string, b string")
        [r] = cohens_kappa(df, "a", "b").collect()
        assert (r.n, r.n_agree) == (50, 35)
        # p_o = 0.7, p_e = (25*30 + 25*20)/2500 = 0.5 -> kappa = 0.4
        assert r.po_ppm == 700_000
        assert r.pe_ppm == 500_000
        assert r.kappa_ppm == 400_000

    def test_negative_kappa_sign_split(self, spark):
        from etl_on_weather_dataset_spark.operators.evaluate import (
            cohens_kappa,
        )

        # systematic DISagreement: below-chance -> kappa < 0, the
        # regime where the sign-split's explicit toward-zero
        # semantics matter (both engines' operators happen to
        # truncate, but the expression shouldn't lean on that)
        rows = [("y", "n")] * 3 + [("n", "y")] * 3 + [("y", "y")] * 1
        df = spark.createDataFrame(rows, "a string, b string")
        [r] = cohens_kappa(df, "a", "b").collect()
        # n=7, agree=1; marginals a: y=4, n=3; b: y=4, n=3
        # chance_num = 4*4 + 3*3 = 25
        # kappa = (7*1 - 25) / (49 - 25) = -18/24 = -0.75
        assert r.kappa_ppm == -750_000

    def test_null_votes_excluded(self, spark):
        from etl_on_weather_dataset_spark.operators.evaluate import (
            cohens_kappa,
        )

        df = spark.createDataFrame(
            [("y", "y"), ("y", None), (None, "n"), ("n", "n")],
            "a string, b string",
        )
        [r] = cohens_kappa(df, "a", "b").collect()
        assert r.n == 2 and r.n_agree == 2

    def test_degenerate_single_category_is_null(self, spark):
        from etl_on_weather_dataset_spark.operators.evaluate import (
            cohens_kappa,
        )

        # both raters always say "y": pe = 1, kappa undefined -> NULL
        df = spark.createDataFrame(
            [("y", "y")] * 4, "a string, b string"
        )
        [r] = cohens_kappa(df, "a", "b").collect()
        assert r.kappa_ppm is None and r.po_ppm == 1_000_000


class TestConformalThreshold:
    """operators.evaluate.conformal_threshold: the exact order
    statistic, the vacuous-guarantee path, and coverage accounting."""

    def test_rank_is_exact_order_statistic(self, spark):
        from etl_on_weather_dataset_spark.operators.evaluate import (
            conformal_threshold,
        )

        # force EVERYTHING into calibration via cal_frac_ppm=1e6,
        # then alpha such that k is interior... need eval rows too:
        # instead craft ids whose md5 split is known by running the
        # operator and checking internal consistency: k_rank =
        # ceil((n_cal+1) * 0.9) and q_hat = k-th smallest score.
        rows = [(i, i * 10) for i in range(1, 101)]
        df = spark.createDataFrame(rows, "id long, score long")
        [r] = conformal_threshold(
            df, "score", "id", alpha_ppm=100_000
        ).collect()
        assert r.n_cal + r.n_eval == 100
        k_expected = -(-(r.n_cal + 1) * 900_000 // 1_000_000)
        assert r.k_rank == k_expected
        assert r.target_ppm == 900_000

    def test_vacuous_alpha_yields_null_qhat_full_coverage(self, spark):
        from etl_on_weather_dataset_spark.operators.evaluate import (
            conformal_threshold,
        )

        # alpha so small that k > n_cal: q_hat = NULL (infinity),
        # coverage 1e6 by construction
        rows = [(i, i) for i in range(1, 21)]
        df = spark.createDataFrame(rows, "id long, score long")
        [r] = conformal_threshold(
            df, "score", "id", alpha_ppm=1
        ).collect()
        assert r.q_hat is None
        assert r.coverage_ppm == 1_000_000


class TestPmiBigrams:
    """operators.corpus.pmi_bigrams on a corpus with one true
    collocation."""

    def test_collocation_outscores_background(self, spark):
        from etl_on_weather_dataset_spark.operators.corpus import (
            pmi_bigrams,
        )

        # "san francisco the" is a fixed run (its two transitions tie
        # on PMI); "the w%d" transitions occur once each -> suppressed
        docs = [("san francisco " + "the w%d " % i) for i in range(8)]
        df = spark.createDataFrame(
            [(d.strip(),) for d in docs], "text string"
        )
        out = pmi_bigrams(df, min_count=2, top_k=5).collect()
        # exact PMI for both: ln(N * 8 / (8 * 8)), N = 24 transitions
        import math

        want = round(math.log(24 * 8 / (8 * 8)) * 1e6)
        assert [(r.a, r.b, r.pmi_micro) for r in out] == [
            # equal scores break ties lexicographically on (a, b)
            ("francisco", "the", want),
            ("san", "francisco", want),
        ]

    def test_min_count_suppresses_noise(self, spark):
        from etl_on_weather_dataset_spark.operators.corpus import (
            pmi_bigrams,
        )

        df = spark.createDataFrame(
            [("a b",), ("a b",), ("c d",)], "text string"
        )
        got = {(r.a, r.b) for r in
               pmi_bigrams(df, min_count=2, top_k=10).collect()}
        assert got == {("a", "b")}  # "c d" occurs once -> suppressed


class TestReadability:
    """operators.text.readability_by_group: hand-checked Flesch on a
    tiny controlled group."""

    def test_hand_checked_flesch(self, spark):
        from etl_on_weather_dataset_spark.operators.text import (
            readability_by_group,
        )

        # "go now." -> 2 words, 1 sentence run, 2 vowel groups
        # "we see a tree." -> 4 words, 1 sentence, 4 vowel groups
        df = spark.createDataFrame(
            [("g", "go now."), ("g", "we see a tree.")],
            "grp string, text string",
        )
        [r] = readability_by_group(df, "grp").collect()
        assert (r.n_docs, r.n_words, r.n_sentences) == (2, 6, 2)
        assert r.n_syllables == 6  # o, o(w? no: 'o' in now) ...
        # words/sentence = 3.0, syllables/word = 1.0
        assert r.words_per_sentence_milli == 3000
        assert r.syllables_per_word_milli == 1000
        # 206835 - 1015*3 - 84600*1/1 = 206835 - 3045 - 84600
        assert r.flesch_milli == 206835 - 3045 - 84600

    def test_unpunctuated_doc_counts_one_sentence(self, spark):
        from etl_on_weather_dataset_spark.operators.text import (
            readability_by_group,
        )

        df = spark.createDataFrame(
            [("g", "no punctuation here at all")],
            "grp string, text string",
        )
        [r] = readability_by_group(df, "grp").collect()
        assert r.n_sentences == 1


class TestTimeDecayAttribution:
    """operators.funnel.time_decay_attribution: hand-checked integer
    credit split and the direct bucket."""

    def test_hand_checked_split(self, spark):
        from datetime import datetime as dt

        from etl_on_weather_dataset_spark.operators.funnel import (
            time_decay_attribution,
        )

        # user 1: view 2 days before, click 1 day before a 10.00
        # conversion. weights: view 2^(6-2)=16, click 2^(6-1)=32
        # -> click 666666 ppm, view 333333 ppm
        rows = [
            (1, dt(2024, 1, 8, 12, 0, 0), "purchase", 10.0),
            (1, dt(2024, 1, 7, 11, 0, 0), "click", 0.0),
            (1, dt(2024, 1, 6, 11, 0, 0), "view", 0.0),
            # user 2: conversion with no touch -> direct
            (2, dt(2024, 1, 8, 12, 0, 0), "purchase", 5.0),
        ]
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_type string,"
            " value double",
        )
        got = {
            r.channel: (r.n_touched, r.share_ppm_sum, r.value_micro)
            for r in time_decay_attribution(df).collect()
        }
        assert got["click"] == (1, 666_666, 1000 * 666_666)
        assert got["view"] == (1, 333_333, 1000 * 333_333)
        assert got["direct"] == (1, 1_000_000, 500 * 1_000_000)

    def test_touch_on_window_edge_excluded(self, spark):
        from datetime import datetime as dt

        from etl_on_weather_dataset_spark.operators.funnel import (
            time_decay_attribution,
        )

        # touch exactly lookback_days before (age == 7 days) is OUT;
        # touch at the conversion microsecond is OUT (strictly before)
        rows = [
            (1, dt(2024, 1, 8, 12, 0, 0), "purchase", 1.0),
            (1, dt(2024, 1, 1, 12, 0, 0), "view", 0.0),
            (1, dt(2024, 1, 8, 12, 0, 0), "click", 0.0),
        ]
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_type string,"
            " value double",
        )
        got = {r.channel for r in time_decay_attribution(df).collect()}
        assert got == {"direct"}


class TestBordaFuse:
    """operators.retrieval.borda_fuse: competition-rank points and
    tie handling."""

    def test_hand_checked_points(self, spark):
        from etl_on_weather_dataset_spark.operators.retrieval import (
            borda_fuse,
        )

        # N=3. s1: a=30 > b=20 > c=10; s2: b=9 > a=5 > c=1
        df = spark.createDataFrame(
            [("a", 30, 5), ("b", 20, 9), ("c", 10, 1)],
            "id string, s1 long, s2 long",
        )
        got = {
            r.id: (r.borda, r.rk_s1, r.rk_s2)
            for r in borda_fuse(
                df, "id", {"s1": "desc", "s2": "desc"}, k=3
            ).collect()
        }
        # a: (3-1) + (3-2) = 3; b: (3-2) + (3-1) = 3; c: 0
        assert got["a"] == (3, 1, 2)
        assert got["b"] == (3, 2, 1)
        assert got["c"] == (0, 3, 3)

    def test_ties_share_competition_rank(self, spark):
        from etl_on_weather_dataset_spark.operators.retrieval import (
            borda_fuse,
        )

        df = spark.createDataFrame(
            [("a", 5), ("b", 5), ("c", 1)], "id string, s long"
        )
        got = {
            r.id: r.rk_s
            for r in borda_fuse(df, "id", {"s": "desc"}, k=3).collect()
        }
        assert got == {"a": 1, "b": 1, "c": 3}

    def test_asc_direction(self, spark):
        from etl_on_weather_dataset_spark.operators.retrieval import (
            borda_fuse,
        )

        df = spark.createDataFrame(
            [("a", 5), ("b", 1)], "id string, s long"
        )
        got = {
            r.id: r.rk_s
            for r in borda_fuse(df, "id", {"s": "asc"}, k=2).collect()
        }
        assert got == {"b": 1, "a": 2}


class TestNgramNovelty:
    """operators.corpus.ngram_novelty_by_source on a constructed
    two-source corpus with known overlap."""

    def test_hand_checked_novelty(self, spark):
        from etl_on_weather_dataset_spark.operators.corpus import (
            ngram_novelty_by_source,
        )

        rows = [
            ("s1", "a b c d"),      # trigrams: "a b c", "b c d"
            ("s2", "a b c x"),      # trigrams: "a b c", "b c x"
            ("s2", "p q r"),        # trigram:  "p q r"
        ]
        df = spark.createDataFrame(rows, "source string, text string")
        got = {
            r.source: (r.n_ngrams, r.n_exclusive, r.novelty_ppm)
            for r in ngram_novelty_by_source(df, n=3).collect()
        }
        assert got["s1"] == (2, 1, 500_000)   # "b c d" exclusive
        assert got["s2"] == (3, 2, 666_666)   # "b c x", "p q r"

    def test_short_doc_falls_back_to_whole_text(self, spark):
        from etl_on_weather_dataset_spark.operators.corpus import (
            ngram_novelty_by_source,
        )

        df = spark.createDataFrame(
            [("s1", "hi"), ("s2", "hi")], "source string, text string"
        )
        got = {
            r.source: r.novelty_ppm
            for r in ngram_novelty_by_source(df, n=3).collect()
        }
        assert got == {"s1": 0, "s2": 0}  # shared whole-text gram


class TestClusterPairwiseEval:
    """operators.dedup.cluster_pairwise_eval: hand-checked P/R on a
    constructed chain and the trivial all-covered case."""

    def test_chaining_inflation_and_strict_link_recall(self, spark):
        from etl_on_weather_dataset_spark.operators.dedup import (
            cluster_pairwise_eval,
        )

        # Chain a-b-c with 1-gram shingles:
        #   a = {w1..w8, x}, b = {w1..w8, y}: J(a,b) = 8/10 = 0.8
        #   c = {w1..w6, y, p, q}: J(b,c) = 7/11 ~ 0.636
        #   J(a,c) = 6/12 = 0.5
        mk = lambda ws: " ".join(ws)
        w = [f"w{i}" for i in range(1, 9)]
        rows = [
            (1, mk(w + ["x"])),
            (2, mk(w + ["y"])),
            (3, mk(w[:6] + ["y", "p", "q"])),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        # gold >= 0.5: all three pairs. link >= 0.6: (a,b) and (b,c)
        # -> one cluster {a,b,c} -> pred = all three pairs
        [r] = cluster_pairwise_eval(
            df, n=1, link_threshold=0.6, gold_threshold=0.5
        ).collect()
        assert (r.n_gold_pairs, r.n_pred_pairs, r.n_common) == (3, 3, 3)
        # gold >= 0.4 (same 3 pairs), link >= 0.75: only (a,b) links
        # -> cluster {a,b} -> pred = 1 pair -> recall 1/3
        [r2] = cluster_pairwise_eval(
            df, n=1, link_threshold=0.75, gold_threshold=0.4
        ).collect()
        assert (r2.n_gold_pairs, r2.n_pred_pairs, r2.n_common) == (3, 1, 1)
        assert r2.precision_ppm == 1_000_000
        assert r2.recall_ppm == 333_333
        assert r2.f1_ppm == 2 * 1_000_000 // 4

    def test_chaining_adds_unsupported_pair(self, spark):
        from etl_on_weather_dataset_spark.operators.dedup import (
            cluster_pairwise_eval,
        )

        # same chain, gold >= 0.55 (pairs ab, bc), link >= 0.6
        # (edges ab, bc) -> cluster {a,b,c} predicts ac too:
        # precision 2/3, recall 1
        mk = lambda ws: " ".join(ws)
        w = [f"w{i}" for i in range(1, 9)]
        rows = [
            (1, mk(w + ["x"])),
            (2, mk(w + ["y"])),
            (3, mk(w[:6] + ["y", "p", "q"])),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        [r] = cluster_pairwise_eval(
            df, n=1, link_threshold=0.6, gold_threshold=0.55
        ).collect()
        assert (r.n_gold_pairs, r.n_pred_pairs, r.n_common) == (2, 3, 2)
        assert r.precision_ppm == 666_666
        assert r.recall_ppm == 1_000_000


class TestBrierDecomposition:
    """operators.evaluate.brier_decomposition: hand-checked REL/RES/
    UNC on a two-bin construction."""

    def test_hand_checked_two_bins(self, spark):
        from etl_on_weather_dataset_spark.operators.evaluate import (
            brier_decomposition,
        )

        # scores in [0, 100), 2 bins of width 50.
        # bin 0: 4 rows at score 10, 1 positive -> o=250000,
        #        f = (10 - 0) * 1e6 div 100 = 100000
        # bin 1: 4 rows at score 90, 3 positives -> o=750000, f=900000
        rows = (
            [(i, 10, 1 if i == 0 else 0) for i in range(4)]
            + [(i + 4, 90, 1 if i else 0) for i in range(4)]
        )
        df = spark.createDataFrame(rows, "id long, score long, y long")
        [r] = brier_decomposition(df, 0, 100, n_bins=2).collect()
        assert (r.n, r.n_pos, r.base_ppm) == (8, 4, 500_000)
        # REL = (4*(100000-250000)^2 + 4*(900000-750000)^2) / 8
        assert r.rel_ppm2 == (4 * 150_000**2 + 4 * 150_000**2) // 8
        # RES = (4*(250000-500000)^2 + 4*(750000-500000)^2) / 8
        assert r.res_ppm2 == (4 * 250_000**2 + 4 * 250_000**2) // 8
        assert r.unc_ppm2 == 500_000 * 500_000

    def test_perfectly_calibrated_has_zero_rel(self, spark):
        from etl_on_weather_dataset_spark.operators.evaluate import (
            brier_decomposition,
        )

        # one bin whose mean score in ppm equals its positive rate:
        # scores 250 of 1000 -> f = 250000; 1 of 4 positive -> o=250000
        rows = [(i, 250, 1 if i == 0 else 0) for i in range(4)]
        df = spark.createDataFrame(rows, "id long, score long, y long")
        [r] = brier_decomposition(df, 0, 1000, n_bins=1).collect()
        assert r.rel_ppm2 == 0


class TestDecileLift:
    """operators.evaluate.decile_lift: exact cumulative lift and the
    deterministic tiling."""

    def test_top_tile_lift(self, spark):
        from etl_on_weather_dataset_spark.operators.evaluate import (
            decile_lift,
        )

        # 20 rows, scores 20..1; positives are exactly the top 5
        rows = [(i, 20 - i, 1 if i < 5 else 0) for i in range(20)]
        df = spark.createDataFrame(rows, "id long, score long, y long")
        out = {r.tile: r for r in decile_lift(df, n_tiles=4).collect()}
        # tile 1 = top 5 rows = all 5 positives:
        # lift = (5 * 20 * 1e6) div (5 * 5) = 4e6
        assert out[1].cum_lift_ppm == 4_000_000
        assert out[4].cum_lift_ppm == 1_000_000  # full population
        assert out[4].cum_pos == 5 and out[4].cum_n == 20

    def test_ties_break_by_id(self, spark):
        from etl_on_weather_dataset_spark.operators.evaluate import (
            decile_lift,
        )

        # all scores equal: order is by id; positives at low ids land
        # in tile 1 deterministically
        rows = [(i, 7, 1 if i < 2 else 0) for i in range(4)]
        df = spark.createDataFrame(rows, "id long, score long, y long")
        out = {r.tile: r for r in decile_lift(df, n_tiles=2).collect()}
        assert out[1].n_pos == 2 and out[2].n_pos == 0


class TestUnigramEntropy:
    """operators.corpus.unigram_entropy_by_source hand checks."""

    def test_uniform_two_tokens(self, spark):
        import math

        from etl_on_weather_dataset_spark.operators.corpus import (
            unigram_entropy_by_source,
        )

        df = spark.createDataFrame(
            [("s", "a b a b")], "source string, text string"
        )
        [r] = unigram_entropy_by_source(df).collect()
        assert (r.n_tokens, r.n_distinct) == (4, 2)
        # H = ln 2; per-term lp_micro = round(ln(0.5)*1e6) = -693147
        want = -(2 * -693147 + 2 * -693147) // 4
        assert r.entropy_micro == want
        assert abs(r.entropy_micro - round(math.log(2) * 1e6)) <= 1

    def test_degenerate_single_token_is_zero(self, spark):
        from etl_on_weather_dataset_spark.operators.corpus import (
            unigram_entropy_by_source,
        )

        df = spark.createDataFrame(
            [("s", "a a a")], "source string, text string"
        )
        [r] = unigram_entropy_by_source(df).collect()
        assert r.entropy_micro == 0


class TestCooccurrenceTopk:
    """operators.joins.cooccurrence_topk: pair counts, dedup within
    group, the whale guard."""

    def test_hand_checked_counts(self, spark):
        from etl_on_weather_dataset_spark.operators.joins import (
            cooccurrence_topk,
        )

        rows = [
            (1, "a"), (1, "b"), (1, "c"),
            (2, "a"), (2, "b"),
            (3, "a"), (3, "b"), (3, "b"),  # duplicate item collapses
        ]
        df = spark.createDataFrame(rows, "g long, i string")
        got = {
            (r.item_a, r.item_b): r.n_groups
            for r in cooccurrence_topk(df, "g", "i", k=10).collect()
        }
        assert got == {("a", "b"): 3, ("a", "c"): 1, ("b", "c"): 1}

    def test_whale_guard_fails_loud(self, spark):
        import pytest

        from etl_on_weather_dataset_spark.operators.joins import (
            cooccurrence_topk,
        )

        rows = [(1, f"i{j}") for j in range(10)] + [(2, "x")]
        df = spark.createDataFrame(rows, "g long, i string")
        # AQE can materialize both join sides concurrently and wrap
        # the USER_RAISED_EXCEPTION in a multi-failure SparkException,
        # so match on the message, not the exception class
        with pytest.raises(Exception, match="more than 5 distinct"):
            cooccurrence_topk(
                df, "g", "i", k=5, max_group_items=5
            ).collect()


class TestJsDivergence:
    """operators.corpus.js_divergence_matrix: identical sources give
    0, disjoint sources give ln 2, symmetry by construction."""

    def test_identical_and_disjoint(self, spark):
        import math

        from etl_on_weather_dataset_spark.operators.corpus import (
            js_divergence_matrix,
        )

        rows = [
            ("p", "a b c"), ("q", "a b c"),   # identical -> 0
            ("r", "x y z"),                   # disjoint from both
        ]
        df = spark.createDataFrame(rows, "source string, text string")
        got = {
            (r.source_a, r.source_b): (r.n_shared_tokens, r.js_micro)
            for r in js_divergence_matrix(df).collect()
        }
        assert got[("p", "q")] == (3, 0)
        ln2 = round(math.log(2) * 1e6)
        assert got[("p", "r")] == (0, ln2)
        assert got[("q", "r")] == (0, ln2)

    def test_bounded_by_ln2_on_corpus(self, spark):
        import math

        from etl_on_weather_dataset_spark.operators.corpus import (
            js_divergence_matrix,
        )
        from etl_on_weather_dataset_spark.schemas import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        out = js_divergence_matrix(docs).collect()
        assert len(out) == 190  # C(20, 2) source pairs
        bound = round(math.log(2) * 1e6) + 2  # rounding slack
        assert all(0 <= r.js_micro <= bound for r in out)


class TestTrendSlope:
    """operators.timeseries.trend_slope_by_key hand checks."""

    def test_exact_positive_slope(self, spark):
        from datetime import datetime as dt

        from etl_on_weather_dataset_spark.operators.timeseries import (
            trend_slope_by_key,
        )

        # key 'u': daily totals 100, 200, 300 -> slope exactly
        # 100 cents/day = 100000 milli
        rows = [
            ("u", dt(2024, 1, d, 9, 0, 0), 100 * d) for d in (1, 2, 3)
        ]
        df = spark.createDataFrame(
            rows, "k string, ts timestamp, cents long"
        )
        [r] = trend_slope_by_key(df, "k").collect()
        assert r.n_days == 3
        assert r.slope_milli_cents_per_day == 100_000

    def test_negative_slope_sign_split(self, spark):
        from datetime import datetime as dt

        from etl_on_weather_dataset_spark.operators.timeseries import (
            trend_slope_by_key,
        )

        rows = [
            ("u", dt(2024, 1, 1, 9), 300),
            ("u", dt(2024, 1, 2, 9), 100),
        ]
        df = spark.createDataFrame(
            rows, "k string, ts timestamp, cents long"
        )
        [r] = trend_slope_by_key(df, "k").collect()
        assert r.slope_milli_cents_per_day == -200_000

    def test_single_day_is_null_not_flat(self, spark):
        from datetime import datetime as dt

        from etl_on_weather_dataset_spark.operators.timeseries import (
            trend_slope_by_key,
        )

        rows = [("u", dt(2024, 1, 1, 9), 100),
                ("u", dt(2024, 1, 1, 15), 200)]
        df = spark.createDataFrame(
            rows, "k string, ts timestamp, cents long"
        )
        [r] = trend_slope_by_key(df, "k").collect()
        assert r.n_days == 1
        assert r.slope_milli_cents_per_day is None


class TestReviewRegressionsR10:
    """Regression pins for the round-10 review findings: the oracle
    twins must accept exactly what the engine accepts and vice versa
    on the corner the original code got wrong."""

    def test_neyman_sql_guard_bound_is_2_52(self, spark):
        """var_num between 2^51 and 2^52 passes BOTH engines (the SQL
        twin originally embedded 2^51 and failed at half the bound)."""
        import duckdb
        import math

        from etl_on_weather_dataset_spark.operators.sample import (
            neyman_weights,
            neyman_weights_sql,
        )

        x = 60_000_000  # x^2 = 3.6e15, between 2^51 and 2^52
        assert 2**51 < x * x < 2**52
        df = spark.createDataFrame(
            [("a", 0), ("a", x)], "s string, x long"
        )
        [got] = neyman_weights(df, "s", "x").collect()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW t AS SELECT 'a' AS s, x FROM (VALUES "
            f"(CAST(0 AS BIGINT)), (CAST({x} AS BIGINT))) v(x)"
        )
        [want] = con.execute(
            neyman_weights_sql("SELECT * FROM t", "s", "x")
        ).fetchall()
        assert (got.stratum, got.n_avail, got.weight) == want
        assert got.weight == math.isqrt(x * x)

    def test_autotuned_oracle_cells_formula_is_ceil(self):
        """The oracle's in-SQL scaled-cell formula must equal
        scaled_n_cells for sizes where floor != ceil (the original
        -((-n)//t) spelling floored under DuckDB's truncating //)."""
        import duckdb

        from etl_on_weather_dataset_spark.operators.similarity import (
            scaled_n_cells,
        )
        from etl_on_weather_dataset_spark.plans.queries_pipeline import (
            _AT_TARGET_CELL_ROWS,
        )

        con = duckdb.connect()
        for n in (1, 255, 256, 257, 2048, 2049, 20000, 300_000):
            [(got,)] = con.execute(
                f"SELECT GREATEST(8, LEAST(1048576,"
                f" (COUNT(*) + {_AT_TARGET_CELL_ROWS} - 1)"
                f" // {_AT_TARGET_CELL_ROWS}))"
                f" FROM range({n})"
            ).fetchall()
            assert got == scaled_n_cells(n, _AT_TARGET_CELL_ROWS), n

    def test_conformal_all_calibration_one_row_both_engines(
        self, spark
    ):
        """cal_frac = 1e6 puts EVERY id in calibration: the engine
        must still emit one row (n_eval = 0, coverage 1e6) and the
        SQL twin the identical row (the original GROUP BY over the
        empty eval relation emitted zero rows)."""
        import duckdb

        from etl_on_weather_dataset_spark.operators.evaluate import (
            conformal_threshold,
            conformal_threshold_sql,
        )

        rows = [(i, i * 3) for i in range(1, 13)]
        df = spark.createDataFrame(rows, "id long, score long")
        got = conformal_threshold(
            df, "score", "id", cal_frac_ppm=1_000_000
        ).collect()
        assert len(got) == 1
        assert got[0].n_eval == 0
        assert got[0].n_cal == 12
        assert got[0].coverage_ppm == 1_000_000
        con = duckdb.connect()
        vals = ", ".join(f"({i}, {s})" for i, s in rows)
        con.execute(
            f"CREATE VIEW t AS SELECT * FROM (VALUES {vals})"
            " v(id, score)"
        )
        want = con.execute(
            conformal_threshold_sql(
                "SELECT * FROM t", "score", "id",
                cal_frac_ppm=1_000_000,
            )
        ).fetchall()
        assert [tuple(got[0])] == want

    def test_borda_null_signal_fails_loud(self, spark):
        import pytest

        from etl_on_weather_dataset_spark.operators.retrieval import (
            borda_fuse,
        )

        df = spark.createDataFrame(
            [("a", 1), ("b", None)], "id string, s long"
        )
        with pytest.raises(Exception, match="NULL signal"):
            borda_fuse(df, "id", {"s": "desc"}, k=2).collect()


class TestPackingWasteAudit:
    """Round-11 packing waste audit: cut vs quantized shelf vs BFD."""

    def _audit(self, spark, rows, capacity=10, n_shards=1, w=2):
        from etl_on_weather_dataset_spark.operators.corpus import (
            packing_waste_audit,
        )

        chunks = spark.createDataFrame(
            rows, "doc_id long, chunk_id long, n_tokens long"
        )
        return packing_waste_audit(
            chunks, capacity=capacity, n_shards=n_shards,
            bucket_width=w,
        ).collect()[0]

    def test_hand_checked_instance(self, spark):
        # One shard (n_shards=1): sizes 6,5,4,4,1 with capacity 10.
        # cut: ceil(20/10) = 2 bins, 0 padded.
        # BFD (desc: 6,5,4,4,1): [6+4], [5+4+1] -> 2 bins, 0 padded.
        # shelf (w=2): buckets 6,6,4,4,2 -> b=6 fits 1/bin -> 2 bins;
        #   b=4 fits 2/bin -> 1 bin; b=2 fits 5/bin -> 1 bin;
        #   4 bins, 40 slots - 20 tokens = 20 padded.
        rows = [(1, 1, 6), (1, 2, 5), (1, 3, 4), (1, 4, 4), (1, 5, 1)]
        got = self._audit(spark, rows)
        assert got.n_chunks == 5 and got.total_tokens == 20
        assert got.cut_bins == 2 and got.cut_padded_slots == 0
        assert got.shelf_bins == 4 and got.shelf_padded_slots == 20
        assert got.bfd_valid == 1
        assert got.bfd_ge_cut_bins == 1
        assert got.bfd_le_shelf_measured == 1
        assert got.bfd_half_full_bound == 1
        assert got.bfd_accounting_ok == 1

    def test_near_capacity_bucket_clamps(self, spark):
        # size 9 with w=2 would quantize to 10 = capacity (clamped):
        # one chunk per bin, no zero-division.
        rows = [(1, 1, 9), (1, 2, 9)]
        got = self._audit(spark, rows)
        assert got.shelf_bins == 2
        assert got.cut_bins == 2  # ceil(18/10)

    def test_oversize_chunk_fails_loud(self, spark):
        import pytest

        with pytest.raises(Exception, match="no-split packing"):
            self._audit(spark, [(1, 1, 11)])

    def test_bfd_beats_shelf_on_mixed_sizes(self, spark):
        # 100 deterministic mixed sizes over 4 shards: the flags that
        # are theorems hold, and the pinned measured flag holds too.
        rows = [
            (i, 1, 1 + (i * 37) % 10) for i in range(100)
        ]
        got = self._audit(spark, rows, capacity=10, n_shards=4, w=3)
        assert got.bfd_valid == 1
        assert got.bfd_ge_cut_bins == 1
        assert got.bfd_le_shelf_measured == 1
        assert got.bfd_half_full_bound == 1
        assert got.bfd_accounting_ok == 1


class TestCharClassMix:
    """operators.text.char_class_mix: exact class counts on planted
    strings (the length-subtraction idiom)."""

    def test_planted_classes_and_mixed_rate(self, spark):
        from etl_on_weather_dataset_spark.operators.text import (
            char_class_mix,
        )

        df = spark.createDataFrame(
            [
                (1, "s1", "abc 123!"),   # 3 letters, 3 digits, 1 ws, 1 other -> 4 classes
                (2, "s1", "abcd"),       # letters only -> 1 class
                (3, "s2", None),         # filtered
                (4, "s2", "a b"),        # 2 letters, 1 ws -> 2 classes
            ],
            "doc_id long, source string, text string",
        )
        got = {r.source: r for r in char_class_mix(df).collect()}
        s1 = got["s1"]
        assert (s1.n_docs, s1.total_chars) == (2, 12)
        assert (s1.letter_chars, s1.digit_chars) == (7, 3)
        assert (s1.ws_chars, s1.other_chars) == (1, 1)
        assert s1.n_mixed_docs == 1  # only "abc 123!" has >= 3 classes
        assert s1.letter_ppm == 7 * 10**6 // 12
        assert s1.mixed_doc_ppm == 500_000
        s2 = got["s2"]
        assert (s2.n_docs, s2.total_chars, s2.n_mixed_docs) == (1, 3, 0)

    def test_tab_and_newline_count_as_whitespace(self, spark):
        from etl_on_weather_dataset_spark.operators.text import (
            char_class_mix,
        )

        df = spark.createDataFrame(
            [(1, "s", "a\tb\nc\rd e")],
            "doc_id long, source string, text string",
        )
        [r] = char_class_mix(df).collect()
        assert r.ws_chars == 4 and r.letter_chars == 5
        assert r.other_chars == 0


class TestWeekdaySeasonality:
    def test_planted_week_profile(self, spark):
        """2025-01-05 is a Sunday (Spark dow=1); two Sunday events +
        one Monday event -> Sunday carries 2/3 of type's traffic,
        index = 2 * 7e6 // 3."""
        from etl_on_weather_dataset_spark.operators.timeseries import (
            weekday_seasonality,
        )

        df = spark.createDataFrame(
            [
                (1, "2025-01-05 01:00:00", "view", 1.5),
                (2, "2025-01-05 02:00:00", "view", 2.25),
                (3, "2025-01-06 03:00:00", "view", -0.5),
                (4, "2025-01-06 03:00:00", "click", 10.0),
            ],
            "event_id long, ts string, event_type string, value double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        got = {
            (r.event_type, r.dow): r
            for r in weekday_seasonality(df).collect()
        }
        sun = got[("view", 1)]
        assert sun.n_events == 2
        assert sun.sum_value_micros == 3_750_000
        assert sun.n_type_events == 3
        assert sun.seasonality_idx_ppm == 2 * 7_000_000 // 3
        mon = got[("view", 2)]
        assert mon.sum_value_micros == -500_000
        assert mon.seasonality_idx_ppm == 7_000_000 // 3
        assert got[("click", 2)].seasonality_idx_ppm == 7_000_000


class TestEmbeddingDimDrift:
    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    def test_planted_cohort_split_and_quantization(self, spark):
        from etl_on_weather_dataset_spark.operators.similarity import (
            _Q_SCALE,
            embedding_dim_drift,
        )

        # cohort a = even ids; dim1 identical across cohorts (zero
        # drift), dim2 differs by 0.5 (drift 500000 ppm)
        df = self._df(spark, [
            (0, [1.0, 0.5]),
            (2, [1.0, 0.5]),
            (1, [1.0, 0.0]),
        ])
        got = {r.dim: r for r in embedding_dim_drift(df).collect()}
        d1, d2 = got[1], got[2]
        assert (d1.n_a, d1.n_b) == (2, 1)
        assert d1.sum_q_a == 2 * _Q_SCALE and d1.sum_q_b == _Q_SCALE
        assert d1.mean_a_ppm == d1.mean_b_ppm == 1_000_000
        assert d1.drift_abs_ppm == 0
        assert d2.mean_a_ppm == 500_000 and d2.mean_b_ppm == 0
        assert d2.drift_abs_ppm == 500_000
        assert d2.ssq_q_a == 2 * (_Q_SCALE // 2) ** 2

    def test_negative_means_sign_split(self, spark):
        from etl_on_weather_dataset_spark.operators.similarity import (
            embedding_dim_drift,
        )

        df = self._df(spark, [(0, [-0.5]), (1, [-0.5])])
        [r] = embedding_dim_drift(df).collect()
        assert r.mean_a_ppm == r.mean_b_ppm == -500_000
        assert r.drift_abs_ppm == 0

    def test_overflow_guard_refuses_loudly(self, spark):
        """Out-of-range components must fail LOUDLY, never emit a
        wrapped moment: under this session's ANSI default the q*q
        aggregate itself raises ARITHMETIC_OVERFLOW; on a non-ANSI
        cluster (where Spark wraps silently) the (n, max|q|) guard
        raises instead -- either way the scan refuses."""
        from etl_on_weather_dataset_spark.operators.similarity import (
            embedding_dim_drift,
        )

        # q = 2^31 per row: row-grain q*q = 2^62 fits, the two-row
        # ssq sum is 2^63 (ANSI raises) and n=2 exceeds the guard
        # threshold (2^62 div max div max = 1) for the non-ANSI path
        df = self._df(spark, [(0, [2048.0]), (1, [2048.0])])
        with pytest.raises(
            Exception,
            match="embedding_dim_drift|ARITHMETIC_OVERFLOW",
        ):
            embedding_dim_drift(df).collect()


class TestSkipgramCooccurrence:
    """operators.corpus.skipgram_cooccurrence: planted windowed
    pairs, unordered normalization, exact GloVe micro-weights."""

    def _run(self, spark, texts, **kw):
        from etl_on_weather_dataset_spark.operators.corpus import (
            skipgram_cooccurrence,
        )

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string",
        )
        return skipgram_cooccurrence(df, **kw).collect()

    def test_planted_window_and_weights(self, spark):
        # "a b c a", window=2: pairs (a,b,d1) (a,c,d2) (b,c,d1)
        # (b,a,d2)->(a,b) (c,a,d1)->(a,c)
        rows = self._run(
            spark, ["a b c a"], window=2, min_count=1, top_k=10
        )
        got = {(r.a, r.b): r for r in rows}
        assert got[("a", "b")].n_cooc == 2
        assert got[("a", "b")].glove_w_micro == 1_000_000 + 500_000
        assert got[("a", "c")].n_cooc == 2
        assert got[("a", "c")].glove_w_micro == 1_500_000
        assert got[("b", "c")].n_cooc == 1
        assert got[("b", "c")].glove_w_micro == 1_000_000

    def test_topk_total_order_and_min_count(self, spark):
        rows = self._run(
            spark, ["a b c a"], window=2, min_count=2, top_k=1
        )
        # both count-2 pairs survive min_count; tiebreak (a,b)<(a,c)
        assert [(r.a, r.b) for r in rows] == [("a", "b")]

    def test_window_one_is_adjacent_bigrams(self, spark):
        rows = self._run(
            spark, ["x y z"], window=1, min_count=1, top_k=10
        )
        assert sorted((r.a, r.b) for r in rows) == [
            ("x", "y"), ("y", "z")
        ]

    def test_short_and_empty_docs_contribute_nothing(self, spark):
        rows = self._run(
            spark, ["solo", "", "p q"], window=3, min_count=1,
            top_k=10,
        )
        assert [(r.a, r.b, r.n_cooc) for r in rows] == [
            ("p", "q", 1)
        ]


class TestBenfordDigitAudit:
    def _run(self, spark, vals, **kw):
        from etl_on_weather_dataset_spark.operators.profile import (
            benford_digit_audit,
        )

        df = spark.createDataFrame(
            [(v,) for v in vals], "x double"
        )
        return benford_digit_audit(df, "x", **kw).collect()

    def test_planted_digits_all_nine_rows(self, spark):
        # cents: 100, 123, 1999, 250, 99949 -> digits 1,1,1,2,9
        rows = self._run(
            spark, [1.00, 1.23, 19.99, 2.50, 999.49, None, -5.0, 0.0]
        )
        assert [r.digit for r in rows] == list(range(1, 10))
        got = {r.digit: r for r in rows}
        assert got[1].n_values == 3
        assert got[1].observed_ppm == 3 * 10**6 // 5
        assert got[1].delta_ppm == 3 * 10**6 // 5 - 301030
        assert got[2].n_values == 1 and got[9].n_values == 1
        assert got[3].n_values == 0 and got[3].observed_ppm == 0
        assert got[3].delta_ppm == -124939

    def test_subunit_values_excluded(self, spark):
        # 0.004 -> floor(0.9) = 0 units: excluded, not digit-0
        rows = self._run(spark, [0.004, 5.00])
        got = {r.digit: r for r in rows}
        assert got[5].n_values == 1
        assert got[5].observed_ppm == 10**6
        assert sum(r.n_values for r in rows) == 1

    def test_expected_ppm_pins_sum_to_million(self, spark):
        from etl_on_weather_dataset_spark.operators.profile import (
            BENFORD_PPM,
        )
        import math

        assert sum(BENFORD_PPM.values()) == 10**6
        for d, p in BENFORD_PPM.items():
            assert p == round(math.log10(1 + 1 / d) * 10**6)


class TestRfmSegments:
    def _orders(self, spark, rows):
        return spark.createDataFrame(
            rows,
            "o_orderkey long, o_custkey long, o_orderdate string,"
            " o_totalprice double",
        ).withColumn(
            "o_orderdate", F.col("o_orderdate").cast("timestamp")
        )

    def test_planted_quintiles_diagonal(self, spark):
        """5 customers engineered so customer k is the k-th best on
        all three axes -> every occupied cell sits on the
        (k, k, k) diagonal with one customer."""
        from etl_on_weather_dataset_spark.operators.funnel import (
            rfm_segments,
        )

        rows, key = [], 0
        for k in range(1, 6):  # customer k: recency k-1 days,
            # 6-k orders of (6-k)*10 dollars each
            for i in range(6 - k):
                key += 1
                rows.append(
                    (key, k, f"2025-03-{10 - (k - 1):02d} 00:00:00",
                     (6 - k) * 10.0)
                )
        got = sorted(
            (r.r_tile, r.f_tile, r.m_tile, r.n_customers,
             r.total_units, r.mean_units)
            for r in rfm_segments(self._orders(spark, rows)).collect()
        )
        assert got == [
            (k, k, k, 1, (6 - k) * (6 - k) * 1000,
             (6 - k) * (6 - k) * 1000)
            for k in range(1, 6)
        ]

    def test_tie_break_by_customer_key(self, spark):
        """Two identical customers split deterministically: the
        smaller custkey takes tile 1 on every axis."""
        from etl_on_weather_dataset_spark.operators.funnel import (
            rfm_segments,
        )

        rows = [
            (1, 7, "2025-01-01 00:00:00", 50.0),
            (2, 3, "2025-01-01 00:00:00", 50.0),
        ]
        got = sorted(
            (r.r_tile, r.f_tile, r.m_tile, r.n_customers)
            for r in rfm_segments(
                self._orders(spark, rows), n_tiles=2
            ).collect()
        )
        # cust 3 sorts before cust 7 on every tie -> (1,1,1); cust 7
        # lands (2,2,2)
        assert got == [(1, 1, 1, 1), (2, 2, 2, 1)]

    def test_fixed_point_snap_is_exact(self, spark):
        from etl_on_weather_dataset_spark.operators.funnel import (
            rfm_segments,
        )

        rows = [(1, 1, "2025-01-01 00:00:00", 10.01),
                (2, 1, "2025-01-01 00:00:00", 0.99)]
        [r] = rfm_segments(
            self._orders(spark, rows), n_tiles=1
        ).collect()
        assert r.total_units == 1001 + 99
        assert r.mean_units == 1100


class TestEnsureParallelScan:
    """operators.skew.ensure_parallel_scan: the under-parallel input
    guard in front of heavy per-row compute."""

    def test_single_file_scan_widens_to_default_parallelism(
        self, spark, tmp_path
    ):
        from etl_on_weather_dataset_spark.operators.skew import (
            ensure_parallel_scan,
        )

        p = str(tmp_path / "one")
        spark.range(100).selectExpr(
            "id", "CAST(id AS STRING) AS text"
        ).coalesce(1).write.parquet(p)
        df = spark.read.parquet(p)
        assert len(df.inputFiles()) == 1
        out = ensure_parallel_scan(df, "text")
        # the repartition is in the plan (pre-AQE; AQE may coalesce
        # the tiny exchange at runtime, which is the right behavior
        # at this size and irrelevant at real scale)
        assert "repartition" in out._jdf.queryExecution().logical() \
            .toString().lower()
        # values survive untouched
        assert out.count() == 100

    def test_non_file_input_is_left_alone(self, spark):
        from etl_on_weather_dataset_spark.operators.skew import (
            ensure_parallel_scan,
        )

        df = spark.createDataFrame(
            [(1, "a")], "id long, text string"
        )
        out = ensure_parallel_scan(df, "text")
        assert out is df  # no files -> probe skips, same plan object


class TestKmHazardDaily:
    def _ev(self, spark, rows):
        return spark.createDataFrame(
            rows, "event_id long, ts string, user_id long,"
            " event_type string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    def test_planted_events_censoring_and_risk_set(self, spark):
        """3 users: u1 converts day 0, u2 converts day 2, u3 never
        (censored at horizon); risk set shrinks by events+censors."""
        from etl_on_weather_dataset_spark.operators.funnel import (
            km_hazard_daily,
        )

        rows = [
            (1, "2025-01-01 00:00:00", 1, "view"),
            (2, "2025-01-01 12:00:00", 1, "purchase"),   # day 0
            (3, "2025-01-01 00:00:00", 2, "view"),
            (4, "2025-01-03 06:00:00", 2, "purchase"),   # day 2
            (5, "2025-01-02 00:00:00", 3, "view"),
            (6, "2025-01-04 00:00:00", 3, "click"),      # horizon
        ]
        got = {
            r.day: (r.n_at_risk, r.n_events, r.n_censored, r.hazard_ppm)
            for r in km_hazard_daily(self._ev(spark, rows)).collect()
        }
        # horizon = 2025-01-04 00:00; u3 censor day = 2 full days
        assert got == {
            0: (3, 1, 0, 333333),
            2: (2, 1, 1, 500000),
        }

    def test_purchase_before_view_does_not_qualify(self, spark):
        from etl_on_weather_dataset_spark.operators.funnel import (
            km_hazard_daily,
        )

        rows = [
            (1, "2025-01-01 00:00:00", 1, "purchase"),  # pre-view
            (2, "2025-01-02 00:00:00", 1, "view"),
            (3, "2025-01-05 00:00:00", 1, "click"),     # horizon
        ]
        got = km_hazard_daily(self._ev(spark, rows)).collect()
        # censored at day 3, no event
        assert [(r.day, r.n_at_risk, r.n_events, r.n_censored)
                for r in got] == [(3, 1, 0, 1)]

    def test_same_tick_view_purchase_is_day_zero_event(self, spark):
        from etl_on_weather_dataset_spark.operators.funnel import (
            km_hazard_daily,
        )

        rows = [
            (1, "2025-01-01 00:00:00", 1, "view"),
            (2, "2025-01-01 00:00:00", 1, "purchase"),
        ]
        [r] = km_hazard_daily(self._ev(spark, rows)).collect()
        assert (r.day, r.n_events, r.hazard_ppm) == (0, 1, 1_000_000)
