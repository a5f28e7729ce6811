"""Property-based spot checks (SURVEY.md par.5.4): aggregation
invariants, dedup idempotence, mode domain membership -- over small
random inputs via hypothesis (deadline disabled: Spark job latency).

Whole module marked ``slow`` (round-12 verdict item 3): each property
runs up to 8 hypothesis examples x a Spark job (many against a
brute-force twin); the default (driver-window) run excludes them --
run the full suite with ``-m ''``."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_on_weather_dataset_spark.operators.agg import grouped_mode, mean_rollup
from etl_on_weather_dataset_spark.operators.clean import dedup_exact

pytestmark = pytest.mark.slow

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),                  # group key
        st.floats(min_value=-100, max_value=100,
                  allow_nan=False, allow_infinity=False),        # metric
        st.sampled_from(["a", "b", "c", None]),                  # category
    ),
    min_size=1,
    max_size=40,
)


@given(rows=rows_strategy)
@SETTINGS
def test_group_counts_partition_total(spark, rows):
    df = spark.createDataFrame(rows, "g int, x double, c string")
    counts = df.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()
    assert sum(r["n"] for r in counts) == len(rows)


@given(rows=rows_strategy)
@SETTINGS
def test_mean_bounded_by_min_max(spark, rows):
    df = spark.createDataFrame(rows, "g int, x double, c string")
    out = mean_rollup(df, ["g"], {"x": "m"}).collect()
    bounds = {
        r["g"]: (r["lo"], r["hi"])
        for r in df.groupBy("g")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .collect()
    }
    for r in out:
        lo, hi = bounds[r["g"]]
        assert lo - 1e-9 <= r["m"] <= hi + 1e-9


@given(rows=rows_strategy)
@SETTINGS
def test_dedup_idempotent_and_bounded(spark, rows):
    df = spark.createDataFrame(rows, "g int, x double, c string")
    once = dedup_exact(df)
    n = once.count()
    assert n <= len(rows)
    assert dedup_exact(once).count() == n


asof_strategy = st.tuples(
    st.lists(  # left: (user, ts_seconds, value)
        st.tuples(st.integers(0, 2), st.integers(0, 1000),
                  st.integers(0, 100)),
        min_size=1, max_size=20,
    ),
    st.lists(  # right: (user, ts_seconds, rv)
        st.tuples(st.integers(0, 2), st.integers(0, 1000),
                  st.integers(0, 100)),
        min_size=0, max_size=20,
        unique_by=lambda t: (t[0], t[1]),  # unique (user, ts) on right
    ),
)


@given(data=asof_strategy)
@SETTINGS
def test_asof_join_matches_merge_asof(spark, data):
    import datetime as dt

    import pandas as pd

    from etl_on_weather_dataset_spark.operators.joins import asof_join

    left_rows, right_rows = data

    def ts(t):
        return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=t)

    left = spark.createDataFrame(
        [(u, ts(t), float(v), i) for i, (u, t, v) in enumerate(left_rows)],
        "user_id long, ts timestamp, value double, event_id long",
    )
    right = spark.createDataFrame(
        [(u, ts(t), float(v)) for u, t, v in right_rows],
        "user_id long, ts timestamp, rv double",
    ) if right_rows else spark.createDataFrame(
        [], "user_id long, ts timestamp, rv double"
    )
    got = {
        r["event_id"]: r["asof_rv"]
        for r in asof_join(
            left, right, on="user_id", ts_col="ts",
            right_value_cols=["rv"], left_id_col="event_id",
        ).collect()
    }

    lp = pd.DataFrame(
        [(u, ts(t), float(v), i) for i, (u, t, v) in enumerate(left_rows)],
        columns=["user_id", "ts", "value", "event_id"],
    ).sort_values(["ts", "event_id"], kind="mergesort")
    rp = pd.DataFrame(
        [(u, ts(t), float(v)) for u, t, v in right_rows],
        columns=["user_id", "ts", "rv"],
    ).sort_values("ts", kind="mergesort")
    if len(rp):
        exp = pd.merge_asof(lp, rp, on="ts", by="user_id",
                            direction="backward", allow_exact_matches=True)
    else:
        exp = lp.assign(rv=None)
    for _, row in exp.iterrows():
        g = got[row["event_id"]]
        if pd.isna(row["rv"]):
            assert g is None
        else:
            assert g == row["rv"]


@given(rows=rows_strategy)
@SETTINGS
def test_mode_is_in_group_domain(spark, rows):
    df = spark.createDataFrame(rows, "g int, x double, c string")
    modes = grouped_mode(df, ["g"], "c", "m").collect()
    domain: dict[int, set] = {}
    for g, _x, c in rows:
        domain.setdefault(g, set()).add(c)
    for r in modes:
        vals = domain[r["g"]]
        if vals == {None}:
            assert r["m"] is None
        else:
            assert r["m"] in vals


docs_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e"]),
            min_size=1, max_size=20,
        ).map(" ".join),
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda t: t[0],
)


@given(docs=docs_strategy)
@SETTINGS
def test_span_stats_fraction_bounds_and_consistency(spark, docs):
    from etl_on_weather_dataset_spark.operators.dedup import (
        duplicated_span_stats,
    )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    for r in duplicated_span_stats(df, window=3).collect():
        assert 0 <= r["dup_frac_ppm"] <= 1_000_000
        assert r["covered_tokens"] <= r["n_tokens"]
        # spans only exist where windows do
        assert (r["n_dup_spans"] == 0) == (r["n_dup_windows"] == 0)
        assert (r["covered_tokens"] == 0) == (r["n_dup_spans"] == 0)


@given(docs=docs_strategy)
@SETTINGS
def test_span_removal_only_shrinks_and_is_idempotent_when_clean(
    spark, docs
):
    from etl_on_weather_dataset_spark.operators.dedup import (
        duplicated_span_stats,
        remove_duplicated_spans,
    )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    stats = {
        r["id"]: r for r in duplicated_span_stats(df, window=3).collect()
    }
    cleaned = {
        r["id"]: r["clean_text"]
        for r in remove_duplicated_spans(df, window=3).collect()
    }
    for doc_id, text in docs:
        n_in = len(text.split())
        n_out = len(cleaned[doc_id].split()) if cleaned[doc_id] else 0
        assert n_out == n_in - stats[doc_id]["covered_tokens"]


@given(docs=docs_strategy)
@SETTINGS
def test_classifier_logit_matches_integer_sum(spark, docs):
    from etl_on_weather_dataset_spark.operators.classify import (
        hashed_linear_score,
    )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    for r in hashed_linear_score(df).collect():
        assert r["logit"] == r["logit_milli"] / (1000.0 * r["n_tokens"])
        assert r["label"] == int(r["logit_milli"] > 0)
        # per-token weights are bounded by 1000 milli
        assert abs(r["logit_milli"]) <= 1000 * r["n_tokens"]


# --- graph tier ----------------------------------------------------------------

edges_strategy = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
        lambda p: p[0] != p[1]
    ),
    min_size=1,
    max_size=30,
).map(lambda ps: sorted({(min(a, b), max(a, b)) for a, b in ps}))


@given(pairs=edges_strategy)
@SETTINGS
def test_pagerank_mass_and_positivity(spark, pairs):
    from etl_on_weather_dataset_spark.operators.graph import (
        PR_SCALE,
        pagerank_fixed_point,
    )
    from etl_on_weather_dataset_spark.operators.caching import release_all

    edges = spark.createDataFrame(pairs, "src long, dst long")
    try:
        rows = pagerank_fixed_point(edges, iters=2).collect()
    finally:
        release_all()
    nodes = {n for p in pairs for n in p}
    assert {r.node for r in rows} == nodes
    assert all(r.rank_q > 0 for r in rows)
    # floor losses only ever REMOVE mass, bounded per node per round
    total = sum(r.rank_q for r in rows)
    assert total <= PR_SCALE
    assert total >= PR_SCALE - 4 * 2 * len(nodes) - len(nodes)


@given(pairs=edges_strategy)
@SETTINGS
def test_triangle_count_matches_bruteforce(spark, pairs):
    from itertools import combinations

    from etl_on_weather_dataset_spark.operators.graph import triangle_count

    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = triangle_count(edges).collect()[0].n_triangles
    eset = set(pairs)
    nodes = sorted({n for p in pairs for n in p})
    want = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if (a, b) in eset and (a, c) in eset and (b, c) in eset
    )
    assert got == want


# --- rolling z-score ----------------------------------------------------------

series_strategy = st.lists(
    st.floats(min_value=-50, max_value=50, allow_nan=False,
              allow_infinity=False),
    min_size=1,
    max_size=30,
)


@given(vals=series_strategy)
@SETTINGS
def test_rolling_zscore_matches_naive(spark, vals):
    import datetime as dt
    import math

    from etl_on_weather_dataset_spark.operators.timeseries import (
        rolling_zscore,
    )

    W = 5
    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(seconds=i), "u", float(v))
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id string, value double"
    )
    got = {
        r.event_id: (r.z, r.is_anomaly)
        for r in rolling_zscore(
            df, "user_id", "ts", "event_id", "value", window_rows=W
        ).collect()
    }
    import decimal

    cents = [
        int(decimal.Decimal(v * 100).quantize(
            0, rounding=decimal.ROUND_HALF_UP))
        for v in vals
    ]  # Spark F.round is HALF_UP on the exact double, not banker's
    for i in range(len(vals)):
        if i < W:
            assert got[i] == (None, False)
            continue
        tail = cents[i - W:i]
        s1, s2 = sum(tail), sum(x * x for x in tail)
        mean = s1 / W
        var = s2 / W - mean * mean
        if var <= 0:
            assert got[i] == (None, False)
        else:
            z = (cents[i] - mean) / math.sqrt(var)
            assert got[i][0] == z  # bit-identical, not approx
            assert got[i][1] == (abs(z) > 3.0)


# --- Morton key ----------------------------------------------------------------

@given(
    pts=st.lists(st.tuples(st.integers(0, 63), st.integers(0, 63)),
                 min_size=2, max_size=30, unique=True)
)
@SETTINGS
def test_morton_key_bijective_on_grid(spark, pts):
    from etl_on_weather_dataset_spark.operators.layout import morton_key

    df = spark.createDataFrame(pts, "x int, y int")
    # fix the grid so hypothesis' point set doesn't rescale it
    df = df.unionByName(
        spark.createDataFrame([(0, 0), (63, 63)], "x int, y int")
    ).distinct()
    out = df.withColumn("z", morton_key(df, ["x", "y"], bits=6)).collect()
    zs = {}
    for r in out:
        # interleave manually: x bit i -> 2i, y bit i -> 2i+1
        want = 0
        for i in range(6):
            want |= ((r.x >> i) & 1) << (2 * i)
            want |= ((r.y >> i) & 1) << (2 * i + 1)
        assert r.z == want
        zs[(r.x, r.y)] = r.z
    assert len(set(zs.values())) == len(zs)  # injective on the grid


@given(
    vals=st.lists(
        st.floats(min_value=0, max_value=999,
                  allow_nan=False, allow_infinity=False),
        min_size=1, max_size=60,
    ),
    n_bins=st.sampled_from([4, 16, 64]),
    q_ppm=st.sampled_from([100_000, 500_000, 900_000, 1_000_000]),
)
@SETTINGS
def test_histogram_quantile_invariants(spark, vals, n_bins, q_ppm):
    """For any data/grid/quantile: counts partition the rows, the
    estimate lies on a bin edge inside [lo, hi], and it is within one
    grid cell of the exact rank statistic."""
    import math

    from etl_on_weather_dataset_spark.operators.histogram import (
        histogram_quantiles,
        histogram_sketch,
    )

    LO, HI = 0, 1_000_000_000  # micros for values in [0, 1000]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    sk = histogram_sketch(df, "v", LO, HI, n_bins)
    counts = sk.collect()
    assert sum(r.cnt for r in counts) == len(vals)
    assert all(0 <= r.bin < n_bins for r in counts)

    row = histogram_quantiles(sk, [q_ppm], LO, HI, n_bins).collect()[0]
    cell = (HI - LO) // n_bins
    assert row.n_rows == len(vals)
    assert LO <= row.est_micro <= HI and (row.est_micro - LO) % cell == 0
    # exact rank statistic: smallest v with rank*1e6 >= q*n, matching
    # the sketch's integer selection rule (values snapped like the
    # sketch snaps them, so ties round identically)
    snapped = sorted(
        min(max(int(round(v * 1_000_000)), LO), HI) for v in vals
    )
    rank = math.ceil(len(vals) * q_ppm / 1_000_000)
    exact = snapped[max(rank, 1) - 1]
    assert abs(row.est_micro - exact) <= cell


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),    # user
            st.integers(min_value=0, max_value=999),  # ts offset (s)
            st.floats(min_value=0, max_value=400,
                      allow_nan=False, allow_infinity=False),
        ),
        min_size=1, max_size=30,
    ),
)
@SETTINGS
def test_ewma_fold_matches_python(spark, rows):
    """The ordered integer EWMA must equal a plain Python left fold
    over the same (ts, event_id)-sorted sequence -- the property that
    pins the fold ORDER (a parallel/associative evaluation would
    diverge on permuted inputs)."""
    import datetime as dt
    import decimal

    from etl_on_weather_dataset_spark.plans.queries_analytics import (
        _ewma_user_value,
    )
    from etl_on_weather_dataset_spark.schemas import load_table  # noqa: F401

    base = dt.datetime(2024, 1, 1)
    data = [
        (i, base + dt.timedelta(seconds=off), u, float(v))
        for i, (u, off, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "event_id long, ts timestamp, user_id long, value double"
    )

    # run the query body against an in-memory frame via monkey layer:
    # rebuild the same expression inline (load_table is file-bound)
    from pyspark.sql import functions as F

    per_user = df.select(
        "user_id",
        F.struct(
            F.col("ts"), F.col("event_id"),
            F.expr("CAST(ROUND(value * 1000000) AS BIGINT)").alias("vm"),
        ).alias("s"),
    ).groupBy("user_id").agg(
        F.sort_array(F.collect_list("s")).alias("arr")
    )
    got = {
        r.user_id: r.ewma
        for r in per_user.select(
            "user_id",
            F.expr(
                "aggregate(slice(arr, 2, greatest(size(arr) - 1, 0)),"
                " element_at(arr, 1).vm,"
                " (acc, x) -> (x.vm + acc) div 2)"
            ).alias("ewma"),
        ).collect()
    }

    def house_round(x: float) -> int:
        return int(
            decimal.Decimal(x).quantize(0, decimal.ROUND_HALF_UP)
        )

    want = {}
    for eid, ts, u, v in sorted(data, key=lambda t: (t[2], t[1], t[0])):
        vm = house_round(v * 1_000_000)
        want[u] = vm if u not in want else (vm + want[u]) // 2
    assert got == want


pref_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),   # prompt group
        st.integers(min_value=0, max_value=10_000),  # candidate id
        # eighths: v*1000 is an exact integer, so the Python-round
        # reference below can never disagree with Spark's HALF_UP on
        # a .0005 tie
        st.integers(min_value=-400, max_value=400)
        .map(lambda k: k / 8),                       # score
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: t[1],  # candidate ids unique
)


@given(rows=pref_rows)
@SETTINGS
def test_preference_pair_extremality_and_margin(spark, rows):
    """chosen carries the group max score, rejected the min, margin =
    scaled max-min, and both ids come from the group; single-candidate
    groups emit nothing."""
    from collections import defaultdict

    from etl_on_weather_dataset_spark.operators.preference import (
        preference_pairs,
    )

    df = spark.createDataFrame(rows, "g int, id long, score double")
    got = {
        r.g: r
        for r in preference_pairs(df, ["g"], "id", "score",
                                  scale=1000).collect()
    }
    groups = defaultdict(list)
    for g, i, s in rows:
        groups[g].append((round(s * 1000), i))
    for g, members in groups.items():
        if len(members) < 2:
            assert g not in got
            continue
        r = got[g]
        scores = sorted(v for v, _ in members)
        ids = {i for _, i in members}
        assert r.margin_scaled == scores[-1] - scores[0]
        assert r.chosen_id in ids and r.rejected_id in ids
        assert r.chosen_id != r.rejected_id
        assert r.n_candidates == len(members)
        # extremality: chosen has the max scaled score, rejected the min
        by_id = {i: v for v, i in members}
        assert by_id[r.chosen_id] == scores[-1]
        assert by_id[r.rejected_id] == scores[0]


@given(
    n=st.integers(min_value=-10, max_value=10**13),
    target=st.integers(min_value=1, max_value=10**6),
)
@SETTINGS
def test_scaled_n_cells_bounds_and_monotonicity(n, target):
    """The ANN density dial: cells within clamps, cell size bounded
    by target whenever the ceil-div is the binding term, and weakly
    monotone in the corpus size."""
    from etl_on_weather_dataset_spark.operators.similarity import (
        scaled_n_cells,
    )

    c = scaled_n_cells(n, target)
    assert 8 <= c <= 1 << 20
    if n > 0 and 8 <= -(-n // target) <= 1 << 20:
        # unclamped regime: cells * target covers N with < target slack
        assert c * target >= n
        assert (c - 1) * target < n
    # weak monotonicity in n (one step of target rows)
    assert scaled_n_cells(max(n, 0) + target, target) >= c


@given(
    store=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 3),
                  st.integers(0, 50), st.integers(0, 500)),
        min_size=0, max_size=8, unique_by=lambda r: r[0],
    ),
    recompute=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 3),
                  st.integers(0, 50), st.integers(0, 500)),
        min_size=0, max_size=8, unique_by=lambda r: r[0],
    ),
)
@SETTINGS
def test_rollup_mismatch_equals_python_model(spark, store, recompute):
    """count_rollup_mismatches == the obvious dict-diff model,
    INCLUDING one-sided domains (the round-8 advice null trap)."""
    from etl_on_weather_dataset_spark.plans.queries_web import (
        count_rollup_mismatches,
    )

    agg = spark.createDataFrame(
        [(f"d{k}", a, b, c) for k, a, b, c in store],
        "domain string, n_rows long, sum_c long, sum2_c long",
    )
    rec = spark.createDataFrame(
        [(f"d{k}", a, b, c) for k, a, b, c in recompute],
        "domain string, r_n long, r_s long, r_s2 long",
    )
    s = {f"d{k}": (a, b, c) for k, a, b, c in store}
    r = {f"d{k}": (a, b, c) for k, a, b, c in recompute}
    expected = sum(
        1 for d in set(s) | set(r) if s.get(d) != r.get(d)
    )
    assert count_rollup_mismatches(agg, rec) == expected


# --- round-9 second-session tier -------------------------------------------------


@given(
    bins=st.lists(
        st.tuples(
            st.integers(0, 11),            # bin id
            st.integers(1, 30),            # n_rows
        ),
        min_size=1, max_size=10, unique_by=lambda r: r[0],
    ),
    pos=st.data(),
)
@SETTINGS
def test_isotonic_fit_is_monotone_and_mass_conserving(spark, bins, pos):
    """PAV invariants for ANY binned input: rates non-decreasing,
    pools partition the present bins in order, and (n, s) mass is
    conserved exactly."""
    from etl_on_weather_dataset_spark.operators.evaluate import (
        isotonic_fit,
    )

    rows = [
        (b, n, pos.draw(st.integers(0, n), label=f"pos{b}"))
        for b, n in bins
    ]
    df = spark.createDataFrame(rows, "bin long, n_rows long, n_pos long")
    out = isotonic_fit(df, 12).orderBy("pool").collect()
    rates = [r.iso_ppm for r in out]
    assert rates == sorted(rates)
    assert sum(r.n_rows for r in out) == sum(n for _, n, _ in rows)
    assert sum(r.n_pos for r in out) == sum(s for _, _, s in rows)
    present = sorted(b for b, _, _ in rows)
    spans = [(r.bin_lo, r.bin_hi) for r in out]
    # pools tile the present bins in order, no overlap, no gap
    covered = [
        b for lo, hi in spans for b in present if lo <= b <= hi
    ]
    assert covered == present
    assert all(spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1))


@given(
    xs=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 1000)),
        min_size=1, max_size=30,
    ),
)
@SETTINGS
def test_neyman_weight_is_exact_integer_sqrt(spark, xs):
    """weight == isqrt(N*sum(x^2) - sum(x)^2) exactly, per stratum."""
    import math
    from collections import defaultdict

    from etl_on_weather_dataset_spark.operators.sample import (
        neyman_weights,
    )

    df = spark.createDataFrame(xs, "s long, x long")
    got = {
        r.stratum: (r.n_avail, r.weight)
        for r in neyman_weights(df, "s", "x").collect()
    }
    groups = defaultdict(list)
    for s, x in xs:
        groups[s].append(x)
    for s, vals in groups.items():
        var_num = len(vals) * sum(v * v for v in vals) - sum(vals) ** 2
        assert got[s] == (len(vals), math.isqrt(var_num)), (s, vals)


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["x", "y", "z"]),
            st.sampled_from(["x", "y", "z"]),
        ),
        min_size=1, max_size=30,
    ),
)
@SETTINGS
def test_kappa_bounds_and_perfect_agreement(spark, rows):
    """kappa_ppm in [-1e6, 1e6] (or NULL when pe == 1); po/pe exact;
    kappa == 1e6 iff po == 1e6 with pe < 1."""
    from etl_on_weather_dataset_spark.operators.evaluate import (
        cohens_kappa,
    )

    df = spark.createDataFrame(rows, "a string, b string")
    [r] = cohens_kappa(df, "a", "b").collect()
    assert r.n == len(rows)
    assert r.n_agree == sum(1 for a, b in rows if a == b)
    assert 0 <= r.po_ppm <= 1_000_000
    assert 0 <= r.pe_ppm <= 1_000_000
    if r.kappa_ppm is not None:
        assert -1_000_000 <= r.kappa_ppm <= 1_000_000
        if r.po_ppm == 1_000_000:
            assert r.kappa_ppm == 1_000_000


@given(
    scores=st.lists(
        st.integers(min_value=0, max_value=1000),
        min_size=20, max_size=60, unique=True,
    ),
)
@SETTINGS
def test_conformal_rank_and_marginal_guarantee(spark, scores):
    """The exact-order-statistic contract: k = ceil((n_cal+1)(1-a));
    q_hat = the k-th smallest calibration score (or NULL past n_cal),
    recomputed in plain Python from the same md5 split."""
    import hashlib
    import math

    from etl_on_weather_dataset_spark.operators.evaluate import (
        conformal_threshold,
    )

    rows = [(i, s) for i, s in enumerate(scores)]
    df = spark.createDataFrame(rows, "id long, score long")
    [r] = conformal_threshold(
        df, "score", "id", alpha_ppm=200_000, salt="conformal"
    ).collect()

    def bucket(i):
        h = hashlib.md5(f"{i}conformal".encode()).hexdigest()[:8]
        return int(h, 16) % 1_000_000

    cal = sorted(
        (s, i) for i, s in rows if bucket(i) < 500_000
    )
    assert r.n_cal == len(cal)
    k = math.ceil((len(cal) + 1) * 0.8)
    assert r.k_rank == k
    if k <= len(cal):
        assert r.q_hat == cal[k - 1][0]
        # empirical check of the accounting, not the probabilistic
        # statement: coverage_ppm == exact eval fraction under q_hat
        ev = [s for i, s in rows if bucket(i) >= 500_000]
        want = (
            sum(1 for s in ev if s <= r.q_hat) * 1_000_000 // len(ev)
            if ev else 1_000_000
        )
        assert r.coverage_ppm == want
    else:
        assert r.q_hat is None and r.coverage_ppm == 1_000_000


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),   # user
            st.integers(min_value=0, max_value=10**6),  # us offset
            st.sampled_from(["view", "click", "purchase"]),
        ),
        min_size=1, max_size=40,
    ),
)
@SETTINGS
def test_time_decay_shares_never_exceed_unit(spark, rows):
    """Per-channel ppm credit sums stay within 1e6 * conversions
    (truncation only loses credit, never invents it), and the direct
    bucket is exactly the uncredited conversions."""
    from datetime import datetime, timedelta

    from etl_on_weather_dataset_spark.operators.funnel import (
        time_decay_attribution,
    )

    base = datetime(2024, 1, 10)
    data = [
        (u, base + timedelta(microseconds=us), et, 1.0)
        for u, us, et in rows
    ]
    df = spark.createDataFrame(
        data, "user_id long, ts timestamp, event_type string,"
        " value double",
    )
    out = {r.channel: r for r in time_decay_attribution(df).collect()}
    n_conv = sum(1 for _, _, et in rows if et == "purchase")
    credited = sum(
        r.share_ppm_sum for c, r in out.items() if c != "direct"
    )
    n_direct = out["direct"].n_touched if "direct" in out else 0
    touched_conv = n_conv - n_direct
    assert credited <= touched_conv * 1_000_000
    # truncation loses at most (channels - 1) ppm per conversion
    assert credited >= touched_conv * (1_000_000 - 2)


@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=0, max_value=50),
        ),
        min_size=1, max_size=25,
    ),
)
@SETTINGS
def test_borda_points_bounds_and_rank_domain(spark, vals):
    """Every rank in [1, N]; borda in [0, signals * (N - 1)]; ties
    share ranks (same value -> same rank)."""
    from etl_on_weather_dataset_spark.operators.retrieval import (
        borda_fuse,
    )

    rows = [(str(i), a, b) for i, (a, b) in enumerate(vals)]
    df = spark.createDataFrame(rows, "id string, s1 long, s2 long")
    n = len(rows)
    out = borda_fuse(
        df, "id", {"s1": "desc", "s2": "asc"}, k=n
    ).collect()
    assert len(out) == n
    by_id = {r.id: r for r in out}
    for r in out:
        assert 1 <= r.rk_s1 <= n and 1 <= r.rk_s2 <= n
        assert 0 <= r.borda <= 2 * (n - 1)
    for i, (a1, b1) in enumerate(vals):
        for j, (a2, b2) in enumerate(vals):
            if a1 == a2:
                assert by_id[str(i)].rk_s1 == by_id[str(j)].rk_s1


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["p", "q"]),
            st.integers(min_value=1, max_value=30),  # day
            st.integers(min_value=0, max_value=500),  # cents
        ),
        min_size=2, max_size=30,
    ),
)
@SETTINGS
def test_trend_slope_equals_python_ols(spark, rows):
    """slope_num/slope_den match the closed-form cross moments of the
    recentered daily totals computed independently in Python."""
    from collections import defaultdict
    from datetime import datetime

    from etl_on_weather_dataset_spark.operators.timeseries import (
        trend_slope_by_key,
    )

    data = [
        (k, datetime(2024, 1, d, 12, 0, 0), c) for k, d, c in rows
    ]
    df = spark.createDataFrame(
        data, "k string, ts timestamp, cents long"
    )
    got = {r.k: r for r in trend_slope_by_key(df, "k").collect()}
    daily = defaultdict(lambda: defaultdict(int))
    for k, d, c in rows:
        daily[k][d] += c
    for k, series in daily.items():
        d0 = min(series)
        pts = [(d - d0, y) for d, y in series.items()]
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        assert got[k].slope_num == n * sxy - sx * sy
        assert got[k].slope_den == n * sxx - sx * sx


@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2", "s3"]),
            st.lists(
                st.sampled_from(["a", "b", "c", "d", "e"]),
                min_size=1, max_size=6,
            ),
        ),
        min_size=3, max_size=15,
    ),
)
@SETTINGS
def test_js_matrix_bounds_and_identity(spark, docs):
    """0 <= js <= ln2 (+1 micro rounding slack) for every pair; a
    pair of sources with IDENTICAL token distributions scores ~0."""
    import math

    from etl_on_weather_dataset_spark.operators.corpus import (
        js_divergence_matrix,
    )

    rows = [(s, " ".join(ws)) for s, ws in docs]
    # force two identical sources by mirroring s1's docs into s9
    rows += [("s9", t) for s, t in rows if s == "s1"]
    df = spark.createDataFrame(rows, "source string, text string")
    out = js_divergence_matrix(df).collect()
    sources = {s for s, _ in rows}
    assert len(out) == len(sources) * (len(sources) - 1) // 2
    bound = round(math.log(2) * 1e6)
    for r in out:
        # per-term micro rounding can overshoot by <= 1 per token
        assert -r.n_shared_tokens - 2 <= r.js_micro
        assert r.js_micro <= bound + r.n_shared_tokens + 2
        assert 0 <= max(0, r.js_micro)  # sanity
    if any(s == "s1" for s, _ in docs):
        [mirror] = [
            r for r in out
            if {r.source_a, r.source_b} == {"s1", "s9"}
        ]
        # identical distributions: every term ln(1) = 0, excl mass 0
        assert mirror.js_micro == 0


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),   # group
            st.sampled_from(["a", "b", "c", "d"]),   # item
        ),
        min_size=1, max_size=40,
    ),
)
@SETTINGS
def test_cooccurrence_counts_match_python(spark, rows):
    """Pair counts equal the brute-force distinct-per-group Python
    enumeration."""
    from collections import defaultdict
    from itertools import combinations

    from etl_on_weather_dataset_spark.operators.joins import (
        cooccurrence_topk,
    )

    df = spark.createDataFrame(rows, "g long, i string")
    got = {
        (r.item_a, r.item_b): r.n_groups
        for r in cooccurrence_topk(df, "g", "i", k=100).collect()
    }
    groups = defaultdict(set)
    for g, i in rows:
        groups[g].add(i)
    want = defaultdict(int)
    for items in groups.values():
        for a, b in combinations(sorted(items), 2):
            want[(a, b)] += 1
    assert got == dict(want)


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["s0", "s1"]),                     # group
            st.integers(min_value=0, max_value=40),            # tokens
        ),
        min_size=1,
        max_size=30,
    ),
)
@SETTINGS
def test_gini_matches_bruteforce_midrank_formula(spark, rows):
    """gini_ppm == floor(1e6 * (2*sum(r_i x_i) - (n+1)T) / (nT)) with
    average ranks recomputed naively in Python; top-share take is the
    exact top-ceil(n/100) mass."""
    from etl_on_weather_dataset_spark.operators.corpus import (
        gini_concentration,
    )

    # build docs whose BPE token count == requested count (the token
    # "x" repeated k times; k=0 -> empty text -> 1 split token)
    docs = [
        (grp, " ".join(["x"] * k) if k else "")
        for grp, k in rows
    ]
    df = spark.createDataFrame(docs, "source string, text string")
    got = {
        r.source: r
        for r in gini_concentration(df).collect()
    }
    from collections import defaultdict

    by_grp = defaultdict(list)
    for grp, k in rows:
        # BPE token count of "" is 0 -- an empty doc is a zero-token
        # doc, still a rank-holder in the Gini relation
        by_grp[grp].append(k)
    for grp, xs in by_grp.items():
        xs.sort()
        n, T = len(xs), sum(xs)
        if T == 0:
            assert got[grp].gini_ppm is None
            continue
        # average ranks over ties
        s2 = 0
        i = 0
        while i < len(xs):
            j = i
            while j < len(xs) and xs[j] == xs[i]:
                j += 1
            avg_rank2 = (i + 1) + j  # 2 * average rank of the tie run
            s2 += sum(xs[i:j]) * avg_rank2
            i = j
        num = s2 - (n + 1) * T
        r = got[grp]
        assert r.n_docs == n and r.total_tokens == T
        assert r.gini_ppm == (num * 1_000_000) // (n * T)
        k_top = (n + 99) // 100
        want_top = sum(sorted(xs, reverse=True)[:k_top])
        assert r.top_tokens == want_top


@given(
    series=st.lists(
        st.integers(min_value=0, max_value=500),
        min_size=2, max_size=25,
    ),
    gap_at=st.integers(min_value=0, max_value=24),
)
@SETTINGS
def test_ar1_matches_numpy_ols_on_adjacent_pairs(spark, series, gap_at):
    """phi_milli equals the trunc-division OLS of y_t on y_{t-1} over
    CONSECUTIVE days only, recomputed naively (a planted gap must
    drop exactly one pair)."""
    from etl_on_weather_dataset_spark.operators.timeseries import (
        ar1_by_key,
    )

    # one event per day, value = cents/100 so unit division is exact
    days = []
    d = 0
    for i, _ in enumerate(series):
        if i == gap_at:
            d += 2  # plant a gap: (i-1, i) is not adjacent
        else:
            d += 1
        days.append(d)
    rows = [
        (1, f"2024-01-{1:02d}", dd, v * 100) for dd, v in zip(days, series)
    ]
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            ("k", base + timedelta(days=dd), v * 100)
            for dd, v in zip(days, series)
        ],
        "key string, ts timestamp, cents long",
    )
    [r] = ar1_by_key(df, "key").collect()
    ys = dict(zip(days, series))
    m = min(series)
    pairs = [
        (ys[d - 1] - m, ys[d] - m)
        for d in days
        if (d - 1) in ys
    ]
    assert r.n_pairs == len(pairs)
    if pairs:
        n = len(pairs)
        sx = sum(p for p, _ in pairs)
        sy = sum(c for _, c in pairs)
        sxy = sum(p * c for p, c in pairs)
        sxx = sum(p * p for p, _ in pairs)
        num, den = n * sxy - sx * sy, n * sxx - sx * sx
        if den <= 0:
            assert r.phi_milli is None
        else:
            want = (1 if num >= 0 else -1) * (abs(num) * 1000 // den)
            assert r.phi_milli == want
    else:
        assert r.phi_milli is None


@given(
    sizes=st.lists(
        st.integers(min_value=1, max_value=10),
        min_size=1, max_size=40,
    ),
)
@SETTINGS
def test_bfd_flags_hold_and_cut_is_lower_bound(spark, sizes):
    """On arbitrary size lists: every theorem flag is 1, cut bins is
    the per-shard ceil lower bound, and shelf accounting is exact."""
    from etl_on_weather_dataset_spark.operators.corpus import (
        packing_waste_audit,
    )

    rows = [(i, 1, s) for i, s in enumerate(sizes)]
    chunks = spark.createDataFrame(
        rows, "doc_id long, chunk_id long, n_tokens long"
    )
    [r] = packing_waste_audit(
        chunks, capacity=10, n_shards=2, bucket_width=3
    ).collect()
    assert r.n_chunks == len(sizes)
    assert r.total_tokens == sum(sizes)
    assert r.bfd_valid == 1
    assert r.bfd_ge_cut_bins == 1
    assert r.bfd_half_full_bound == 1
    assert r.bfd_accounting_ok == 1
    assert r.cut_padded_slots == r.cut_bins * 10 - r.total_tokens
    assert r.shelf_padded_slots == r.shelf_bins * 10 - r.total_tokens
    assert r.shelf_bins >= r.cut_bins


@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["en", "de"]),
            st.sampled_from(["s0", "s1"]),
            st.text(
                alphabet="ab .!",
                min_size=1,
                max_size=24,
            ),
        ),
        min_size=1,
        max_size=20,
    ),
)
@SETTINGS
def test_tokenizer_fertility_matches_python(spark, docs):
    """Group sums equal a naive Python recount (bytes via utf-8,
    whitespace split ' +', BPE regex \\w+|[^\\w\\s]); ratios are the
    guarded trunc divisions."""
    import re
    from collections import defaultdict

    from etl_on_weather_dataset_spark.operators.text import (
        tokenizer_fertility,
    )

    df = spark.createDataFrame(
        docs, "lang string, source string, text string"
    )
    got = {
        (r.lang, r.source): r
        for r in tokenizer_fertility(df).collect()
    }
    want = defaultdict(lambda: [0, 0, 0, 0, 0])
    for lang, src, text in docs:
        w = want[(lang, src)]
        w[0] += 1
        w[1] += len(text.encode("utf-8"))
        w[2] += len(text)
        w[3] += len(re.split(" +", text))
        w[4] += len(re.findall(r"\w+|[^\w\s]", text))
    assert set(got) == set(want)
    for k, (n, b, c, words, toks) in want.items():
        r = got[k]
        assert (r.n_docs, r.n_bytes, r.n_chars, r.n_words,
                r.n_tokens) == (n, b, c, words, toks)
        assert r.fertility_ppm == (
            toks * 10**6 // words if words else None
        )
        assert r.bytes_per_token_ppm == (
            b * 10**6 // toks if toks else None
        )


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),      # user
            st.integers(min_value=0, max_value=5000),   # minute offset
            st.sampled_from(["view", "purchase", "click"]),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda e: (e[0], e[1]),
    ),
)
@SETTINGS
def test_time_to_convert_matches_python(spark, events):
    """The one-row funnel-latency audit equals a naive per-user
    simulation: first view, first at-or-after purchase, minute
    buckets, type-1 quantiles (100*cum >= p*n)."""
    from collections import defaultdict
    from datetime import datetime, timedelta

    from etl_on_weather_dataset_spark.operators.funnel import (
        time_to_convert,
    )

    base = datetime(2024, 5, 1)
    rows = [
        (i, base + timedelta(minutes=m), u, k)
        for i, (u, m, k) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string"
    )
    [r] = time_to_convert(df).collect()

    by_user = defaultdict(list)
    for _, ts, u, k in rows:
        by_user[u].append((ts, k))
    deltas = []
    n_from = 0
    for u, evs in by_user.items():
        views = [t for t, k in evs if k == "view"]
        if not views:
            continue
        n_from += 1
        v = min(views)
        purch = [t for t, k in evs if k == "purchase" and t >= v]
        if purch:
            deltas.append(int((min(purch) - v).total_seconds()))
    assert r.n_from_users == n_from
    assert r.n_converted == len(deltas)
    if deltas:
        n = len(deltas)
        assert r.mean_seconds == sum(deltas) // n
        ms = sorted(d // 60 for d in deltas)

        def q_at(p):
            for i, m in enumerate(ms, start=1):
                if 100 * i >= p * n:
                    return m

        assert r.p50_bucket == q_at(50)
        assert r.p90_bucket == q_at(90)
    else:
        assert r.mean_seconds is None
        assert r.p50_bucket is None and r.p90_bucket is None


@given(
    texts=st.lists(
        st.text(alphabet="abc ", min_size=0, max_size=20),
        min_size=1,
        max_size=15,
    ),
)
@SETTINGS
def test_vocab_coverage_matches_python_bigrams(spark, texts):
    """Bigram top-k coverage equals a naive recount with the same
    count-desc / pair-asc rank tie-break."""
    import re
    from collections import Counter

    from etl_on_weather_dataset_spark.operators.corpus import (
        vocab_coverage_topk,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    ks = (2, 5)
    got = {
        r.k: r for r in vocab_coverage_topk(df, ks=ks, ngram=2).collect()
    }
    counts = Counter()
    for t in texts:
        toks = re.split(" +", t)
        for a, b in zip(toks, toks[1:]):
            counts[f"{a} {b}"] += 1
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(counts.values())
    for k in ks:
        r = got[k]
        assert r.vocab_size == len(counts)
        assert (r.total_tokens or 0) == total
        covered = sum(c for _, c in ranked[:k])
        assert r.covered_tokens == covered
        if total:
            assert r.coverage_ppm == covered * 10**6 // total
        else:
            assert r.coverage_ppm is None


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]),
                 min_size=0, max_size=8),
        min_size=1, max_size=10,
    ),
    window=st.integers(min_value=1, max_value=3),
)
@SETTINGS
def test_skipgram_matches_python_bruteforce(spark, docs, window):
    """Windowed pair counts and micro-unit GloVe weights equal the
    brute-force positional enumeration."""
    from collections import defaultdict

    from etl_on_weather_dataset_spark.operators.corpus import (
        skipgram_cooccurrence,
    )

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        (r.a, r.b): (r.n_cooc, r.glove_w_micro)
        for r in skipgram_cooccurrence(
            df, window=window, min_count=1, top_k=1000
        ).collect()
    }
    want_n = defaultdict(int)
    want_w = defaultdict(int)
    for toks in docs:
        # "" splits to [""] in both engines: one token, no pairs --
        # mirror tokens() exactly
        toks = toks if toks else [""]
        for i in range(len(toks)):
            for j in range(i + 1, min(i + window, len(toks) - 1) + 1):
                key = tuple(sorted((toks[i], toks[j])))
                want_n[key] += 1
                want_w[key] += 1_000_000 // (j - i)
    assert got == {
        k: (want_n[k], want_w[k]) for k in want_n
    }


@given(
    vals=st.lists(
        st.floats(min_value=-50, max_value=5000,
                  allow_nan=False, allow_infinity=False),
        min_size=1, max_size=40,
    ),
)
@SETTINGS
def test_benford_counts_match_python_snap(spark, vals):
    """Digit counts equal Python's identical floor fixed-point snap;
    all nine rows always present; observed_ppm totals <= 1e6."""
    import math
    from collections import Counter

    from etl_on_weather_dataset_spark.operators.profile import (
        benford_digit_audit,
    )

    df = spark.createDataFrame([(v,) for v in vals], "x double")
    rows = benford_digit_audit(df, "x").collect()
    assert [r.digit for r in rows] == list(range(1, 10))
    want = Counter()
    for v in vals:
        units = math.floor(v * 100 + 0.5)
        if units >= 1:
            want[int(str(units)[0])] += 1
    got = {r.digit: r.n_values for r in rows}
    assert got == {d: want.get(d, 0) for d in range(1, 10)}
    total = sum(want.values())
    if total:
        assert sum(r.observed_ppm for r in rows) <= 10**6
        for r in rows:
            assert r.observed_ppm == want.get(r.digit, 0) * 10**6 // total
            assert r.delta_ppm == r.observed_ppm - r.expected_ppm


@given(
    orders=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=8),    # custkey
            st.integers(min_value=0, max_value=20),   # days before anchor
            st.integers(min_value=1, max_value=9999), # cents
        ),
        min_size=1, max_size=30,
    ),
    n_tiles=st.integers(min_value=1, max_value=5),
)
@SETTINGS
def test_rfm_matches_python_ntile(spark, orders, n_tiles):
    """Cell assignment equals a Python NTILE (SQL-standard remainder-
    first buckets) over the same tie-broken metric orders."""
    from collections import defaultdict
    from datetime import date, timedelta

    from etl_on_weather_dataset_spark.operators.funnel import (
        rfm_segments,
    )

    anchor = date(2025, 6, 30)
    rows = [
        (i, c, str(anchor - timedelta(days=d)) + " 00:00:00",
         cents / 100.0)
        for i, (c, d, cents) in enumerate(orders)
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderdate string,"
        " o_totalprice double",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    got = {
        (r.r_tile, r.f_tile, r.m_tile): (r.n_customers, r.total_units)
        for r in rfm_segments(df, n_tiles=n_tiles).collect()
    }

    seen = {}
    for c, d, cents in orders:
        if c not in seen:
            seen[c] = [d, 0, 0]
        seen[c][0] = min(seen[c][0], d)
        seen[c][1] += 1
        seen[c][2] += cents
    # anchor is the min "days before" across all orders, so recency
    # re-bases against it
    base = min(d for _, d, _ in orders)

    def ntile(keys):  # keys pre-sorted; SQL NTILE remainder-first
        n, out = len(keys), {}
        lo, sz, rem = 0, n // n_tiles, n % n_tiles
        for t in range(1, n_tiles + 1):
            hi = lo + sz + (1 if t <= rem else 0)
            for k in keys[lo:hi]:
                out[k] = t
            lo = hi
        return out

    custs = sorted(seen)
    r_t = ntile(sorted(custs, key=lambda c: (seen[c][0] - base, c)))
    f_t = ntile(sorted(custs, key=lambda c: (-seen[c][1], c)))
    m_t = ntile(sorted(custs, key=lambda c: (-seen[c][2], c)))
    want = defaultdict(lambda: [0, 0])
    for c in custs:
        cell = (r_t[c], f_t[c], m_t[c])
        want[cell][0] += 1
        want[cell][1] += seen[c][2]
    assert got == {k: tuple(v) for k, v in want.items()}


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),     # user
            st.integers(min_value=0, max_value=400000), # seconds
            st.sampled_from(["view", "purchase", "click"]),
        ),
        min_size=1, max_size=40,
    ),
)
@SETTINGS
def test_km_hazard_matches_python_bruteforce(spark, events):
    """Hazard-table rows equal a naive Python KM fold: per-user
    first view, first at-or-after purchase, censor at global max
    ts, day buckets, top-down risk set."""
    import datetime as dt
    from collections import defaultdict

    from etl_on_weather_dataset_spark.operators.funnel import (
        km_hazard_daily,
    )

    base = dt.datetime(2025, 1, 1)
    rows = [
        (i, base + dt.timedelta(seconds=s), u, e)
        for i, (u, s, e) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string"
    )
    got = {
        r.day: (r.n_at_risk, r.n_events, r.n_censored, r.hazard_ppm)
        for r in km_hazard_daily(df).collect()
    }

    horizon = max(s for _, s, _ in events)
    first_view = {}
    for u, s, e in sorted(events, key=lambda t: t[1]):
        if e == "view" and u not in first_view:
            first_view[u] = s
    terminal = {}  # user -> (day, is_event)
    for u, v in first_view.items():
        pur = [s for uu, s, e in events
               if uu == u and e == "purchase" and s >= v]
        if pur:
            terminal[u] = ((min(pur) - v) // 86400, True)
        else:
            terminal[u] = ((horizon - v) // 86400, False)
    per_day = defaultdict(lambda: [0, 0])
    for d, is_ev in terminal.values():
        per_day[d][0 if is_ev else 1] += 1
    want, remaining = {}, len(terminal)
    for d in sorted(per_day):
        ev_n, cen_n = per_day[d]
        want[d] = (remaining, ev_n, cen_n,
                   ev_n * 10**6 // remaining)
        remaining -= ev_n + cen_n
    assert got == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),      # user
            st.integers(min_value=0, max_value=18000),  # seconds
            st.integers(min_value=-50, max_value=50),   # value*4
        ),
        min_size=1, max_size=25,
        unique_by=lambda t: (t[0], t[1]),
    ),
)
@SETTINGS
def test_session_rollup_batch_matches_python_gap_merge(spark, events):
    """Batch session_rollup (native session_window) equals a naive
    per-user gap merge: 30-min gap, end = last event + gap, exact
    quarter-unit sums."""
    import datetime as dt

    from etl_on_weather_dataset_spark.streaming.windows import (
        session_rollup,
    )

    base = dt.datetime(2025, 3, 1)
    rows = [
        (i, base + dt.timedelta(seconds=s), u, q / 4.0)
        for i, (u, s, q) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    got = {
        (r.user_id, r.session_start, r.session_end):
            (r.n_events, r.total_value)
        for r in session_rollup(df).collect()
    }

    GAP = 1800
    want = {}
    by_user = {}
    for u, s, q in sorted(events):
        by_user.setdefault(u, []).append((s, q))
    for u, evs in by_user.items():
        cur = [evs[0]]
        sessions = []
        for s, q in evs[1:]:
            if s - cur[-1][0] <= GAP:
                cur.append((s, q))
            else:
                sessions.append(cur)
                cur = [(s, q)]
        sessions.append(cur)
        for sess in sessions:
            start = base + dt.timedelta(seconds=sess[0][0])
            end = base + dt.timedelta(seconds=sess[-1][0] + GAP)
            want[(u, start, end)] = (
                len(sess), sum(q for _, q in sess) / 4.0,
            )
    assert got == want
