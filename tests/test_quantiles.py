"""Bounded-state exact quantiles (operators.quantiles).

The bisection must reproduce Spark's own `percentile` (= DuckDB
quantile_cont, type-7) to the suite's ROUND(·,6) convention, while
keeping executor state bounded: per-task aggregation state is a
bucket-count map capped at nbuckets entries, never a value map.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from skoltexter_by_ai_spark.operators.curation import robust_zscore, winsorize
from skoltexter_by_ai_spark.operators.quantiles import (
    exact_quantile_bounds,
    grouped_exact_quantiles,
)

PROBS = [0.0, 0.05, 0.25, 0.5, 0.95, 1.0]


@pytest.fixture(scope="module")
def grid_df(spark):
    random.seed(7)
    rows = [
        (random.choice("ABC"), round(random.uniform(900.0, 105000.0), 2))
        for _ in range(20000)
    ]
    rows.append(("D", 42.42))  # singleton group: pos lands exactly on a rank
    rows.append(("A", None))  # NULLs are ignored, like percentile()
    return spark.createDataFrame(rows, "g string, v double").cache()


def test_matches_spark_percentile_all_probs(grid_df):
    mine = {
        r.g: [r[f"__q{i}"] for i in range(len(PROBS))]
        for r in exact_quantile_bounds(grid_df, "v", ["g"], PROBS).collect()
    }
    ref = {
        r.g: [r[f"p{i}"] for i in range(len(PROBS))]
        for r in grid_df.groupBy("g")
        .agg(
            *[
                F.round(F.percentile("v", F.lit(p)), 6).alias(f"p{i}")
                for i, p in enumerate(PROBS)
            ]
        )
        .collect()
    }
    assert mine == ref


def test_global_quantiles_no_group(grid_df):
    got = exact_quantile_bounds(grid_df, "v", [], [0.5]).collect()
    want = grid_df.agg(F.round(F.percentile("v", F.lit(0.5)), 6)).collect()
    assert len(got) == 1 and got[0]["__q0"] == want[0][0]


def test_tiny_nbuckets_converges(spark):
    """More refinement passes, same answer — exercises the multi-pass
    path that a 64-bit range would need."""
    df = spark.createDataFrame(
        [("g", float(i)) for i in range(1, 1002)], "g string, v double"
    )
    got = grouped_exact_quantiles(
        df, ["g"], F.col("v").cast("long"), [0.25, 0.5], nbuckets=4
    )
    vals = {round(r["__p"], 2): r["__q"] for r in got.collect()}
    assert vals == {0.25: 251.0, 0.5: 501.0}


def test_guard_rejects_off_grid_values(spark):
    df = spark.createDataFrame([("A", 1.234567), ("A", 2.0)], "g string, v double")
    with pytest.raises(Exception, match="1/100 grid"):
        exact_quantile_bounds(df, "v", ["g"], [0.5]).collect()


def test_winsorize_plan_has_no_percentile_aggregate(spark, sf_dir):
    """The 100 TB posture gate (VERDICT r2): the default winsorize path
    must not plan Spark's percentile/median aggregate, whose per-group
    value-map state is memory-unbounded. All aggregates in the plan
    must be count/min/max/sum-shaped (bounded, mergeable)."""
    from skoltexter_by_ai_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    out = winsorize(li, "l_extendedprice", group_col="l_returnflag")
    plan = out._jdf.queryExecution().executedPlan().toString().lower()
    assert "percentile" not in plan
    assert "median" not in plan


def test_winsorize_matches_legacy_percentile_path(spark, sf_dir):
    from skoltexter_by_ai_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    key = ["l_orderkey", "l_linenumber"]
    bounded = winsorize(li, "l_extendedprice", group_col="l_returnflag")
    legacy = winsorize(li, "l_extendedprice", group_col="l_returnflag", scale=None)
    cols = sorted(bounded.columns)
    a = [tuple(r) for r in bounded.select(cols).orderBy(*key).collect()]
    b = [tuple(r) for r in legacy.select(cols).orderBy(*key).collect()]
    assert a == b


def test_robust_zscore_matches_unbounded_median(spark, sf_dir):
    """The delta ranking runs on exact integers; result must equal the
    straightforward double median/MAD composition post-ROUND."""
    from skoltexter_by_ai_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    got = robust_zscore(li, "l_extendedprice", "l_returnflag")

    med = li.groupBy("l_returnflag").agg(
        F.round(F.median("l_extendedprice"), 6).alias("m")
    )
    wm = li.join(F.broadcast(med), "l_returnflag")
    mad = wm.groupBy("l_returnflag").agg(
        F.round(
            F.median(F.abs(F.col("l_extendedprice").cast("double") - F.col("m"))), 6
        ).alias("d")
    )
    want = wm.join(F.broadcast(mad), "l_returnflag").select(
        "l_orderkey",
        "l_linenumber",
        F.col("m").alias("grp_median"),
        F.col("d").alias("grp_mad"),
        F.round(
            (F.col("l_extendedprice").cast("double") - F.col("m")) / F.col("d"), 6
        ).alias("robust_z"),
    )
    key = ["l_orderkey", "l_linenumber"]
    cols = ["l_orderkey", "l_linenumber", "grp_median", "grp_mad", "robust_z"]
    a = [tuple(r) for r in got.select(cols).orderBy(*key).collect()]
    b = [tuple(r) for r in want.select(cols).orderBy(*key).collect()]
    assert a == b


def test_winsorize_keeps_all_null_groups(spark):
    df = spark.createDataFrame(
        [("A", 1.0), ("A", 3.0), ("B", None), ("B", None)], "g string, v double"
    )
    out = winsorize(df, "v", group_col="g").orderBy("g", "v")
    rows = out.collect()
    assert len(rows) == 4  # NULL-only group B keeps its rows
    b = [r for r in rows if r.g == "B"]
    assert all(r.v_w is None and r.v_lo is None for r in b)


def test_property_random_grids_match_percentile(spark):
    """Property check beyond the fixed-seed fixture: random group
    shapes, duplicate-heavy values, negatives, and awkward probs must
    all reproduce F.percentile post-ROUND."""
    hypothesis = pytest.importorskip("hypothesis")
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.sampled_from("AB"),
                st.one_of(
                    st.none(),
                    st.integers(-10**7, 10**7).map(lambda c: c / 100.0),
                ),
            ),
            min_size=1,
            max_size=60,
        ),
        st.lists(st.sampled_from([0.0, 0.01, 0.33, 0.5, 0.9, 1.0]), min_size=1, max_size=3, unique=True),
    )
    def check(rows, probs):
        df = spark.createDataFrame(rows, "g string, v double")
        if df.filter(F.col("v").isNotNull()).isEmpty():
            return
        mine = {
            tuple(r[:1]): [r[f"__q{i}"] for i in range(len(probs))]
            for r in exact_quantile_bounds(df, "v", ["g"], probs).collect()
        }
        ref = {
            tuple(r[:1]): [r[f"p{i}"] for i in range(len(probs))]
            for r in df.groupBy("g")
            .agg(
                *[
                    F.round(F.percentile("v", F.lit(p)), 6).alias(f"p{i}")
                    for i, p in enumerate(probs)
                ]
            )
            .collect()
        }
        # percentile yields NULL rows for all-NULL groups; the bisection
        # omits them — compare only groups with data.
        ref = {k: v for k, v in ref.items() if v[0] is not None}
        assert mine == ref

    check()


def test_winsorize_approx_bounds_close_to_exact(spark, sf_dir):
    from skoltexter_by_ai_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    exact = {
        r.l_returnflag: (r.l_extendedprice_lo, r.l_extendedprice_hi)
        for r in winsorize(li, "l_extendedprice", group_col="l_returnflag")
        .select("l_returnflag", "l_extendedprice_lo", "l_extendedprice_hi")
        .distinct()
        .collect()
    }
    approx = {
        r.l_returnflag: (r.l_extendedprice_lo, r.l_extendedprice_hi)
        for r in winsorize(
            li, "l_extendedprice", group_col="l_returnflag", approx_accuracy=10000
        )
        .select("l_returnflag", "l_extendedprice_lo", "l_extendedprice_hi")
        .distinct()
        .collect()
    }
    # GK bound: rank error <= n/accuracy; translate loosely to a 1%
    # relative tolerance on these smooth price distributions.
    for g, (lo, hi) in exact.items():
        alo, ahi = approx[g]
        assert abs(alo - lo) / hi < 0.01 and abs(ahi - hi) / hi < 0.01


def test_robust_zscore_keeps_all_null_groups(spark):
    """ADVICE r3: a group whose values are all NULL must keep its rows
    (NULL median/MAD/z), matching the percentile composition the
    bisection replaced and winsorize's left-join shape."""
    df = spark.createDataFrame(
        [("A", 1.0), ("A", 3.0), ("A", 5.0), ("B", None)], "g string, v double"
    )
    rows = robust_zscore(df, "v", "g").orderBy("g", "v").collect()
    assert len(rows) == 4
    b = [r for r in rows if r.g == "B"]
    assert len(b) == 1
    assert b[0].grp_median is None and b[0].grp_mad is None and b[0].robust_z is None
    a = {r.v: r.robust_z for r in rows if r.g == "A"}
    assert a[3.0] == 0.0  # median 3, MAD 2


@pytest.mark.parametrize("fused", [True, False])
def test_robust_zscore_guard_failure_releases_cache(spark, fused):
    """An off-grid value fails the guard mid-call; the cached narrow
    projection must still be released (no CacheManager entry may
    outlive the call, on any exit)."""
    from pyspark.errors import SparkRuntimeException

    spark.catalog.clearCache()
    df = spark.createDataFrame(
        [("A", 0.123456), ("A", 2.0), ("A", 3.0)], "g string, v double"
    )
    with pytest.raises(SparkRuntimeException):
        robust_zscore(df, "v", "g", fused=fused).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_off_grid_guard_message_names_remediation(spark):
    """ADVICE r3: the hard failure on off-grid values must tell the
    caller how to proceed (scale=None / approx_accuracy)."""
    df = spark.createDataFrame([("A", 0.123456), ("A", 2.0)], "g string, v double")
    with pytest.raises(Exception) as exc:
        winsorize(df, "v", group_col="g").collect()
    msg = str(exc.value)
    assert "scale=None" in msg and "approx_accuracy" in msg


def test_global_quantiles_result_and_guard_message(spark):
    """ADVICE r3: the group_cols==[] branch must forward its options
    (guard_msg included) through the synthetic-group recursion."""
    df = spark.createDataFrame([(float(i),) for i in range(101)], "v double")
    out = exact_quantile_bounds(df, "v", [], [0.5]).collect()
    assert [r["__q0"] for r in out] == [50.0]
    # And the custom guard message surfaces on the global path too.
    bad = spark.createDataFrame([(0.123456,), (1.0,)], "v double")
    with pytest.raises(Exception) as exc:
        exact_quantile_bounds(bad, "v", [], [0.5]).collect()
    assert "approx_accuracy" in str(exc.value)


def test_seeded_and_unseeded_agree(spark, grid_df):
    probs = [0.0, 0.25, 0.5, 1.0]
    a = sorted(
        map(tuple, exact_quantile_bounds(grid_df, "v", ["g"], probs).collect())
    )
    import skoltexter_by_ai_spark.operators.quantiles as q

    b = sorted(
        map(
            tuple,
            q.grouped_exact_quantiles(
                grid_df,
                ["g"],
                (F.round(F.col("v") * 100)).cast("long"),
                probs,
                seed_accuracy=None,
            )
            .groupBy("g")
            .agg(
                *[
                    F.round(
                        F.max(F.when(F.col("__p") == float(p), F.col("__q"))) / 100, 6
                    ).alias(f"__q{i}")
                    for i, p in enumerate(probs)
                ]
            )
            .collect(),
        )
    )
    assert a == b


def test_sabotaged_seed_sketch_still_exact(spark, monkeypatch):
    """The GK seed is an accelerator ONLY: even a sketch that returns
    garbage brackets (here: every bracket collapses onto the group
    minimum) must yield exact quantiles — the overflow buckets reopen
    the untried side of the domain and the bisection converges."""
    from pyspark.sql import functions as SF

    probs = [0.25, 0.5, 1.0]
    fake_calls = {"n": 0}

    def fake_approx_percentile(col, percs, acc):
        fake_calls["n"] += 1
        return SF.array(*[SF.min(col) for _ in range(2 * len(probs))])

    monkeypatch.setattr(SF, "approx_percentile", fake_approx_percentile)
    df = spark.createDataFrame([(float(i),) for i in range(101)], "v double")
    out = {
        r["__p"]: r["__q"]
        for r in __import__(
            "skoltexter_by_ai_spark.operators.quantiles", fromlist=["x"]
        ).grouped_exact_quantiles(
            df, [], F.col("v").cast("long"), probs
        ).collect()
    }
    assert fake_calls["n"] == 1  # the sabotage actually took effect
    assert out == {0.25: 25.0, 0.5: 50.0, 1.0: 100.0}


def test_seeded_bisection_closes_in_one_pass(spark, grid_df):
    """Perf regression pin: on a cents-grid column the GK-seeded
    candidate ranges must close in a SINGLE histogram pass (the 100 TB
    cost model budgeted in SCALING.md). Unseeded from [min, max] the
    same data needs two."""
    import skoltexter_by_ai_spark.operators.quantiles as q

    q.LAST_PASS_COUNTS.clear()
    exact_quantile_bounds(grid_df, "v", ["g"], [0.05, 0.5, 0.95]).collect()
    assert q.LAST_PASS_COUNTS[-1] == 1
    q.LAST_PASS_COUNTS.clear()
    grouped_exact_quantiles(
        grid_df,
        ["g"],
        F.round(F.col("v") * 100).cast("long"),
        [0.5],
        seed_accuracy=None,
    ).collect()
    assert q.LAST_PASS_COUNTS[-1] == 2


def test_robust_zscore_fused_equals_generic_property(spark):
    """The one-scan fused median+MAD must be row-identical to the
    generic two-round bisection on random shapes: duplicates,
    negatives, NULLs, odd/even group sizes, singletons."""
    hypothesis = pytest.importorskip("hypothesis")
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.sampled_from(["A", "B", None]),
                st.one_of(st.none(), st.integers(-10**6, 10**6).map(lambda c: c / 100.0)),
            ),
            min_size=1,
            max_size=50,
        )
    )
    def check(rows):
        df = spark.createDataFrame(rows, "g string, v double")
        cols = ["g", "v", "grp_median", "grp_mad", "robust_z"]
        a = [
            tuple(r)
            for r in robust_zscore(df, "v", "g", fused=True)
            .select(cols)
            .orderBy("g", "v")
            .collect()
        ]
        b = [
            tuple(r)
            for r in robust_zscore(df, "v", "g", fused=False)
            .select(cols)
            .orderBy("g", "v")
            .collect()
        ]
        assert a == b

    check()


def test_robust_zscore_fused_sabotaged_sketch_falls_back(spark, monkeypatch):
    """A garbage GK sketch must never produce a wrong answer: the
    fused path's completeness probe detects the miss and the generic
    two-round bisection reruns (visible as LAST_PASS_COUNTS growth)."""
    from pyspark.sql import functions as SF

    import skoltexter_by_ai_spark.operators.quantiles as q

    real = SF.approx_percentile

    def fake_approx_percentile(col, percs, acc):
        # Collapse every bracket onto the group minimum: the median
        # window misses the true median for any non-constant group.
        import pyspark.sql.functions as SF2

        n = 6  # grouped_median_mad's fixed prob count
        return SF2.array(*[SF2.min(col) for _ in range(n)])

    monkeypatch.setattr(SF, "approx_percentile", fake_approx_percentile)
    df = spark.createDataFrame(
        [("A", float(i)) for i in range(1, 102)], "g string, v double"
    )
    q.LAST_PASS_COUNTS.clear()
    rows = robust_zscore(df, "v", "g").select("v", "grp_median", "grp_mad", "robust_z").collect()
    med = {r.v: (r.grp_median, r.grp_mad, r.robust_z) for r in rows}
    assert med[51.0] == (51.0, 25.0, 0.0)
    assert med[101.0] == (51.0, 25.0, 2.0)
    # The generic fallback actually ran (two bisection rounds appended).
    assert len(q.LAST_PASS_COUNTS) == 2


def test_probs_validation_rejects_out_of_range(spark):
    df = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(ValueError, match=r"within \[0, 1\]"):
        grouped_exact_quantiles(df, [], F.col("v").cast("long"), [1.5]).collect()


def test_overflow_reopen_boundary_pass_count(spark, monkeypatch):
    """Mutation pin for the overflow-high reopen bound: when the seed
    bracket tops out one BELOW the true target, the reopened range must
    start at exactly hi+1 so the target closes on the very next pass
    (2 total). A looser bound (hi+2) still converges — the overflow
    buckets self-correct — but costs an extra pass, which this pins."""
    from pyspark.sql import functions as SF

    import skoltexter_by_ai_spark.operators.quantiles as q

    def fake_approx_percentile(col, percs, acc):
        # Both brackets collapse onto the minimum (0): the p=0.01
        # target (value 1) sits at EXACTLY bracket-hi + 1.
        return SF.array(*[SF.min(col) for _ in range(2)])

    monkeypatch.setattr(SF, "approx_percentile", fake_approx_percentile)
    df = spark.createDataFrame([(float(i),) for i in range(101)], "v double")
    q.LAST_PASS_COUNTS.clear()
    out = {
        r["__p"]: r["__q"]
        for r in grouped_exact_quantiles(
            df, [], F.col("v").cast("long"), [0.01]
        ).collect()
    }
    assert out == {0.01: 1.0}
    assert q.LAST_PASS_COUNTS == [2]
    q.LAST_PASS_COUNTS.clear()


def test_fused_happy_path_never_falls_back(spark):
    """Mutation pin for the fused median+MAD internals (window ids,
    completeness probe): on clean data the fused path must succeed
    WITHOUT the generic bisection fallback — any internal mix-up
    trips the probe and shows up here as LAST_PASS_COUNTS growth."""
    import skoltexter_by_ai_spark.operators.quantiles as q

    df = spark.createDataFrame(
        [("A", float(i)) for i in range(1, 102)]
        + [("B", float(i)) for i in range(10)],
        "g string, v double",
    )
    q.LAST_PASS_COUNTS.clear()
    rows = robust_zscore(df, "v", "g", fused=True).select(
        "g", "v", "grp_median", "grp_mad"
    ).collect()
    m = {(r.g, r.v): (r.grp_median, r.grp_mad) for r in rows}
    assert m[("A", 51.0)] == (51.0, 25.0)
    assert m[("B", 0.0)] == (4.5, 2.5)
    assert q.LAST_PASS_COUNTS == []  # fused really took the fused path


def test_fused_constant_group_closes_in_window(spark):
    """Mutation pin for the bucket-0 candidate boundary: a CONSTANT
    group collapses both selection windows to a single bucket — bucket
    id 0 — so any off-by-one that excludes the first bucket silently
    degrades the whole fused pass to the generic fallback."""
    import skoltexter_by_ai_spark.operators.quantiles as q

    df = spark.createDataFrame(
        [("A", 7.0)] * 20 + [("B", float(i)) for i in range(1, 11)],
        "g string, v double",
    )
    q.LAST_PASS_COUNTS.clear()
    rows = robust_zscore(df, "v", "g", fused=True).select(
        "g", "v", "grp_median", "grp_mad", "robust_z"
    ).collect()
    m = {(r.g, r.v): (r.grp_median, r.grp_mad, r.robust_z) for r in rows}
    assert m[("A", 7.0)] == (7.0, 0.0, None)  # zero MAD -> NULL z
    assert m[("B", 3.0)] == (5.5, 2.5, -1.0)
    assert q.LAST_PASS_COUNTS == []  # closed inside the seeded windows
