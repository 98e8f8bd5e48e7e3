"""Single-pass profiler vs pandas oracle."""

from __future__ import annotations

import numpy as np
import pytest

from data_profiler_spark.operators.profile import profile, profiles_to_rows


def test_profile_typed_small(typed_small):
    pdf = typed_small.toPandas()
    (tp,) = profile(
        typed_small,
        columns=["ints", "floats", "cat"],
        categorical_columns=["cat"],
        approx_distinct=False,
        hist_bins=5,
    )
    ints = tp.columns["ints"]
    nn = pdf["ints"].dropna()
    assert ints.row_count == 30
    assert ints.null_count == 2
    assert ints.approx_distinct == nn.nunique()
    assert ints.min_v == pytest.approx(nn.min())
    assert ints.max_v == pytest.approx(nn.max())
    assert ints.mean_v == pytest.approx(nn.mean())
    assert ints.stddev_v == pytest.approx(nn.std(ddof=1))
    assert len(ints.quantiles) == 5
    # histogram: 5 equi-width bins over [min, max], weights sum to 1
    assert len(ints.hist_bins) == 6
    assert sum(ints.hist_weights) == pytest.approx(1.0)
    counts, _ = np.histogram(nn, bins=ints.hist_bins)
    assert ints.hist_weights == pytest.approx(list(counts / counts.sum()))

    # floats holds one NaN: a NULL to the profile, as to pandas
    floats = tp.columns["floats"]
    assert floats.null_count == pdf["floats"].isna().sum() == 1
    assert floats.approx_distinct == pdf["floats"].nunique()
    assert floats.max_v == pytest.approx(pdf["floats"].max())

    cat = tp.columns["cat"]
    assert cat.top_k is not None
    assert cat.top_k[0] == {"value": "a", "count": 12}
    assert {t["value"]: t["count"] for t in cat.top_k} == {"a": 12, "b": 10, "c": 8}


def test_profile_string_length(typed_small):
    """String columns are profiled on length() — the north-rule
    content-length distribution."""
    pdf = typed_small.toPandas()
    (tp,) = profile(typed_small, columns=["strings"], approx_distinct=False)
    s = tp.columns["strings"]
    lens = pdf["strings"].str.len()
    assert s.is_length_profile
    assert s.mean_v == pytest.approx(lens.mean())
    assert s.min_v == pytest.approx(lens.min())


def test_profile_grouped(typed_small):
    pdf = typed_small.toPandas()
    tps = profile(
        typed_small, columns=["ints"], group_by=["cat"], approx_distinct=False, hist_bins=0
    )
    assert len(tps) == 3
    by_g = {tp.group["cat"]: tp for tp in tps}
    for g, sub in pdf.groupby("cat"):
        assert by_g[g].columns["ints"].row_count == len(sub)
        nn = sub["ints"].dropna()
        if len(nn):
            assert by_g[g].columns["ints"].mean_v == pytest.approx(nn.mean())


def test_baseline_roundtrip(typed_small):
    """Profile sketch feeds the drift constraint directly."""
    from data_profiler_spark.validator import Validator

    (tp,) = profile(
        typed_small, columns=["cat"], categorical_columns=["cat"], approx_distinct=False
    )
    baseline = tp.columns["cat"].as_baseline()
    r = Validator(typed_small).expect(
        "expect_column_distribution_to_match_baseline",
        column="cat", baseline=baseline, p=0.05,
    )
    assert r.success is True  # identical distribution, p == 1


def test_profiles_to_rows(typed_small):
    tps = profile(typed_small, columns=["ints"], approx_distinct=False)
    rows = profiles_to_rows(tps, run_id="r1", suite_id="s1")
    assert len(rows) == 1
    assert rows[0]["column_name"] == "ints"
    assert rows[0]["row_count"] == 30


def test_auto_bin_count_matches_numpy():
    """VERDICT r1 #7: Sturges/FD/auto estimators must agree with
    numpy.histogram_bin_edges given the same summary stats."""
    import numpy as np

    from data_profiler_spark.operators.profile import auto_bin_count

    rng = np.random.default_rng(42)
    for data in [
        rng.normal(50, 10, size=1000),
        rng.exponential(3.0, size=257),
        rng.uniform(0, 1, size=64),
    ]:
        lo, hi = float(data.min()), float(data.max())
        q75, q25 = np.percentile(data, [75, 25])
        iqr = float(q75 - q25)
        n = len(data)
        for method in ["auto", "sturges", "fd"]:
            want = len(np.histogram_bin_edges(data, bins=method)) - 1
            got = auto_bin_count(n, lo, hi, iqr, method=method)
            assert got == want, (method, n, got, want)
    # degenerate: IQR 0 -> auto falls back to sturges (numpy rule)
    const = np.concatenate([np.zeros(95), np.ones(5) * 10])
    want = len(np.histogram_bin_edges(const, bins="auto")) - 1
    assert auto_bin_count(100, 0.0, 10.0, 0.0, "auto") == want


def test_profile_auto_bins_and_fused_topk(spark):
    import pyspark.sql.types as T

    from data_profiler_spark.operators.profile import profile

    rows = [(float(i % 100), ["x", "y", "z"][i % 3], ["a", "b"][i % 2]) for i in range(500)]
    df = spark.createDataFrame(rows, "v double, c1 string, c2 string")
    profs = profile(
        df, columns=["v"], categorical_columns=["c1", "c2"], hist_bins="auto",
        quantiles=[0.25, 0.5, 0.75],
    )
    cp = profs[0].columns["v"]
    assert cp.hist_bins is not None and len(cp.hist_bins) >= 8  # auto >> 1
    assert abs(sum(cp.hist_weights) - 1.0) < 1e-9
    # both categorical columns got top-k from the single fused job
    t1 = profs[0].columns["c1"].top_k
    t2 = profs[0].columns["c2"].top_k
    assert {t["value"] for t in t1} == {"x", "y", "z"}
    assert {t["value"] for t in t2} == {"a", "b"}
    assert t1[0]["count"] >= t1[-1]["count"]


def test_profile_deferred_histograms(spark):
    from data_profiler_spark.operators.profile import profile

    df = spark.createDataFrame(
        [(float(i), ["a", "b"][i % 2]) for i in range(100)], "v double, c string"
    )
    profs, finish = profile(
        df, columns=["v"], categorical_columns=["c"], hist_bins=5,
        defer_histograms=True,
    )
    cp = profs[0].columns["v"]
    assert cp.hist_bins is None          # pass 2 not run yet
    assert cp.min_v == 0.0 and cp.max_v == 99.0
    assert profs[0].columns["c"].top_k   # top-k already there
    finish()                             # runs the deferred pass, fills in place
    assert len(cp.hist_bins) == 6
    assert abs(sum(cp.hist_weights) - 1.0) < 1e-9


# ---------------------------------------------------------------------------
# Multi-run profile diffing (NEW r6: SURVEY §2.9 "baseline profile rows")
# ---------------------------------------------------------------------------


def _diff_rows(col_a, col_b, **overrides):
    """Two single-column sketch-row dicts for profile_compare."""
    base = {
        "group_json": "{}",
        "row_count": 100,
        "null_count": 0,
        "approx_distinct": 10,
        "min_v": None, "max_v": None, "mean_v": None, "stddev_v": None,
        "quantiles": None, "hist_bins": None, "hist_weights": None,
        "top_k_json": None,
    }
    a = {**base, "column_name": "x", **col_a}
    b = {**base, "column_name": "x", **col_b}
    return [a], [b]


def test_profile_compare_ks_identical_bins_matches_hist_ks():
    """Identical bin edges: the interpolated-CDF KS reduces exactly to
    stats.ks_2samp_from_hist (boundary CDFs coincide)."""
    from data_profiler_spark.functions import stats
    from data_profiler_spark.operators.profile_diff import profile_compare

    bins = [0.0, 1.0, 2.0, 3.0, 4.0]
    wa = [0.1, 0.2, 0.3, 0.4]
    wb = [0.4, 0.3, 0.2, 0.1]
    a, b = _diff_rows(
        {"hist_bins": bins, "hist_weights": wa, "row_count": 200},
        {"hist_bins": bins, "hist_weights": wb, "row_count": 300},
    )
    (ks,) = [r for r in profile_compare(a, b) if r["test"] == "ks_hist"]
    d_ref, p_ref = stats.ks_2samp_from_hist(wa, wb, 200, 300)
    assert ks["stat"] == pytest.approx(d_ref, abs=1e-12)
    assert ks["p_value"] == pytest.approx(p_ref, abs=1e-12)
    assert ks["drift"] == (p_ref <= 0.05)


def test_profile_compare_ks_differing_bins_interpolates():
    """Differing edges: same underlying uniform distribution sketched at
    different granularities -> D ~ 0; a shifted distribution -> clear
    drift. This is the path the SQL oracle can't express."""
    from data_profiler_spark.operators.profile_diff import profile_compare

    a, b = _diff_rows(
        {"hist_bins": [0.0, 2.0, 4.0], "hist_weights": [0.5, 0.5],
         "row_count": 500},
        {"hist_bins": [0.0, 1.0, 2.0, 3.0, 4.0],
         "hist_weights": [0.25, 0.25, 0.25, 0.25], "row_count": 500},
    )
    (same,) = [r for r in profile_compare(a, b) if r["test"] == "ks_hist"]
    assert same["stat"] == pytest.approx(0.0, abs=1e-12)
    assert not same["drift"]

    a, b = _diff_rows(
        {"hist_bins": [0.0, 1.0, 2.0], "hist_weights": [1.0, 0.0],
         "row_count": 500},
        {"hist_bins": [0.5, 1.5, 2.5], "hist_weights": [0.0, 1.0],
         "row_count": 500},
    )
    (shift,) = [r for r in profile_compare(a, b) if r["test"] == "ks_hist"]
    assert shift["stat"] > 0.7 and shift["drift"]


def test_profile_compare_chi2_and_scalars_and_presence():
    import json

    from data_profiler_spark.functions import stats
    from data_profiler_spark.operators.profile_diff import profile_compare

    a, b = _diff_rows(
        {
            "top_k_json": json.dumps(
                [{"value": "x", "count": 50}, {"value": "y", "count": 40}]
            ),
            "row_count": 100, "null_count": 10,
            "mean_v": 10.0, "stddev_v": 2.0, "approx_distinct": 10,
        },
        {
            "top_k_json": json.dumps(
                [{"value": "y", "count": 70}, {"value": "z", "count": 20}]
            ),
            "row_count": 100, "null_count": 0,
            "mean_v": 14.0, "stddev_v": 2.0, "approx_distinct": 15,
        },
    )
    by = {r["test"]: r for r in profile_compare(a, b)}
    # chi2 over union {x,y,z} + tail (90-90=0 / 100-90=10)
    stat_ref, p_ref, dof = stats.chi2_contingency(
        [[50, 40, 0, 0], [0, 70, 20, 10]]
    )
    assert by["chi2_topk"]["stat"] == pytest.approx(stat_ref)
    assert by["chi2_topk"]["p_value"] == pytest.approx(p_ref)
    assert by["chi2_topk"]["drift"]
    assert by["null_fraction"]["stat"] == pytest.approx(0.1)
    assert by["distinct_delta"]["stat"] == pytest.approx(0.5)
    assert by["mean_shift"]["stat"] == pytest.approx(4.0 / 2.0)

    # presence: a column existing in only one run is itself a drift verdict
    b2 = [dict(b[0], column_name="renamed")]
    tests = {(r["column_name"], r["test"]): r for r in profile_compare(a, b2)}
    assert tests[("x", "presence")]["drift"]
    assert tests[("renamed", "presence")]["drift"]


def test_profile_store_roundtrip_and_compare(spark, typed_small, tmp_path):
    """End to end on the real profiler + store: two halves of typed_small,
    sketches persisted, compared from the STORE (no re-profiling)."""
    from data_profiler_spark.operators.profile_diff import (
        ProfileStore,
        compare_profile_runs,
    )

    store = ProfileStore(spark, str(tmp_path / "profiles"))
    halves = [
        typed_small.where("pair_a <= 1"),
        typed_small.where("pair_a > 1"),
    ]
    for run_id, half in zip(("run_a", "run_b"), halves):
        tps = profile(
            half, columns=["ints", "cat"], categorical_columns=["cat"],
            approx_distinct=False, hist_bins=5,
        )
        store.append_profiles(tps, run_id, "halves")

    v = compare_profile_runs(store, "run_a", "run_b")
    rows = {(r["column_name"], r["test"]): r for r in v.collect()}
    assert ("cat", "chi2_topk") in rows
    assert ("ints", "ks_hist") in rows
    assert rows[("ints", "null_fraction")]["stat"] is not None
    # verdicts DataFrame has the documented schema
    assert set(v.columns) == {
        "group_json", "column_name", "test", "stat", "p_value", "drift",
        "detail_json",
    }
