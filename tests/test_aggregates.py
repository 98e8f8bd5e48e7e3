"""Aggregate/table constraints vs pandas oracle."""

from __future__ import annotations

import pandas as pd
import pytest

from data_profiler_spark.core.suite import ConstraintSuite
from data_profiler_spark.validator import Validator


@pytest.fixture(scope="module")
def pdf(typed_small) -> pd.DataFrame:
    return typed_small.toPandas()


def test_fused_suite_aggregates(typed_small, pdf):
    """All aggregate constraints resolve from ONE fused pass. ``floats``
    holds a NaN, which reads as NULL (pandas skipna). With ``None`` bounds
    each one only observes: it passes and records the same value."""
    for col in ("ints", "floats"):
        nn = pdf[col].dropna()
        tol = 1e-6
        suite = (
            ConstraintSuite("agg")
            .add("expect_column_min_to_be_between", column=col,
                 min_value=nn.min(), max_value=nn.min())
            .add("expect_column_max_to_be_between", column=col,
                 min_value=nn.max(), max_value=nn.max())
            .add("expect_column_mean_to_be_between", column=col,
                 min_value=nn.mean() - 0.01, max_value=nn.mean() + 0.01)
            .add("expect_column_median_to_be_between", column=col,
                 min_value=nn.median(), max_value=nn.median())
            .add("expect_column_stdev_to_be_between", column=col,
                 min_value=nn.std(ddof=1) - 0.01, max_value=nn.std(ddof=1) + 0.01)
            .add("expect_column_sum_to_be_between", column=col,
                 min_value=nn.sum() - tol, max_value=nn.sum() + tol)
            .add("expect_column_unique_value_count_to_be_between", column=col,
                 min_value=nn.nunique(), max_value=nn.nunique())
            .add("expect_table_row_count_to_equal", value=30)
        )
        res = Validator(typed_small).validate(suite)
        by_type = {r.constraint_type: r for r in res.results}
        for t, r in by_type.items():
            assert r.success, (col, t, r.observed_value, r.exception_info)
        observed = {t: r.observed_value for t, r in by_type.items()}
        assert observed["expect_column_mean_to_be_between"] == pytest.approx(nn.mean())
        assert observed["expect_column_median_to_be_between"] == pytest.approx(nn.median())
        assert observed["expect_column_stdev_to_be_between"] == pytest.approx(nn.std(ddof=1))
        open_suite = ConstraintSuite("observe").add(
            "expect_table_row_count_to_be_between", min_value=None, max_value=None
        )
        for c in suite.constraints[:-1]:
            open_suite.add(c.type, column=col, min_value=None, max_value=None)
        res = Validator(typed_small).validate(open_suite)
        assert all(r.success for r in res.results), col
        observed["expect_table_row_count_to_be_between"] = observed.pop(
            "expect_table_row_count_to_equal"
        )
        assert {r.constraint_type: r.observed_value for r in res.results} == (
            pytest.approx(observed)
        )


def test_quantiles_exact(typed_small, pdf):
    r = Validator(typed_small).expect(
        "expect_column_quantile_values_to_be_between",
        column="floats",
        quantile_ranges={
            "quantiles": [0.25, 0.5, 0.75],
            "value_ranges": [[None, None], [None, None], [None, None]],
        },
        exact=True,
    )
    assert r.success is True
    vals = r.observed_value["values"]
    assert len(vals) == 3
    # the approximate path with open ranges only observes, too
    qs = [0.05, 0.25, 0.5, 0.75, 0.95]
    r = Validator(typed_small).expect(
        "expect_column_quantile_values_to_be_between",
        column="ints",
        quantile_ranges={"quantiles": qs, "value_ranges": [[None, None]] * 5},
    )
    assert r.success is True
    assert r.observed_value == {"quantiles": qs, "values": [1, 3, 5, 8, 10]}


def test_unique_proportion(typed_small, pdf):
    for col in ("ints", "floats"):
        nn = pdf[col].dropna()
        expected = nn.nunique() / len(nn)
        r = Validator(typed_small).expect(
            "expect_column_proportion_of_unique_values_to_be_between",
            column=col, min_value=expected - 1e-9, max_value=expected + 1e-9,
        )
        assert r.success is True, col
        assert r.observed_value == pytest.approx(expected)


def test_nan_reads_as_null(spark):
    """A NaN is a NULL to every column aggregate, as to pandas: the median
    of [1, 2, NaN] is 1.5 and [1, 2, NaN, NULL, 2] has 2 distinct values."""
    nan = float("nan")
    v = Validator(spark.createDataFrame([(1.0,), (2.0,), (nan,), (None,), (2.0,)], "x double"))
    median = v.expect("expect_column_median_to_be_between", column="x", max_value=9)
    distinct = v.expect("expect_column_unique_value_count_to_be_between", column="x")
    assert median.observed_value == pytest.approx(pd.Series([1.0, 2.0, nan, 2.0]).median())
    assert distinct.observed_value == 2 == pd.Series([1.0, 2.0, nan, None, 2.0]).nunique()
    v = Validator(spark.createDataFrame([(1.0,), (2.0,), (nan,)], "x double"))
    median = v.expect("expect_column_median_to_be_between", column="x", max_value=9)
    assert median.observed_value == 1.5


def test_nan_satisfies_no_bound(spark):
    """An observed NaN fails every bound, strict or not: the mean and sum
    of [inf, -inf, 1] are NaN even with NaN masked. On [1, 2, NaN, NULL]
    the NaN is masked, so each aggregate is a number and the check is a
    real one."""
    inf, nan = float("inf"), float("nan")
    v = Validator(spark.createDataFrame([(inf,), (-inf,), (1.0,)], "x double"))
    for t in ("mean", "sum"):
        for strict in (False, True):
            r = v.expect(f"expect_column_{t}_to_be_between", column="x",
                         min_value=100, max_value=200, strict_min=strict, strict_max=strict)
            assert r.observed_value != r.observed_value, t  # NaN
            assert r.success is False, (t, strict)
        for bounds in ({"min_value": 100}, {"max_value": 200}):
            r = v.expect(f"expect_column_{t}_to_be_between", column="x", **bounds)
            assert r.success is False, (t, bounds)
    v = Validator(spark.createDataFrame([(1.0,), (2.0,), (nan,), (None,)], "x double"))
    want = {"mean": 1.5, "max": 2.0, "sum": 3.0, "stdev": 2 ** -0.5}
    for t, value in want.items():
        r = v.expect(f"expect_column_{t}_to_be_between", column="x",
                     min_value=100, max_value=200)
        assert r.observed_value == pytest.approx(value), t
        assert r.success is False, t


def test_most_common(typed_small):
    r = Validator(typed_small).expect(
        "expect_column_most_common_value_to_be_in_set",
        column="cat", value_set=["a"],
    )
    # reference semantics: observed value is the FULL argmax set
    # (column_most_common_value.py:33-45), not one arbitrary mode
    assert r.success is True and r.observed_value == ["a"]


def test_most_common_ties(spark):
    df = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("b",), ("c",)], ["cat"]
    )
    v = Validator(df)
    # tied modes {a, b}: default requires ALL in set
    r = v.expect(
        "expect_column_most_common_value_to_be_in_set",
        column="cat", value_set=["a"],
    )
    assert r.success is False and r.observed_value == ["a", "b"]
    # ties_okay: ANY tied mode in set passes
    r2 = v.expect(
        "expect_column_most_common_value_to_be_in_set",
        column="cat", value_set=["a"], ties_okay=True,
    )
    assert r2.success is True


def test_most_common_truncation_cap(spark):
    """ADVICE r2: an all-unique column ties every value at count 1 — the
    mode-set collect must stay bounded (max_modes) and fail closed."""
    df = spark.range(500).selectExpr("cast(id as string) AS v")
    r = Validator(df).expect(
        "expect_column_most_common_value_to_be_in_set",
        column="v", value_set=[str(i) for i in range(500)], max_modes=50,
    )
    assert len(r.observed_value) == 50
    assert r.details.get("mode_set_truncated") is True
    assert r.success is False  # can't prove ALL modes in set from a sample
    # ties_okay still passes from the sample
    r2 = Validator(df).expect(
        "expect_column_most_common_value_to_be_in_set",
        column="v", value_set=["0"], ties_okay=True, max_modes=50,
    )
    assert r2.success is True


def test_distinct_sets(typed_small):
    v = Validator(typed_small)
    assert v.expect(
        "expect_column_distinct_values_to_be_in_set",
        column="cat", value_set=["a", "b", "c", "d"],
    ).success
    assert v.expect(
        "expect_column_distinct_values_to_equal_set",
        column="cat", value_set=["a", "b", "c"],
    ).success
    assert v.expect(
        "expect_column_distinct_values_to_contain_set",
        column="cat", value_set=["a", "b"],
    ).success
    assert not v.expect(
        "expect_column_distinct_values_to_equal_set",
        column="cat", value_set=["a", "b"],
    ).success
    # no set: observe-only, the distinct values are recorded
    r = v.expect(
        "expect_column_distinct_values_to_be_in_set", column="cat", value_set=None
    )
    assert r.success is True and r.observed_value == ["a", "b", "c"]


def test_table_shape(typed_small):
    v = Validator(typed_small)
    columns = ["ints", "floats", "strings", "dates", "cat", "pair_a", "pair_b"]
    assert v.expect("expect_table_column_count_to_equal", value=7).success
    assert v.expect(
        "expect_table_columns_to_match_ordered_list", column_list=columns
    ).success
    # no list: observe-only, the columns are recorded in order
    r = v.expect("expect_table_columns_to_match_ordered_list", column_list=None)
    assert r.success is True and r.observed_value == columns
    assert v.expect(
        "expect_table_columns_to_match_set",
        column_set=["cat", "ints", "floats", "strings", "dates", "pair_a", "pair_b"],
    ).success
    assert v.expect("expect_column_to_exist", column="cat").success
    assert not v.expect("expect_column_to_exist", column="nope").success


def test_row_count_other_table(typed_small, spark):
    other = spark.range(30)
    r = Validator(typed_small, tables={"other": other}).expect(
        "expect_table_row_count_to_equal_other_table", other_table_name="other"
    )
    assert r.success is True
    assert r.observed_value == {"self": 30, "other": 30}


def test_column_types(typed_small):
    v = Validator(typed_small)
    assert v.expect(
        "expect_column_values_to_be_of_type", column="ints", type_="IntegerType"
    ).success
    assert not v.expect(
        "expect_column_values_to_be_of_type", column="ints", type_="StringType"
    ).success
    assert v.expect(
        "expect_column_values_to_be_in_type_list",
        column="floats", type_list=["DoubleType", "FloatType"],
    ).success


def test_grouped_validation(typed_small, pdf):
    """Per-group verdicts from one fused pass (the per-partition model)."""
    suite = ConstraintSuite("g").add(
        "expect_column_values_to_not_be_null", column="ints"
    )
    res = Validator(typed_small).validate(suite, group_by=["cat"])
    assert len(res.results) == 3
    by_group = {r.group["cat"]: r for r in res.results}
    oracle = pdf.groupby("cat")["ints"].apply(lambda s: s.isna().sum())
    for g in ["a", "b", "c"]:
        assert by_group[g].unexpected_count == int(oracle[g])


def test_most_common_ties_okay_truncated_probe(spark):
    """ADVICE r3: with ties_okay=True and a truncated mode set, an in-set
    mode sorting AFTER the cap must still pass (exact distributed probe,
    not the 50-row sample)."""
    df = spark.range(200).selectExpr("concat('a', lpad(id, 3, '0')) AS v")
    df = df.union(spark.createDataFrame([("zzz",)], "v string"))
    # all 201 values tied at count 1; sample of 50 sorted ascending misses
    # "zzz"
    r = Validator(df).expect(
        "expect_column_most_common_value_to_be_in_set",
        column="v", value_set=["zzz"], ties_okay=True, max_modes=50,
    )
    assert r.details.get("mode_set_truncated") is True
    assert r.success is True  # was a false failure before the probe
    # and a set that truly contains NO tied mode still fails
    r2 = Validator(df).expect(
        "expect_column_most_common_value_to_be_in_set",
        column="v", value_set=["missing"], ties_okay=True, max_modes=50,
    )
    assert r2.success is False
    # truncation hints name the unlocking knob (VERDICT r3 #10)
    assert "max_modes" in r2.details.get("hint", "")


def test_grouped_non_numeric_mean_fails_per_group(spark):
    """A numeric aggregate over a string column fails at compile: one failed
    verdict per group, naming the column."""
    df = spark.createDataFrame([("g1", "a"), ("g1", "b"), ("g2", "c")], ["g", "s"])
    res = Validator(df).validate(
        ConstraintSuite("nn").add("expect_column_mean_to_be_between", column="s", min_value=0),
        group_by=["g"],
    )
    assert sorted(r.group["g"] for r in res.results) == ["g1", "g2"]
    for r in res.results:
        assert r.success is False and r.observed_value is None
        assert r.exception_info == "compile error: TypeError: column 's' is not numeric (string)"
