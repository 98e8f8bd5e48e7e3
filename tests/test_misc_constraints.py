"""LIKE patterns, evaluation parameters, splitter determinism."""

from __future__ import annotations

from data_profiler_spark.core.suite import ConstraintSuite
from data_profiler_spark.validator import Validator


def test_like_pattern(typed_small):
    r = Validator(typed_small).expect(
        "expect_column_values_to_match_like_pattern", column="cat", like_pattern="a%"
    )
    assert r.unexpected_count == 18  # b x10 + c x8
    r2 = Validator(typed_small).expect(
        "expect_column_values_to_not_match_like_pattern", column="cat", like_pattern="z%"
    )
    assert r2.success is True


def test_evaluation_parameters(typed_small):
    suite = ConstraintSuite("p").add(
        "expect_table_row_count_to_equal", value={"$PARAMETER": "expected_rows"}
    )
    res = Validator(
        typed_small, evaluation_parameters={"expected_rows": 30}
    ).validate(suite)
    assert res.results[0].success is True

    res2 = Validator(
        typed_small, evaluation_parameters={"expected_rows": 31}
    ).validate(suite)
    assert res2.results[0].success is False

    # unresolved parameter -> captured as exception_info, not a crash
    res3 = Validator(typed_small).validate(suite)
    assert res3.results[0].success is False


def test_mutated_evaluation_parameters_bust_compile_cache(typed_small):
    # the compile memo key must include the RESOLVED parameter values:
    # mutating ctx['evaluation_parameters'] between validate() calls on the
    # SAME validator must not return a stale plan (ADVICE r4)
    suite = ConstraintSuite("p3").add(
        "expect_table_row_count_to_equal", value={"$PARAMETER": "expected_rows"}
    )
    v = Validator(typed_small, evaluation_parameters={"expected_rows": 30})
    assert v.validate(suite).results[0].success is True
    v.ctx["evaluation_parameters"]["expected_rows"] = 31
    assert v.validate(suite).results[0].success is False
    # and an unresolved-parameter failed compile isn't sticky either
    del v.ctx["evaluation_parameters"]["expected_rows"]
    assert v.validate(suite).results[0].success is False
    v.ctx["evaluation_parameters"]["expected_rows"] = 30
    assert v.validate(suite).results[0].success is True


def test_unresolved_parameter_is_failure(typed_small):
    suite = ConstraintSuite("p2").add(
        "expect_column_min_to_be_between",
        column="ints",
        min_value={"$PARAMETER": "nope"},
    )
    res = Validator(typed_small).validate(suite)
    assert res.results[0].success is False


def test_zero_term_constraint_grouped_emits_per_group_verdicts(typed_small):
    """ADVICE r1 (high): constraints with no agg terms (schema checks,
    compile failures) must yield one verdict PER GROUP under grouped
    validation — not zero results / vacuous success."""
    from data_profiler_spark.core.suite import ConstraintSuite
    from data_profiler_spark.validator import Validator

    suite = ConstraintSuite("schema_only").add(
        "expect_table_columns_to_match_ordered_list",
        column_list=["definitely", "wrong", "columns"],
    )
    res = Validator(typed_small).validate(suite, group_by=["cat"])
    assert len(res.results) == 3  # cat in {a, b, c}
    assert all(r.success is False for r in res.results)
    assert res.success is False

    # a misspelled constraint type lowers to a failed-compile verdict per group
    bad = ConstraintSuite("typo").add("expect_column_values_to_be_nul", column="ints")
    res2 = Validator(typed_small).validate(bad, group_by=["cat"])
    assert len(res2.results) == 3
    assert all(not r.success and r.exception_info for r in res2.results)


def test_zscore_grouped_empty_input_is_vacuous(spark):
    """ADVICE r1 (medium): empty grouped input must not crash createDataFrame."""
    from data_profiler_spark.core.suite import ConstraintSuite
    from data_profiler_spark.validator import Validator

    df = spark.createDataFrame([], "cat string, x double").where("1=0")
    suite = ConstraintSuite("z").add(
        "expect_column_value_z_scores_to_be_less_than", column="x", threshold=2.0
    )
    res = Validator(df).validate(suite, group_by=["cat"])
    assert res.success is True  # no groups -> no verdicts -> vacuous
    assert res.results == []


def test_uniqueness_scope_chunk_independent(spark):
    """A group's uniqueness verdict is a pure function of its own rows —
    identical whether validated alone or together with other groups."""
    from data_profiler_spark.core.suite import ConstraintSuite
    from data_profiler_spark.validator import Validator

    rows = [
        ("p0", "k1"), ("p0", "k1"),     # dup within p0
        ("p1", "k2"), ("p2", "k2"),     # cross-group repeat: NOT a group dup
        ("p1", "k3"),
    ]
    df = spark.createDataFrame(rows, ["pid", "key"])
    suite = ConstraintSuite("u").add(
        "expect_column_values_to_be_unique", column="key"
    )
    full = {
        r.group["pid"]: (r.success, r.unexpected_count)
        for r in Validator(df).validate(suite, group_by=["pid"]).results
    }
    assert full["p0"] == (False, 2)
    assert full["p1"] == (True, 0)   # k2 repeats only across groups
    assert full["p2"] == (True, 0)
    # validating a single group in isolation gives the same verdict
    solo = Validator(df.where("pid = 'p1'")).validate(suite, group_by=["pid"])
    assert {
        r.group["pid"]: (r.success, r.unexpected_count) for r in solo.results
    } == {"p1": full["p1"]}


def test_like_pattern_lists(spark):
    """ref core set completion: like-pattern lists (match_on any/all) and
    the deprecated multicolumn-unique / bootstrapped-KS aliases."""
    from data_profiler_spark.validator import Validator

    df = spark.createDataFrame(
        [("alpha",), ("beta",), ("alphabet",), (None,)], ["s"]
    )
    v = Validator(df)
    r = v.expect(
        "expect_column_values_to_match_like_pattern_list",
        column="s", like_pattern_list=["alpha%", "%eta"],
    )
    assert r.unexpected_count == 0 and r.success is True
    r2 = v.expect(
        "expect_column_values_to_match_like_pattern_list",
        column="s", like_pattern_list=["alpha%", "%bet"], match_on="all",
    )
    assert r2.unexpected_count == 2  # only 'alphabet' matches both
    r3 = v.expect(
        "expect_column_values_to_not_match_like_pattern_list",
        column="s", like_pattern_list=["%bet"],
    )
    assert r3.unexpected_count == 1  # alphabet ends with 'bet'


def test_deprecated_aliases(spark, typed_small):
    from data_profiler_spark.validator import Validator

    df = spark.createDataFrame([(1, 2), (3, 3)], ["a", "b"])
    r = Validator(df).expect(
        "expect_multicolumn_values_to_be_unique", column_list=["a", "b"]
    )
    assert r.unexpected_count == 1
    r2 = Validator(typed_small).expect(
        "expect_column_bootstrapped_ks_test_p_value_to_be_greater_than",
        column="floats",
        partition_object={"bins": [0.0, 7.5, 15.0, 22.5, 30.0],
                          "weights": [0.25, 0.25, 0.25, 0.25]},
        p=0.05, bootstrap_samples=1000,
    )
    assert r2.success is True


def test_ge_suite_json_interop(spark, tmp_path):
    """A reference-format ExpectationSuite JSON file loads and validates
    unchanged (expectation_suite.py:45-189 schema)."""
    import json

    from data_profiler_spark.core.suite import ConstraintSuite
    from data_profiler_spark.validator import Validator

    ge = {
        "expectation_suite_name": "orders_quality",
        "expectations": [
            {"expectation_type": "expect_column_values_to_not_be_null",
             "kwargs": {"column": "a", "mostly": 0.5}, "meta": {}},
            {"expectation_type": "expect_column_values_to_be_between",
             "kwargs": {"column": "a", "min_value": 0, "max_value": 10}},
            {"expectation_type": "expect_table_row_count_to_equal",
             "kwargs": {"value": 3}},
        ],
        "meta": {"data_profiler_version": "0.0.0"},
        "evaluation_parameters": {"max_a": 10},
    }
    p = tmp_path / "suite.json"
    p.write_text(json.dumps(ge))
    suite = ConstraintSuite.from_ge_json_file(str(p))
    assert suite.name == "orders_quality"
    assert [c.type for c in suite.constraints] == [
        e["expectation_type"] for e in ge["expectations"]
    ]
    df = spark.createDataFrame([(1,), (5,), (None,)], ["a"])
    res = Validator(df).validate(suite)
    assert all(r.success for r in res.results), [
        (r.constraint_type, r.observed_value) for r in res.results if not r.success
    ]
    # round-trip back to the reference shape
    back = suite.to_ge_dict()
    assert back["expectation_suite_name"] == "orders_quality"
    assert back["evaluation_parameters"] == {"max_a": 10}
    assert back["expectations"][0]["kwargs"] == {"column": "a", "mostly": 0.5}


def test_ge_validation_result_format(typed_small):
    """Round-trip: GE suite JSON in -> GE validation-result dict out."""
    import json

    from data_profiler_spark.validator import Validator

    suite = ConstraintSuite("fmt").add(
        "expect_column_values_to_be_in_set",
        column="cat", value_set=["a", "b"],
    )
    res = Validator(typed_small).validate(suite, result_format="SUMMARY")
    ge = res.to_ge_dict()
    json.dumps(ge)  # fully JSON-serializable
    assert ge["success"] is False
    assert ge["statistics"]["evaluated_expectations"] == 1
    (r,) = ge["results"]
    assert r["expectation_config"]["expectation_type"] == "expect_column_values_to_be_in_set"
    assert r["expectation_config"]["kwargs"]["value_set"] == ["a", "b"]
    assert r["success"] is False
    assert r["result"]["unexpected_count"] == 8  # the 'c' values
    assert r["result"]["partial_unexpected_counts"][0]["value"] == "c"
    assert r["exception_info"]["raised_exception"] is False


def test_experimental_condition_dsl_translation(typed_small):
    """VERDICT r5 #8: GE suites with condition_parser=
    data_profiler__experimental__ (ref row_conditions.py:27-96) run
    unchanged — the three DSL forms translate to Spark SQL; everything
    else fails with a clear ConditionParserError."""
    import pytest

    from data_profiler_spark.operators.map_constraints import (
        ConditionParserError,
        translate_experimental_condition,
    )

    assert translate_experimental_condition('col("x") > 5') == "`x` > 5"
    assert translate_experimental_condition('col("x") >= -1.5e3') == "`x` >= -1.5e3"
    assert (
        translate_experimental_condition('col("a.b") == "lit"') == "`a.b` = 'lit'"
    )
    assert (
        translate_experimental_condition("col(\"x\") == '4.2'") == "`x` = '4.2'"
    )
    assert (
        translate_experimental_condition('col("x").notnull()')
        == "`x` IS NOT NULL"
    )
    with pytest.raises(ConditionParserError, match="unable to parse"):
        translate_experimental_condition('col("x") in (1, 2)')
    with pytest.raises(ConditionParserError, match="Invalid operator"):
        translate_experimental_condition('col("x") > "str"')

    # end to end: a DSL-conditioned suite equals its SQL-conditioned twin
    dsl = ConstraintSuite.from_ge_dict(
        {
            "expectation_suite_name": "dsl",
            "expectations": [
                {
                    "expectation_type": "expect_column_values_to_be_between",
                    "kwargs": {
                        "column": "ints",
                        "min_value": 3,
                        "max_value": 8,
                        "row_condition": 'col("pair_a") > 1',
                        "condition_parser": "data_profiler__experimental__",
                    },
                }
            ],
        }
    )
    sql = ConstraintSuite("sql").add(
        "expect_column_values_to_be_between",
        column="ints", min_value=3, max_value=8, row_condition="pair_a > 1",
    )
    r_dsl = Validator(typed_small).validate(dsl).results[0]
    r_sql = Validator(typed_small).validate(sql).results[0]
    assert (r_dsl.element_count, r_dsl.unexpected_count, r_dsl.success) == (
        r_sql.element_count, r_sql.unexpected_count, r_sql.success,
    )
    assert r_dsl.element_count > 0

    # unsupported parser -> failed-compile verdict with the clear message
    pandas_suite = ConstraintSuite("p").add(
        "expect_column_values_to_not_be_null",
        column="ints", row_condition="pair_a > 1", condition_parser="pandas",
    )
    r = Validator(typed_small).validate(pandas_suite).results[0]
    assert not r.success and "condition_parser" in (r.exception_info or "")


def test_result_kwargs_are_a_copy(spark):
    """Writing to a verdict's kwargs leaves the suite, and so its
    fingerprint, unchanged: on a compile error, on an exception raised by
    the verdict (a row-count equality with no ``value``) and on a normal
    verdict. A nested value is a copy too: in a compile error's result,
    against the caller's own list after ``add`` and in the suite's dict
    forms."""
    from data_profiler_spark.core.suite import ConstraintSuite
    from data_profiler_spark.validator import Validator

    df = spark.createDataFrame([(1,), (2,)], ["x"])
    vs = [1, 2]
    suite = (
        ConstraintSuite("kw")
        .add("expect_column_mean_to_be_between", column="missing", min_value=0)
        .add("expect_table_row_count_to_equal")
        .add("expect_table_row_count_to_be_between", min_value=1)
        .add("expect_column_values_to_be_in_set", column="nope", value_set=vs)
    )
    before = suite.fingerprint
    vs.append(4)
    assert suite.fingerprint == before
    compile_error, verdict_error, ok, nested = Validator(df).validate(suite).results
    assert compile_error.exception_info.startswith("compile error: ")
    assert verdict_error.exception_info == "KeyError: 'value'"
    assert (ok.success, ok.observed_value, ok.exception_info) == (True, 2, None)
    assert nested.exception_info.startswith("compile error: ")
    for r in (compile_error, verdict_error, ok, nested):
        r.kwargs["min_value"] = 99
        r.kwargs["tampered"] = True
    nested.kwargs["value_set"].append(3)
    suite.to_dict()["constraints"][3]["kwargs"]["value_set"].append(5)
    suite.to_ge_dict()["expectations"][3]["kwargs"]["value_set"].append(6)
    assert suite.fingerprint == before
    assert [c.kwargs for c in suite.constraints] == [
        {"column": "missing", "min_value": 0}, {}, {"min_value": 1},
        {"column": "nope", "value_set": [1, 2]},
    ]


def test_north_suite_fingerprint_is_pinned():
    """A suite's fingerprint is the results store's key, so it must not
    change with how a constraint is built: the north suite (perfbench's,
    with a fixed drift baseline) keeps the fingerprint and constraint ids
    it has always had, also after a dict round trip in either format."""
    from data_profiler_spark.core.suite import ConstraintSuite

    suite = (
        ConstraintSuite("north_bench")
        .add("expect_column_values_to_not_be_null", column="content", mostly=0.98)
        .add("expect_column_value_lengths_to_be_between",
             column="content", min_value=0, max_value=1_000_000)
        .add("expect_compound_columns_to_be_unique", column_list=["repo", "path", "commit"])
        .add("expect_compound_columns_to_exist_in_table", column_list=["repo", "commit"],
             other_table_name="commits", mostly=0.99)
        .add("expect_column_distribution_to_match_baseline", column="lang",
             baseline={"values": ["py", "go", "rs"], "weights": [0.5, 0.3, 0.2]},
             p=0.001)
    )
    fingerprint = "26ced9e4d9b2245e53adace836432c36"
    ids = [
        "0e3911d5cd93d861e92fb7cc8d1114d0",
        "b98f90d427d4a89a90095517d0b8cf19",
        "6c06a95869d93c456007167585c8ae88",
        "96f08bf3bda880827f160daa4812a9da",
        "278db28f0764c608a8d236713c7dfc58",
    ]
    for s in (
        suite,
        ConstraintSuite.from_dict(suite.to_dict()),
        ConstraintSuite.from_ge_dict(suite.to_ge_dict()),
    ):
        assert s.fingerprint == fingerprint
        assert [c.id for c in s.constraints] == ids
