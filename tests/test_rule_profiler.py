from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_profiler_spark.operators.rule_profiler import (
    ColumnDomainBuilder,
    ProfilerConfigurationError,
    ProfilerExecutionError,
    RuleBasedProfiler,
    SemanticTypeColumnDomainBuilder,
    TableDomainBuilder,
    semantic_type_of,
)
from data_profiler_spark.validator import Validator


NUMERIC_RULE_CONFIG = {
    "variables": {"false_positive_rate": 0.01},
    "rules": {
        "numeric_range_rule": {
            "domain_builder": {
                "class_name": "SemanticTypeColumnDomainBuilder",
                "semantic_types": ["numeric"],
            },
            "parameter_builders": [
                {
                    "class_name": "MetricParameterBuilder",
                    "parameter_name": "my_min",
                    "metric_name": "column.min",
                    "enforce_numeric_metric": True,
                },
                {
                    "class_name": "MetricParameterBuilder",
                    "parameter_name": "my_max",
                    "metric_name": "column.max",
                    "enforce_numeric_metric": True,
                },
            ],
            "expectation_configuration_builders": [
                {
                    "expectation_type": "expect_column_values_to_be_between",
                    "column": "$domain.domain_kwargs.column",
                    "min_value": "$parameter.my_min.value",
                    "max_value": "$parameter.my_max.value",
                    "meta": {"profiler_details": "$parameter.my_min.details"},
                }
            ],
        },
        "row_count_rule": {
            "domain_builder": {"class_name": "TableDomainBuilder"},
            "parameter_builders": [
                {
                    "parameter_name": "n",
                    "metric_name": "table.row_count",
                }
            ],
            "expectation_configuration_builders": [
                {
                    "expectation_type": "expect_table_row_count_to_equal",
                    "value": "$parameter.n.value",
                }
            ],
        },
    },
}


def test_domain_builders(spark, typed_small):
    assert [d.domain_type for d in TableDomainBuilder().get_domains(
        typed_small, {}
    )] == ["table"]

    cols = [
        d.kwargs["column"]
        for d in ColumnDomainBuilder().get_domains(typed_small, {})
    ]
    assert cols == typed_small.columns

    sub = ColumnDomainBuilder(
        include_columns=["ints", "floats"], exclude_columns=["floats"]
    ).get_domains(typed_small, {})
    assert [d.kwargs["column"] for d in sub] == ["ints"]

    nums = SemanticTypeColumnDomainBuilder(["numeric"]).get_domains(
        typed_small, {}
    )
    assert [d.kwargs["column"] for d in nums] == [
        "ints", "floats", "pair_a", "pair_b"
    ]
    texts = SemanticTypeColumnDomainBuilder("text").get_domains(typed_small, {})
    assert {d.kwargs["column"] for d in texts} == {"strings", "dates", "cat"}

    with pytest.raises(ProfilerConfigurationError):
        SemanticTypeColumnDomainBuilder(["numberish"])
    with pytest.raises(ProfilerConfigurationError):
        ColumnDomainBuilder(include_columns=["nope"]).get_domains(
            typed_small, {}
        )


def test_semantic_type_of(spark):
    import pyspark.sql.types as T

    assert semantic_type_of(T.DecimalType(10, 2)) == "numeric"
    assert semantic_type_of(T.TimestampType()) == "datetime"
    assert semantic_type_of(T.ArrayType(T.IntegerType())) == "other"


def test_profile_generates_min_max_suite(spark, typed_small):
    profiler = RuleBasedProfiler(NUMERIC_RULE_CONFIG)
    suite = profiler.profile(typed_small, suite_name="rbp")

    by_col = {
        c.kwargs.get("column"): c
        for c in suite.constraints
        if c.type == "expect_column_values_to_be_between"
    }
    assert set(by_col) == {"ints", "floats", "pair_a", "pair_b"}
    ints = by_col["ints"]
    assert ints.kwargs["min_value"] == 1
    assert ints.kwargs["max_value"] == 10

    [row_count] = [
        c for c in suite.constraints
        if c.type == "expect_table_row_count_to_equal"
    ]
    assert row_count.kwargs["value"] == 30

    # citation + per-expectation meta land in suite.meta
    assert suite.meta["citations"][0]["profiler_config"] is NUMERIC_RULE_CONFIG
    details = suite.meta["expectation_meta"][ints.id]["profiler_details"]
    assert details["metric_configuration"]["metric_name"] == "column.min"

    # The generated suite validates against the data it came from. Metric
    # resolution skips NaN (pandas-skipna parity), so floats gets
    # min=0/max=29, and the between constraint's domain skips the NaN row
    # too (a NaN is NULL there as well): every verdict is green.
    result = Validator(typed_small).validate(suite)
    by_cid = {c.id: c for c in suite.constraints}
    for r in result.results:
        c = by_cid[r.constraint_id]
        assert r.success, c
        if c.kwargs.get("column") == "floats":
            assert (r.unexpected_count, r.missing_count) == (0, 1)  # the NaN row


def test_profile_is_one_fused_pass(spark, typed_small, monkeypatch):
    """All metric parameters across rules/domains resolve in ONE fused
    aggregation action (the reference does one engine round trip per
    (domain, parameter builder) — here 9 metrics collapse to one
    ``df.agg``). Counted at the run_fused_pass seam rather than via the
    job tracker because AQE legitimately splits one action into several
    job ids."""
    import data_profiler_spark.operators.rule_profiler as rbp
    from data_profiler_spark.plans.fused import run_fused_pass

    calls: list[int] = []

    def counting(df, terms, post):
        calls.append(len(terms))
        return run_fused_pass(df, terms, post)

    monkeypatch.setattr(rbp, "run_fused_pass", counting)
    RuleBasedProfiler(NUMERIC_RULE_CONFIG).profile(typed_small)
    # one pass carrying every metric: 2 per numeric column x 4 + row_count
    assert calls == [9]


def test_variables_and_quantile_metric(spark, typed_small):
    config = {
        "variables": {"upper_q": 0.75},
        "rules": {
            "median_rule": {
                "domain_builder": {
                    "class_name": "ColumnDomainBuilder",
                    "include_columns": ["ints"],
                },
                "parameter_builders": [
                    {
                        "parameter_name": "med",
                        "metric_name": "column.median",
                    },
                    {
                        "parameter_name": "qs",
                        "metric_name": "column.quantile_values",
                        "metric_value_kwargs": {"quantiles": [0.25, 0.75]},
                    },
                ],
                "expectation_configuration_builders": [
                    {
                        "expectation_type": "expect_column_median_to_be_between",
                        "column": "$domain.domain_kwargs.column",
                        "min_value": "$parameter.med.value",
                        "max_value": "$parameter.med.value",
                        "meta": {"upper_q": "$variables.upper_q"},
                    }
                ],
            }
        },
    }
    suite = RuleBasedProfiler(config).profile(typed_small)
    [c] = suite.constraints
    # ints non-null = 28 values (1..10 x3 minus one 6 and one 8); the
    # 14th and 15th order statistics are both 5 -> median 5.0
    assert c.kwargs["min_value"] == c.kwargs["max_value"] == 5.0
    assert suite.meta["expectation_meta"][c.id]["upper_q"] == 0.75
    res = Validator(typed_small).validate(suite)
    assert all(r.success for r in res.results)


def test_config_errors(spark, typed_small):
    with pytest.raises(ProfilerConfigurationError):
        RuleBasedProfiler({"rules": {}})
    with pytest.raises(ProfilerConfigurationError):
        RuleBasedProfiler({"rules": {"r": {}}})  # no domain_builder
    with pytest.raises(ProfilerConfigurationError):
        RuleBasedProfiler(
            {
                "rules": {
                    "r": {
                        "domain_builder": {"class_name": "Nope"},
                    }
                }
            }
        )
    with pytest.raises(ProfilerConfigurationError):
        RuleBasedProfiler(
            {
                "rules": {
                    "r": {
                        "domain_builder": {"class_name": "TableDomainBuilder"},
                        "parameter_builders": [
                            {"parameter_name": "p", "metric_name": "no.such"}
                        ],
                    }
                }
            }
        )

    # unresolvable $parameter reference surfaces as execution error
    cfg = {
        "rules": {
            "r": {
                "domain_builder": {"class_name": "TableDomainBuilder"},
                "expectation_configuration_builders": [
                    {
                        "expectation_type": "expect_table_row_count_to_equal",
                        "value": "$parameter.missing.value",
                    }
                ],
            }
        }
    }
    with pytest.raises(ProfilerExecutionError):
        RuleBasedProfiler(cfg).profile(typed_small)


def test_enforce_numeric_metric(spark, typed_small):
    cfg = {
        "rules": {
            "r": {
                "domain_builder": {
                    "class_name": "ColumnDomainBuilder",
                    "include_columns": ["strings"],
                },
                "parameter_builders": [
                    {
                        "parameter_name": "mn",
                        "metric_name": "column.min",
                        "enforce_numeric_metric": True,
                    }
                ],
                "expectation_configuration_builders": [],
            }
        }
    }
    with pytest.raises(ProfilerExecutionError):
        RuleBasedProfiler(cfg).profile(typed_small)


# ---------------------------------------------------------------------------
# NumericMetricRangeMultiBatchParameterBuilder (NEW r6)
# ---------------------------------------------------------------------------

MB_RULE = {
    "variables": {"false_positive_rate": 0.05},
    "rules": {
        "batch_mean_rule": {
            "domain_builder": {
                "class_name": "ColumnDomainBuilder",
                "include_columns": ["floats"],
            },
            "parameter_builders": [
                {
                    "class_name": "NumericMetricRangeMultiBatchParameterBuilder",
                    "parameter_name": "mean_range",
                    "metric_name": "column.mean",
                    "sampling_method": "oneshot",
                    "false_positive_rate": "$variables.false_positive_rate",
                    "batch_identifier_columns": "cat",
                }
            ],
            "expectation_configuration_builders": [
                {
                    "expectation_type": "expect_column_mean_to_be_between",
                    "column": "$domain.domain_kwargs.column",
                    "min_value": "$parameter.mean_range.value.min_value",
                    "max_value": "$parameter.mean_range.value.max_value",
                }
            ],
        }
    },
}


def _mb_config(**pb_overrides):
    import copy

    cfg = copy.deepcopy(MB_RULE)
    cfg["rules"]["batch_mean_rule"]["parameter_builders"][0].update(pb_overrides)
    return cfg


def test_multibatch_oneshot_matches_numpy(spark, typed_small):
    """The oneshot estimator equals np.quantile(linear) of the per-batch
    metric values, rounded per the ref heuristic (9 decimals for floats),
    lower-truncated at 0 when all values are positive (ref :333-419)."""
    import numpy as np

    suite = RuleBasedProfiler(MB_RULE).profile(typed_small)
    (c,) = [x for x in suite.constraints
            if x.type == "expect_column_mean_to_be_between"]

    # mirror the engine's NaN masking (pandas skipna semantics)
    masked = F.when(~F.isnan("floats"), F.col("floats"))
    rows = (
        typed_small.groupBy("cat").agg(F.mean(masked).alias("v")).collect()
    )
    vals = np.array(
        [r["v"] for r in sorted(rows, key=lambda r: repr(r["cat"]))]
    )
    lo = max(round(float(np.quantile(vals, 0.025)), 9), 0.0)
    hi = round(float(np.quantile(vals, 0.975)), 9)
    assert c.kwargs["min_value"] == lo
    assert c.kwargs["max_value"] == hi
    assert c.kwargs["min_value"] >= 0.0  # truncate heuristic engaged


def test_multibatch_bootstrap_seeded_and_reproducible(spark, typed_small):
    """The seeded bootstrap: (a) reproducible across profile() runs,
    (b) equal to an independent numpy reimplementation with the same
    seed, (c) interval within the observed per-batch value range."""
    import numpy as np

    cfg = _mb_config(
        sampling_method="bootstrap", num_bootstrap_samples=499, seed=11
    )
    s1 = RuleBasedProfiler(cfg).profile(typed_small)
    s2 = RuleBasedProfiler(cfg).profile(typed_small)
    (c1,) = [x for x in s1.constraints
             if x.type == "expect_column_mean_to_be_between"]
    (c2,) = [x for x in s2.constraints
             if x.type == "expect_column_mean_to_be_between"]
    assert c1.kwargs == c2.kwargs

    # mirror the engine's NaN masking (pandas skipna semantics)
    masked = F.when(~F.isnan("floats"), F.col("floats"))
    rows = (
        typed_small.groupBy("cat").agg(F.mean(masked).alias("v")).collect()
    )
    vals = np.array(
        [r["v"] for r in sorted(rows, key=lambda r: repr(r["cat"]))]
    )
    rng = np.random.default_rng(11)
    boots = rng.choice(vals, size=(499, vals.size))
    lo = max(round(float(np.mean(np.quantile(boots, 0.025, axis=1))), 9), 0.0)
    hi = round(float(np.mean(np.quantile(boots, 0.975, axis=1))), 9)
    assert c1.kwargs["min_value"] == lo
    assert c1.kwargs["max_value"] == hi
    assert vals.min() - 1e-9 <= c1.kwargs["min_value"]
    assert c1.kwargs["max_value"] <= vals.max() + 1e-9


def test_multibatch_degenerate_and_integer_heuristics(spark):
    """Degenerate per-batch distribution -> both bounds equal that value
    with NO sampling (ref :258-260); integer-typed metric values force
    round_decimals to 0 (ref :404-419)."""
    df = spark.createDataFrame(
        [(b, v) for b in ("a", "b", "c") for v in (1, 2, 3)],
        "batch string, x long",
    )
    cfg = {
        "rules": {
            "r": {
                "domain_builder": {
                    "class_name": "ColumnDomainBuilder",
                    "include_columns": ["x"],
                },
                "parameter_builders": [
                    {
                        "class_name": (
                            "NumericMetricRangeMultiBatchParameterBuilder"
                        ),
                        "parameter_name": "rng",
                        "metric_name": "column.max",
                        "batch_identifier_columns": ["batch"],
                    }
                ],
                "expectation_configuration_builders": [
                    {
                        "expectation_type": "expect_column_max_to_be_between",
                        "column": "$domain.domain_kwargs.column",
                        "min_value": "$parameter.rng.value.min_value",
                        "max_value": "$parameter.rng.value.max_value",
                    }
                ],
            }
        }
    }
    suite = RuleBasedProfiler(cfg).profile(df)
    (c,) = suite.constraints
    # every batch max == 3 (degenerate) and integer-typed -> exactly 3/3
    assert c.kwargs["min_value"] == 3 and c.kwargs["max_value"] == 3
    assert isinstance(c.kwargs["min_value"], int)


def test_multibatch_truncate_values_and_batch_request(spark, typed_small):
    """Explicit truncate_values clamp the estimate; batch_request is the
    GE-config-compat spelling of batch_identifier_columns."""
    cfg = _mb_config(truncate_values={"lower_bound": 12.0, "upper_bound": 13.0})
    (c,) = [
        x
        for x in RuleBasedProfiler(cfg).profile(typed_small).constraints
        if x.type == "expect_column_mean_to_be_between"
    ]
    assert c.kwargs["min_value"] >= 12.0 and c.kwargs["max_value"] <= 13.0

    cfg2 = _mb_config()
    pb = cfg2["rules"]["batch_mean_rule"]["parameter_builders"][0]
    del pb["batch_identifier_columns"]
    pb["batch_request"] = {"batch_identifier_columns": ["cat"]}
    base = [
        x
        for x in RuleBasedProfiler(MB_RULE).profile(typed_small).constraints
        if x.type == "expect_column_mean_to_be_between"
    ]
    via_br = [
        x
        for x in RuleBasedProfiler(cfg2).profile(typed_small).constraints
        if x.type == "expect_column_mean_to_be_between"
    ]
    assert [x.kwargs for x in via_br] == [x.kwargs for x in base]


def test_multibatch_config_errors(spark, typed_small):
    with pytest.raises(ProfilerConfigurationError, match="batch_identifier"):
        RuleBasedProfiler(
            _mb_config(batch_identifier_columns=None)
        ).profile(typed_small)
    with pytest.raises(ProfilerConfigurationError, match="unknown batch"):
        RuleBasedProfiler(
            _mb_config(batch_identifier_columns=["nope"])
        ).profile(typed_small)
    with pytest.raises(ProfilerExecutionError, match="sampling_method"):
        RuleBasedProfiler(
            _mb_config(sampling_method="jackknife")
        ).profile(typed_small)
    with pytest.raises(ProfilerExecutionError, match="false_positive_rate"):
        RuleBasedProfiler(
            _mb_config(false_positive_rate=1.5)
        ).profile(typed_small)
    with pytest.raises(ProfilerConfigurationError, match="truncate_values"):
        RuleBasedProfiler(
            _mb_config(truncate_values={"middle": 1})
        ).profile(typed_small)


def test_multibatch_adds_exactly_one_grouped_pass(spark, typed_small, monkeypatch):
    """Plain builders share the global fused pass; all multi-batch builders
    on the same batch columns share ONE grouped pass — jobs scale with
    distinct groupings, never with batches or builders."""
    import data_profiler_spark.operators.rule_profiler as rbp
    from data_profiler_spark.plans.fused import run_fused_pass

    calls: list[tuple[int, tuple]] = []

    def counting(df, terms, group_by):
        calls.append((len(terms), tuple(group_by)))
        return run_fused_pass(df, terms, group_by)

    monkeypatch.setattr(rbp, "run_fused_pass", counting)
    import copy

    cfg = copy.deepcopy(NUMERIC_RULE_CONFIG)
    cfg["rules"]["batch_mean_rule"] = copy.deepcopy(
        MB_RULE["rules"]["batch_mean_rule"]
    )
    # second multi-batch builder, same batch columns -> same grouped pass
    cfg["rules"]["batch_mean_rule"]["parameter_builders"].append(
        {
            "class_name": "NumericMetricRangeMultiBatchParameterBuilder",
            "parameter_name": "max_range",
            "metric_name": "column.max",
            "batch_identifier_columns": ["cat"],
        }
    )
    RuleBasedProfiler(cfg).profile(typed_small)
    assert sorted(calls) == [(2, ("cat",)), (9, ())]


def test_simple_column_suffix_domain_builder(spark, typed_small):
    """ref simple_column_suffix_domain_builder.py:1-89 under the ref's
    class name: suffix-filtered column domains."""
    from data_profiler_spark.operators.rule_profiler import (
        SimpleColumnSuffixDomainBuilder,
    )

    b = SimpleColumnSuffixDomainBuilder(column_name_suffixes=["_a", "_b"])
    assert [d.kwargs["column"] for d in b.get_domains(typed_small, {})] == [
        "pair_a", "pair_b"
    ]
    # string form, empty form, invalid form
    b2 = SimpleColumnSuffixDomainBuilder(column_name_suffixes="s")
    assert [d.kwargs["column"] for d in b2.get_domains(typed_small, {})] == [
        "ints", "floats", "strings", "dates"
    ]
    assert SimpleColumnSuffixDomainBuilder().get_domains(typed_small, {}) == []
    with pytest.raises(ProfilerConfigurationError):
        SimpleColumnSuffixDomainBuilder(column_name_suffixes=3)

    # end-to-end through a config: *_key columns of lineitem
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    cfg = {
        "rules": {
            "key_rule": {
                "domain_builder": {
                    "class_name": "SimpleColumnSuffixDomainBuilder",
                    "column_name_suffixes": ["key"],
                },
                "parameter_builders": [
                    {"parameter_name": "nn",
                     "metric_name": "column_values.nonnull.count"}
                ],
                "expectation_configuration_builders": [
                    {
                        "expectation_type": "expect_column_values_to_not_be_null",
                        "column": "$domain.domain_kwargs.column",
                    }
                ],
            }
        }
    }
    suite = RuleBasedProfiler(cfg).profile(li)
    assert sorted(c.kwargs["column"] for c in suite.constraints) == [
        "l_orderkey", "l_partkey", "l_suppkey"
    ]


def test_multibatch_accepts_full_reference_kwarg_shape(spark, typed_small):
    """The ref's full __init__ kwarg surface (numeric_metric_range_multi_
    batch_parameter_builder.py:54-133) — including the keys our engine
    doesn't need (data_context, module_name) — instantiates unchanged."""
    cfg = {
        "rules": {
            "r": {
                "domain_builder": {
                    "class_name": "ColumnDomainBuilder",
                    "module_name": "data_profiler.rule_based_profiler.domain_builder",
                    "include_columns": ["floats"],
                },
                "parameter_builders": [
                    {
                        "class_name": "NumericMetricRangeMultiBatchParameterBuilder",
                        "module_name": "data_profiler.rule_based_profiler.parameter_builder",
                        "parameter_name": "range",
                        "metric_name": "column.mean",
                        "metric_domain_kwargs": "$domain.domain_kwargs",
                        "metric_value_kwargs": None,
                        "sampling_method": "bootstrap",
                        "enforce_numeric_metric": True,
                        "replace_nan_with_zero": True,
                        "false_positive_rate": 0.05,
                        "num_bootstrap_samples": 199,
                        "round_decimals": 2,
                        "truncate_values": {"lower_bound": 0, "upper_bound": None},
                        "data_context": None,
                        "batch_request": {"batch_identifier_columns": ["cat"]},
                    }
                ],
                "expectation_configuration_builders": [
                    {
                        "expectation_type": "expect_column_mean_to_be_between",
                        "column": "$domain.domain_kwargs.column",
                        "min_value": "$parameter.range.value.min_value",
                        "max_value": "$parameter.range.value.max_value",
                        "meta": {"profiler_details": "$parameter.range.details"},
                    }
                ],
            }
        }
    }
    suite = RuleBasedProfiler(cfg).profile(typed_small)
    (c,) = suite.constraints
    assert 0 <= c.kwargs["min_value"] <= c.kwargs["max_value"]
    # round_decimals=2 applied
    assert round(c.kwargs["min_value"], 2) == c.kwargs["min_value"]
    meta = suite.meta["expectation_meta"][c.id]["profiler_details"]
    assert meta["num_batches"] >= 2
    assert meta["metric_configuration"]["metric_name"] == "column.mean"
