"""Row-count constraints — map, uniqueness, referential, z-score and
monotonicity — share one lowering: the same element/missing terms, the
same ``row_condition`` scoping and the same ``mostly`` verdict, grouped or
not."""

from __future__ import annotations

import pytest

from data_profiler_spark.core.suite import ConstraintSuite
from data_profiler_spark.validator import Validator

SCHEMA = "g string, flag string, k int, k2 string, fk int, z double, v double, ord int"

# the 'n' row breaks every kind: a duplicate k / (k, k2), an orphan fk, a
# z-score outlier and a decreasing step in v
ROWS = [
    ("g1", "y", 1, "a", 1, 1.0, 1.0, 1),
    ("g1", "y", 2, "a", 2, 2.0, 2.0, 2),
    ("g1", "y", 3, "a", 3, 3.0, 3.0, 3),
    ("g1", "n", 1, "a", 7, 100.0, 0.5, 4),
]
NULL_ROW = ("g1", "y", None, None, None, None, None, 5)

KINDS = {
    "map": ("expect_column_values_to_be_between", {"column": "z", "max_value": 10}),
    "unique": ("expect_column_values_to_be_unique", {"column": "k"}),
    "compound_unique": (
        "expect_compound_columns_to_be_unique", {"column_list": ["k", "k2"]}
    ),
    "referential": (
        "expect_compound_columns_to_exist_in_table",
        {"column_list": ["fk"], "other_table_name": "dim", "other_column_list": ["id"]},
    ),
    "zscore": (
        "expect_column_value_z_scores_to_be_less_than", {"column": "z", "threshold": 1.4}
    ),
    "increasing": ("expect_column_values_to_be_increasing", {"column": "v", "order_by": "ord"}),
}

FIELDS = (
    "success", "element_count", "unexpected_count", "missing_count",
    "unexpected_percent", "unexpected_percent_total",
)


@pytest.fixture(scope="module")
def dim(spark):
    return spark.createDataFrame([(1,), (2,), (3,)], "id int")


def _validate(spark, dim, rows, kind, group_by=None, **extra):
    type_, kwargs = KINDS[kind]
    suite = ConstraintSuite(kind).add(type_, **kwargs, **extra)
    df = spark.createDataFrame(rows, SCHEMA)
    return Validator(df, tables={"dim": dim}).validate(suite, group_by=group_by).results


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_row_condition_scopes_every_kind(spark, dim, kind):
    """The 'n' row violates every kind; a row condition that excludes it
    leaves only passing rows, and the counts cover the kept rows only."""
    (unscoped,) = _validate(spark, dim, ROWS, kind)
    assert unscoped.success is False and unscoped.element_count == 4
    (scoped,) = _validate(spark, dim, ROWS, kind, row_condition="flag = 'y'")
    assert scoped.success is True
    assert (scoped.element_count, scoped.unexpected_count) == (3, 0)
    if kind == "zscore":
        assert scoped.details == {"mean": 2.0, "stddev": pytest.approx(1.0)}


def test_row_condition_violation_rows(spark, dim):
    """Violation samples see the row condition too."""
    df = spark.createDataFrame(ROWS, SCHEMA)
    suite = ConstraintSuite("rc").add(
        "expect_compound_columns_to_be_unique", column_list=["k", "k2"],
        row_condition="flag = 'y' OR ord = 4",
    ).add(
        "expect_column_values_to_be_unique", column="k", row_condition="flag = 'y'"
    )
    v = Validator(df)
    got: dict[str, list[int]] = {}
    for r in v.violation_samples_unioned(v.validate(suite), limit=10).collect():
        got.setdefault(r["constraint_id"], []).append(r["ord"])
    compound, single = (c.id for c in suite.constraints)
    # the passing constraint is not sampled at all
    assert {cid: sorted(ords) for cid, ords in got.items()} == {compound: [1, 4]}


@pytest.mark.parametrize("kind", sorted(KINDS))
@pytest.mark.parametrize(
    "rows",
    [ROWS + [NULL_ROW], [r[:2] + (None,) * 5 + r[7:] for r in ROWS]],
    ids=["violations_and_null_key", "all_null_keys"],
)
def test_one_group_matches_ungrouped(spark, dim, kind, rows):
    """One group: grouped verdicts equal ungrouped ones, field for field."""
    (flat,) = _validate(spark, dim, rows, kind)
    (grouped,) = _validate(spark, dim, rows, kind, group_by=["g"])
    assert grouped.group == {"g": "g1"}
    assert [getattr(grouped, f) for f in FIELDS] == [getattr(flat, f) for f in FIELDS]
    assert flat.unexpected_percent_total is not None
    if flat.missing_count == flat.element_count:  # empty domain: vacuous truth
        assert flat.success is True and flat.unexpected_percent is None


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_empty_frame_is_vacuously_true(spark, dim, kind):
    (flat,) = _validate(spark, dim, [], kind)
    assert flat.success is True
    assert (flat.element_count, flat.unexpected_count) == (0, 0)
    assert flat.unexpected_percent is None and flat.unexpected_percent_total is None
    assert _validate(spark, dim, [], kind, group_by=["g"]) == []


def test_monotonic_reports_percent_total(spark, dim):
    (r,) = _validate(spark, dim, ROWS + [NULL_ROW], "increasing")
    assert (r.element_count, r.missing_count, r.unexpected_count) == (5, 1, 1)
    assert r.unexpected_percent == pytest.approx(25.0)
    assert r.unexpected_percent_total == pytest.approx(20.0)


def test_summary_lists_unexpected_values(spark, dim):
    """SUMMARY's value counts come from the violations plan for every
    column kind, as the reference's column map expectations give them."""
    df = spark.createDataFrame(ROWS, SCHEMA)
    suite = (
        ConstraintSuite("summary")
        .add("expect_column_values_to_be_unique", column="k")
        .add("expect_column_values_to_be_increasing", column="v", order_by="ord")
    )
    res = Validator(df).validate(suite, result_format="SUMMARY")
    assert [r.partial_unexpected_counts for r in res.results] == [
        [{"value": 1, "count": 2}], [{"value": 0.5, "count": 1}],
    ]


Z_ROWS = [(None, 1.0)] * 9 + [(None, 100.0)]


@pytest.mark.parametrize(
    "other", [[], [("a", 1.0), ("a", 2.0)]], ids=["all_keys_null", "null_and_other_key"]
)
def test_zscore_null_group_key(spark, other):
    """The rows under a NULL group key are a group: their z-score verdict is
    the one the same rows give ungrouped, whether or not other keys exist."""
    suite = ConstraintSuite("z").add(
        "expect_column_value_z_scores_to_be_less_than", column="x", threshold=1
    )
    (flat,) = Validator(spark.createDataFrame(Z_ROWS, "g string, x double")).validate(
        suite
    ).results
    assert (flat.success, flat.unexpected_count) == (False, 1)
    df = spark.createDataFrame(Z_ROWS + other, "g string, x double")
    grouped = Validator(df).validate(suite, group_by=["g"]).results
    verdicts = {r.group["g"]: (r.success, r.unexpected_count) for r in grouped}
    assert verdicts[None] == (False, 1)
    assert len(verdicts) == 1 + bool(other)
