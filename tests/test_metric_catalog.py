"""The metric catalog (``plans/fused.metric_term``) is the one place a fused
column metric gets its alias, its NaN rule and its Column: equal metrics
share one term whoever asks for them, and no other package code masks NaN
or names a catalog metric on its own. Likewise ``CompiledConstraint.verdict``
is the one place a ``ConstraintResult`` is built."""

from __future__ import annotations

import ast
import re
from pathlib import Path

from data_profiler_spark.core.suite import ConstraintSuite
from data_profiler_spark.plans import fused
from data_profiler_spark.plans.fused import dedup_terms, metric_alias, metric_term
from data_profiler_spark.validator import Validator

PACKAGE = Path(__file__).resolve().parents[1] / "data_profiler_spark"
CATALOG = Path(fused.__file__).resolve()


def bypasses(src: str, names: set[str]) -> list[str]:
    """``line: call`` of every ``F.isnan(...)`` call in ``src``, and every
    ``metric_alias(...)`` call whose metric name is one of ``names``."""
    out = []
    for n in ast.walk(ast.parse(src)):
        if not isinstance(n, ast.Call):
            continue
        f = n.func
        if isinstance(f, ast.Attribute) and f.attr == "isnan" \
                and isinstance(f.value, ast.Name) and f.value.id == "F":
            out.append((n.lineno, "F.isnan"))
        elif isinstance(f, ast.Name) and f.id == "metric_alias" and n.args \
                and isinstance(n.args[0], ast.Constant) and n.args[0].value in names:
            out.append((n.lineno, f"metric_alias({n.args[0].value!r})"))
    return [f"{line}: {call}" for line, call in sorted(out)]


def test_scan_flags_a_probe():
    src = (
        "import numpy as np\n"
        "a = F.when(~F.isnan(c), c)\n"
        "b = np.isnan(x)\n"
        "m = metric_alias('column.mean', column='x')\n"
        "u = metric_alias('unexpected_count', constraint_id='c')\n"
    )
    assert bypasses(src, {"column.mean"}) == ["2: F.isnan", "4: metric_alias('column.mean')"]


def test_no_package_code_bypasses_the_catalog():
    names = set(fused._METRICS)
    found = {
        str(p.relative_to(PACKAGE)): hits
        for p in sorted(PACKAGE.rglob("*.py"))
        if p.resolve() != CATALOG and (hits := bypasses(p.read_text(), names))
    }
    assert found == {}


def result_constructions(src: str) -> list[int]:
    """The line of every ``ConstraintResult(...)`` call in ``src``."""
    return sorted(
        n.lineno for n in ast.walk(ast.parse(src))
        if isinstance(n, ast.Call) and (
            (isinstance(n.func, ast.Name) and n.func.id == "ConstraintResult")
            or (isinstance(n.func, ast.Attribute) and n.func.attr == "ConstraintResult")
        )
    )


def test_only_the_verdict_constructor_builds_results():
    probe = "r = ConstraintResult(**f)\nx = result.ConstraintResult(a)\ny = ConstraintResult\n"
    assert result_constructions(probe) == [1, 2]
    found = {
        str(p.relative_to(PACKAGE)): lines
        for p in sorted(PACKAGE.rglob("*.py"))
        if p.resolve() != CATALOG and (lines := result_constructions(p.read_text()))
    }
    assert found == {}
    assert len(result_constructions(CATALOG.read_text())) == 1


def test_equal_metrics_share_one_term(typed_small):
    """Two drift checks on the same bins, a mean range and a z-score fuse
    9 terms: 2 bins, the tails and the non-null count once for both drift
    checks, one mean for the range and the z-score, and the z-score's
    element, missing and stdev terms."""
    baseline = {"bins": [0.0, 15.0, 30.0], "weights": [0.5, 0.5], "n": 30}
    suite = (
        ConstraintSuite("shared")
        .add("expect_column_distribution_to_match_baseline",
             column="floats", baseline=baseline, p=0.05)
        .add("expect_column_distribution_to_match_baseline",
             column="floats", baseline=baseline, p=0.01)
        .add("expect_column_mean_to_be_between", column="floats", min_value=0, max_value=30)
        .add("expect_column_value_z_scores_to_be_less_than", column="floats", threshold=3)
    )
    assert len(dedup_terms(Validator(typed_small).compile(suite))) == 9


def test_map_constraints_share_the_row_count_term(typed_small):
    """A map constraint's element count is the catalog's ``table.row_count``:
    a row-count check and a not-null check fuse 3 terms (the row count, and
    the not-null check's missing and unexpected counts), not 4."""
    suite = (
        ConstraintSuite("rows")
        .add("expect_table_row_count_to_equal", value=30)
        .add("expect_column_values_to_not_be_null", column="ints")
    )
    row_count = metric_term(typed_small, "table.row_count").alias
    terms = dedup_terms(Validator(typed_small).compile(suite))
    assert len(terms) == 3 and row_count in {t.alias for t in terms}
    r_rows, r_null = Validator(typed_small).validate(suite).results
    assert (r_rows.observed_value, r_null.element_count) == (30, 30)


def _compile_jobless(spark, df, suite, tables=None):
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    compiled = Validator(df, tables=tables).compile(suite)
    assert set(tracker.getJobIdsForGroup()) == before  # compiling runs no job
    return compiled


def test_north_plan(spark):
    """The north suite (``bench_scaling._pipeline``'s, with a drift baseline
    over ``code_table.LANGS``) fuses 18 terms: the shared row count, 2
    missing and 2 unexpected terms of the null and length checks, the
    missing terms of the unique and referential checks, and 9 value counts,
    the unlisted remainder and the non-null count of the drift check. The
    length check reads each value's byte length and counts its characters
    only when the byte length cannot decide a bound. Its two post passes,
    uniqueness and referential, read no fused metric, so both start
    alongside the fused pass."""
    from data_profiler_spark.core.session import local_frame
    from data_profiler_spark.sources.code_table import LANG_WEIGHTS, LANGS

    files = local_frame(
        spark, [], "repo string, path string, commit string, lang string, "
        "content string, partition_id int",
    )
    commits = local_frame(spark, [], "repo string, commit string")
    suite = (
        ConstraintSuite("north_bench")
        .add("expect_column_values_to_not_be_null", column="content", mostly=0.98)
        .add("expect_column_value_lengths_to_be_between",
             column="content", min_value=0, max_value=1_000_000)
        .add("expect_compound_columns_to_be_unique",
             column_list=["repo", "path", "commit"])
        .add("expect_compound_columns_to_exist_in_table",
             column_list=["repo", "commit"], other_table_name="commits",
             mostly=0.99)
        .add("expect_column_distribution_to_match_baseline", column="lang",
             baseline={"values": LANGS, "weights": LANG_WEIGHTS, "n": 100_000},
             p=0.001)
    )
    compiled = _compile_jobless(spark, files, suite, {"commits": commits})
    assert len(dedup_terms(compiled)) == 18
    length = compiled[1]
    (unexpected,) = [t for t in length.agg_terms if t.alias == metric_alias(
        "unexpected_count", constraint_id=length.constraint.id)]
    sql = str(unexpected.column)
    assert "octet_length(content)" in sql
    # the per-row character count runs only in each bound's last CASE branch
    assert len(re.findall(r"(?<!octet_)length\(content\)", sql)) == 2
    assert re.findall(r"(\w+) [<>]=?\(length\(content\)", sql) == ["ELSE", "ELSE"]
    post = [(c.constraint.type, c.post_pass_needs_metrics)
            for c in compiled if c.post_pass_fn is not None]
    assert post == [("expect_compound_columns_to_be_unique", False),
                    ("expect_compound_columns_to_exist_in_table", False)]

    (phi,) = _compile_jobless(spark, files, ConstraintSuite("phi").add(
        "expect_column_pair_cramers_phi_value_to_be_less_than",
        column_A="lang", column_B="repo",
    ))
    assert (phi.agg_terms, phi.post_pass_needs_metrics) == ([], False)


def test_profile_suite_and_rule_profiler_name_a_metric_alike(typed_small, monkeypatch):
    """``column.mean`` of a column is one alias for a constraint, a rule
    profiler parameter and ``profile()``."""
    from data_profiler_spark.operators import profile as profile_mod
    from data_profiler_spark.operators.rule_profiler import MetricParameterBuilder, _column_domain

    alias = metric_term(typed_small, "column.mean", "floats").alias
    suite = ConstraintSuite("m").add(
        "expect_column_mean_to_be_between", column="floats", min_value=0
    )
    (compiled,) = Validator(typed_small).compile(suite)
    assert [t.alias for t in compiled.agg_terms] == [alias]
    pb = MetricParameterBuilder("mean", "column.mean")
    assert pb.term(typed_small, _column_domain("floats"), {}).alias == alias

    passes = []
    run = profile_mod.run_fused_pass

    def traced(df, terms, group_by):
        passes.append({t.alias for t in terms})
        return run(df, terms, group_by)

    monkeypatch.setattr(profile_mod, "run_fused_pass", traced)
    (tp,) = profile_mod.profile(typed_small, columns=["floats"], hist_bins=0)
    assert alias in passes[0]
    (r,) = Validator(typed_small).validate(suite).results
    assert tp.columns["floats"].mean_v == r.observed_value
