"""Aggregate + table-shape constraints.

Every observed value here is ONE fused aggregate Column (the reference's
AGGREGATE_FN partials, column_aggregate_metric_provider.py:171-228), so all
aggregate constraints of a suite resolve in the same single pass. Each comes
from the metric catalog (``plans/fused.metric_term``), so a float/double NaN
counts as NULL: min, max, sum, mean, stdev, median and quantiles skip it, and
distinct and non-null counts drop it (pandas skipna). A NaN that arises
anyway (the mean of ``[inf, -inf]``) satisfies no bound.

Notable Spark-first upgrades vs the reference:
- median: native exact ``F.median`` (Spark >=3.4) instead of the
  approxQuantile epsilon trick (column_median.py:91-120);
- distinct count: ``F.count_distinct`` exact (dataset/sparkdf_dataset.py:713)
  or ``F.approx_count_distinct`` (HLL) via ``approximate=True`` — the scale
  path per the north rule;
- most common value: native ``F.mode`` instead of collecting full
  value_counts (column_most_common_value.py:33-45).
"""

from __future__ import annotations

from typing import Any

import pyspark.sql.types as SparkTypes
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_spark.core.session import local_frame
from data_profiler_spark.core.suite import Constraint
from data_profiler_spark.operators.registry import register
from data_profiler_spark.plans.fused import (
    AggTerm,
    CompiledConstraint,
    metric_alias,
    metric_term,
)


def _between_success(v: Any, kw: dict[str, Any]) -> bool:
    """``v`` lies within the bounds. Each bound is a comparison that must
    hold, so a NaN satisfies none."""
    if v is None:
        return False
    lo, hi = kw.get("min_value"), kw.get("max_value")
    if lo is not None and not (lo < v if kw.get("strict_min") else lo <= v):
        return False
    if hi is not None and not (v < hi if kw.get("strict_max") else v <= hi):
        return False
    return True


def _agg_between(
    constraint: Constraint, term: AggTerm, success=_between_success
) -> CompiledConstraint:
    """Observed value: the term's; verdict: ``success(value, kwargs)``."""
    kw = constraint.kwargs

    def verdict(metrics: dict[str, Any]) -> dict[str, Any]:
        v = metrics.get(term.alias)
        return {"success": success(v, kw), "observed_value": v}

    return CompiledConstraint(constraint=constraint, agg_terms=[term], verdict_fn=verdict)


def _simple_agg_registrar(type_name: str, metric: str, numeric: bool = False) -> None:
    @register(type_name)
    def _compile(constraint: Constraint, df: DataFrame, ctx: dict) -> CompiledConstraint:
        colname = constraint.kwargs["column"]
        dtype = df.schema[colname].dataType
        # the reference's numeric whitelist (column_mean.py:35-38): a failed
        # verdict naming the column, not a CAST error failing the fused pass
        if numeric and not isinstance(dtype, SparkTypes.NumericType):
            raise TypeError(f"column {colname!r} is not numeric ({dtype.simpleString()})")
        return _agg_between(constraint, metric_term(df, metric, colname))


# ref files: column_min.py:32, column_max.py:28, column_sum.py:28,
# column_mean.py:33, column_standard_deviation.py:48, F.median (ours)
_simple_agg_registrar("expect_column_min_to_be_between", "column.min")
_simple_agg_registrar("expect_column_max_to_be_between", "column.max")
_simple_agg_registrar("expect_column_sum_to_be_between", "column.sum", numeric=True)
_simple_agg_registrar("expect_column_mean_to_be_between", "column.mean", numeric=True)
_simple_agg_registrar(
    "expect_column_stdev_to_be_between", "column.standard_deviation", numeric=True
)
_simple_agg_registrar("expect_column_median_to_be_between", "column.median", numeric=True)


@register("expect_column_quantile_values_to_be_between")
def c_quantiles(constraint: Constraint, df: DataFrame, ctx: dict) -> CompiledConstraint:
    """ref: column_quantile_values.py:152-180 (Greenwald-Khanna approx).

    Fused as one ``percentile_approx(col, array(qs), accuracy)`` term; set
    ``exact=True`` for the exact ``percentile`` aggregate (test oracle mode).
    """
    kw = constraint.kwargs
    qs = [float(q) for q in kw["quantile_ranges"]["quantiles"]]
    ranges = kw["quantile_ranges"]["value_ranges"]
    t = metric_term(
        df, "column.quantile_values", kw["column"], quantiles=qs,
        accuracy=None if kw.get("exact") else int(kw.get("accuracy", 10000)),
    )

    def verdict(metrics: dict[str, Any]) -> dict[str, Any]:
        vals = metrics.get(t.alias)
        return {
            "success": vals is not None and all(
                (lo is None or v >= lo) and (hi is None or v <= hi)
                for v, (lo, hi) in zip(vals, ranges)
            ),
            "observed_value": {"quantiles": qs, "values": list(vals) if vals else None},
        }

    return CompiledConstraint(constraint=constraint, agg_terms=[t], verdict_fn=verdict)


@register("expect_column_unique_value_count_to_be_between")
def c_distinct_count(constraint: Constraint, df: DataFrame, ctx: dict) -> CompiledConstraint:
    kw = constraint.kwargs
    return _agg_between(constraint, metric_term(
        df, "column.distinct_values.count", kw["column"],
        approx=bool(kw.get("approximate", False)),
    ))


@register("expect_column_proportion_of_unique_values_to_be_between")
def c_unique_proportion(constraint: Constraint, df: DataFrame, ctx: dict) -> CompiledConstraint:
    """ref: column_proportion_of_unique_values.py:25-35 — distinct/nonnull."""
    kw = constraint.kwargs
    d_t = metric_term(
        df, "column.distinct_values.count", kw["column"],
        approx=bool(kw.get("approximate", False)),
    )
    nn_t = metric_term(df, "column_values.nonnull.count", kw["column"])

    def verdict(metrics: dict[str, Any]) -> dict[str, Any]:
        d, nn = metrics.get(d_t.alias) or 0, metrics.get(nn_t.alias) or 0
        v = (d / nn) if nn else 0.0
        return {"success": _between_success(v, kw), "observed_value": v}

    return CompiledConstraint(constraint=constraint, agg_terms=[d_t, nn_t], verdict_fn=verdict)


@register("expect_column_most_common_value_to_be_in_set")
def c_most_common(constraint: Constraint, df: DataFrame, ctx: dict) -> CompiledConstraint:
    """ref: column_most_common_value.py:33-45 — the observed value is the
    FULL argmax set (all tied modes), not an arbitrary single mode (F.mode
    picks one — a constraint would flap on tied data). ``ties_okay=True``
    passes if ANY tied mode is in the set; default requires ALL (GE
    semantics). Computed in one bounded post-pass job: value counts ->
    max-count filter via window."""
    kw = constraint.kwargs
    colname = kw["column"]
    vs = set(kw["value_set"])
    ties_okay = bool(kw.get("ties_okay", False))
    # Cap on the collected tied-mode set: on broadly tied data (e.g. every
    # value unique, all counts == 1) the argmax set is the whole distinct
    # domain — an unbounded driver collect. We fetch max_modes + 1 rows per
    # group (deterministic order) so truncation is DETECTED, the verdict
    # fails closed (all-modes-in-set can't be proven from a sample), and
    # details carry the flag.
    max_modes = int(kw.get("max_modes", 100))
    mode_a = metric_alias("column.mode_set", column=colname)
    any_a = metric_alias("column.mode_any_in_set", column=colname)

    def post_pass(frame: DataFrame, group_by: list[str], groups, kept):
        from pyspark.sql import Window

        counted = (
            frame.where(F.col(colname).isNotNull())
            .groupBy(*(group_by + [colname]))
            .agg(F.count(F.lit(1)).alias("__cnt"))
        )
        if group_by:
            w = Window.partitionBy(*group_by)
            wr = Window.partitionBy(*group_by).orderBy(F.col(colname))
            tied = counted.withColumn("__max", F.max("__cnt").over(w)).where(
                F.col("__cnt") == F.col("__max")
            )
            rows = (
                tied.withColumn("__rn", F.row_number().over(wr))
                .where(F.col("__rn") <= max_modes + 1)
                .collect()
            )
        else:
            # ungrouped: distributed max + TakeOrdered, no lit(1) window
            mx = counted.agg(F.max("__cnt").alias("m")).first()["m"]
            tied = (
                counted.where(F.col("__cnt") == F.lit(mx)) if mx is not None else None
            )
            rows = (
                tied.orderBy(F.col(colname)).limit(max_modes + 1).collect()
                if tied is not None
                else []
            )
        out: dict = {}
        for r in rows:
            key = tuple(r[k] for k in group_by) if group_by else ()
            out.setdefault(key, {mode_a: []})[mode_a].append(r[colname])
        for key, m in out.items():
            m[mode_a] = sorted(m[mode_a], key=str)
        if ties_okay:
            # A truncated sample can MISS an in-set mode that sorted after
            # the cap (false failure; ADVICE r3) — probe the full tied set
            # distributed. One extra job, only for groups that truncated.
            trunc_keys = [
                k for k, m in out.items() if len(m[mode_a]) > max_modes
            ]
            if trunc_keys and tied is not None:
                probe = tied
                if group_by:
                    # broadcast semi-join on the truncated keys, not an
                    # OR-chain of per-group predicates (an O(G)-deep boolean
                    # tree chokes Catalyst analysis at high group
                    # cardinality — ADVICE r4)
                    kdf = local_frame(
                        frame.sparkSession,
                        [tuple(g) for g in trunc_keys],
                        frame.select(*group_by).schema,
                    )
                    cond = None
                    for k in group_by:
                        eq = probe[k].eqNullSafe(kdf[k])
                        cond = eq if cond is None else cond & eq
                    probe = probe.join(F.broadcast(kdf), on=cond, how="left_semi")
                    for r in (
                        probe.groupBy(*group_by)
                        .agg(F.max(F.col(colname).isin(list(vs))).alias("__any"))
                        .collect()
                    ):
                        out[tuple(r[k] for k in group_by)][any_a] = bool(r["__any"])
                else:
                    r = probe.agg(
                        F.max(F.col(colname).isin(list(vs))).alias("__any")
                    ).first()
                    out[()][any_a] = bool(r["__any"])
        return out

    def verdict(metrics: dict[str, Any]) -> dict[str, Any]:
        modes = metrics.get(mode_a) or []
        truncated = len(modes) > max_modes
        modes = modes[:max_modes]
        if not modes:
            success = True  # vacuous on empty domain
        elif ties_okay:
            # exact under truncation: the probe scanned ALL tied modes
            success = metrics[any_a] if truncated else any(v in vs for v in modes)
        else:
            # fail closed under truncation: can't prove ALL modes in set
            success = (not truncated) and all(v in vs for v in modes)
        details: dict[str, Any] = {}
        if truncated:
            details["mode_set_truncated"] = True
            details["hint"] = (
                f"observed_value holds the first {max_modes} tied modes only; "
                "raise kwargs['max_modes'] to see more"
                + (
                    ""
                    if ties_okay
                    else "; ties_okay=False cannot be proven from a sample, "
                    "so the verdict fails closed"
                )
            )
        return {"success": success, "observed_value": modes, "details": details}

    return CompiledConstraint(
        constraint=constraint,
        agg_terms=[],
        verdict_fn=verdict,
        post_pass_fn=post_pass,
        post_pass_needs_metrics=False,  # mode set needs no pass-1 metrics
    )


def _distinct_set_constraint(type_name: str, check) -> None:
    @register(type_name)
    def _compile(constraint: Constraint, df: DataFrame, ctx: dict) -> CompiledConstraint:
        """ref: dataset/dataset.py:2303,2418,2508 — driver set comparison on
        collected distinct values (bounded-cardinality columns only)."""
        kw = constraint.kwargs
        a = metric_alias("column.distinct_values", column=kw["column"])
        vs = kw.get("value_set")
        # value_set=None is GE's observe-only mode (BasicDatasetProfiler
        # emits it, basic_dataset_profiler.py:171-175): succeed, record
        expected = None if vs is None else set(vs)

        def verdict(metrics: dict[str, Any]) -> dict[str, Any]:
            observed = set(metrics.get(a) or [])
            return {
                "success": expected is None or check(observed, expected),
                "observed_value": sorted(observed, key=str),
            }

        return CompiledConstraint(
            constraint=constraint,
            agg_terms=[AggTerm(a, F.collect_set(F.col(kw["column"])))],
            verdict_fn=verdict,
        )


_distinct_set_constraint(
    "expect_column_distinct_values_to_be_in_set", lambda obs, exp: obs <= exp
)
_distinct_set_constraint(
    "expect_column_distinct_values_to_equal_set", lambda obs, exp: obs == exp
)
_distinct_set_constraint(
    "expect_column_distinct_values_to_contain_set", lambda obs, exp: obs >= exp
)


# --------------------------------------------------------------------------
# table shape
# --------------------------------------------------------------------------


@register("expect_table_row_count_to_be_between")
def c_row_count_between(constraint: Constraint, df: DataFrame, ctx: dict) -> CompiledConstraint:
    """ref: table_row_count.py:55-69."""
    return _agg_between(constraint, metric_term(df, "table.row_count"))


@register("expect_table_row_count_to_equal")
def c_row_count_equal(constraint: Constraint, df: DataFrame, ctx: dict) -> CompiledConstraint:
    return _agg_between(
        constraint, metric_term(df, "table.row_count"), lambda v, kw: v == kw["value"]
    )


@register("expect_table_row_count_to_equal_other_table")
def c_row_count_other(constraint: Constraint, df: DataFrame, ctx: dict) -> CompiledConstraint:
    """ref: expect_table_row_count_to_equal_other_table.py:130-166.

    The other table comes from ctx["tables"][kwargs["other_table_name"]];
    its count is one extra tiny job at verdict-build time."""
    kw = constraint.kwargs
    t = metric_term(df, "table.row_count")
    other: DataFrame = ctx["tables"][kw["other_table_name"]]
    other_count = other.count()

    def verdict(metrics: dict[str, Any]) -> dict[str, Any]:
        v = metrics.get(t.alias)
        return {"success": v == other_count, "observed_value": {"self": v, "other": other_count}}

    return CompiledConstraint(constraint=constraint, agg_terms=[t], verdict_fn=verdict)


def _schema_constraint(type_name: str, check) -> None:
    """A metadata check: ``check(df, kwargs) -> (observed, success)`` runs at
    compile time, so every group gets the same verdict and no term."""

    @register(type_name)
    def _compile(constraint: Constraint, df: DataFrame, ctx: dict) -> CompiledConstraint:
        observed, success = check(df, constraint.kwargs)
        fields = {"success": success, "observed_value": observed}
        return CompiledConstraint(constraint=constraint, verdict_fn=lambda metrics: fields)


# ref: table_column_count.py:20-57, table_columns.py:25-62
_schema_constraint(
    "expect_table_column_count_to_equal",
    lambda df, kw: (len(df.columns), len(df.columns) == kw["value"]),
)
_schema_constraint(
    "expect_table_column_count_to_be_between",
    lambda df, kw: (
        len(df.columns),
        (kw.get("min_value") is None or len(df.columns) >= kw["min_value"])
        and (kw.get("max_value") is None or len(df.columns) <= kw["max_value"]),
    ),
)
_schema_constraint(
    "expect_table_columns_to_match_ordered_list",
    # column_list=None is GE's observe-only mode (BasicDatasetProfiler
    # emits it, basic_dataset_profiler.py:135): succeed, record columns
    lambda df, kw: (
        list(df.columns),
        kw.get("column_list") is None
        or list(df.columns) == list(kw["column_list"]),
    ),
)
_schema_constraint(
    "expect_table_columns_to_match_set",
    lambda df, kw: (
        sorted(df.columns),
        (set(df.columns) >= set(kw["column_set"]))
        if kw.get("exact_match") is False
        else (set(df.columns) == set(kw["column_set"])),
    ),
)
_schema_constraint(
    "expect_column_to_exist",
    lambda df, kw: (kw["column"] in df.columns, kw["column"] in df.columns),
)


def _type_check(type_names):
    """A metadata check, not a row scan — exactly the reference's Spark
    behavior (expect_column_values_to_be_of_type.py:311-332): the column's
    Spark type is one of ``type_names(kwargs)``; an unknown name matches
    nothing."""

    def check(df: DataFrame, kw: dict[str, Any]) -> tuple[str, bool]:
        dtype = df.schema[kw["column"]].dataType
        classes = tuple(c for c in (getattr(SparkTypes, t, None) for t in type_names(kw)) if c)
        return dtype.simpleString(), isinstance(dtype, classes)

    return check


_schema_constraint("expect_column_values_to_be_of_type", _type_check(lambda kw: [kw["type_"]]))
_schema_constraint("expect_column_values_to_be_in_type_list", _type_check(lambda kw: kw["type_list"]))
