"""Referential-integrity constraint (the north-rule repo -> commit check).

The reference only has the SQLAlchemy ``notin_(dup_subquery)`` shape
(column_values_unique.py:49-79) and cross-table row-count comparison; a real
foreign-key check over Spark is an anti-join:

    violations = facts LEFT ANTI JOIN dim ON key

Physical strategy: broadcast the dimension when small (explicit
``F.broadcast`` under ``broadcast=True`` or when the caller knows the dim is
bounded); otherwise let Catalyst/AQE pick sort-merge with skew-join
splitting. The join key (repo, commit) is high-cardinality, so no salting is
needed — skew handling matters on the verdict groupBy, which reuses the
fused-pass group keys.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_spark.core.result import ConstraintResult
from data_profiler_spark.core.suite import Constraint
from data_profiler_spark.operators.registry import register
from data_profiler_spark.plans.fused import AggTerm, CompiledConstraint, metric_alias


@register("expect_compound_columns_to_exist_in_table")
def c_referential(constraint: Constraint, df: DataFrame, ctx: dict) -> CompiledConstraint:
    """kwargs: column_list, other_table_name (in ctx["tables"]),
    other_column_list (defaults to column_list), broadcast (default True),
    mostly."""
    kw = constraint.kwargs
    key_cols = list(kw["column_list"])
    other_cols = list(kw.get("other_column_list", key_cols))
    other: DataFrame = ctx["tables"][kw["other_table_name"]]
    do_broadcast = bool(kw.get("broadcast", True))
    mostly = float(kw.get("mostly", 1.0))

    # no dropDuplicates (r7): LEFT ANTI is duplicate-insensitive on the
    # build side — the dedup was a full shuffle of every dim key for
    # nothing (a broadcast hash relation dedups by construction, and a
    # sort-merge anti join stops at the first match per key)
    dim = other.select(
        *[F.col(o).alias(k) for o, k in zip(other_cols, key_cols)]
    )
    if do_broadcast:
        dim = F.broadcast(dim)

    key_nonnull = F.lit(True)
    for c in key_cols:
        key_nonnull = key_nonnull & F.col(c).isNotNull()

    elem_a = metric_alias("element_count", rc=None)
    miss_a = metric_alias("missing_count", domain=",".join(key_cols), rc=None)
    unex_a = metric_alias("unexpected_count", constraint_id=constraint.id)

    terms = [
        AggTerm(elem_a, F.count(F.lit(1))),
        AggTerm(miss_a, F.sum(F.when(~key_nonnull, 1).otherwise(0))),
    ]

    def _orphans(frame: DataFrame) -> DataFrame:
        return frame.where(key_nonnull).join(dim, on=key_cols, how="left_anti")

    def post_pass(frame: DataFrame, group_by: list[str], groups):
        orphans = _orphans(frame)
        if not group_by:
            n = orphans.count()
            return {(): {unex_a: int(n)}}
        rows = orphans.groupBy(*group_by).agg(F.count(F.lit(1)).alias("n")).collect()
        out = {tuple(r[k] for k in group_by): {unex_a: int(r["n"])} for r in rows}
        for g, _m in groups:
            out.setdefault(g, {unex_a: 0})
        return out

    def verdict(metrics: dict[str, Any], group: dict[str, Any]) -> ConstraintResult:
        element_count = int(metrics.get(elem_a) or 0)
        missing = int(metrics.get(miss_a) or 0)
        unexpected_n = int(metrics.get(unex_a) or 0)
        nonnull = element_count - missing
        success = True if nonnull <= 0 else (nonnull - unexpected_n) / nonnull >= mostly
        return ConstraintResult(
            constraint_id=constraint.id,
            constraint_type=constraint.type,
            kwargs={k: v for k, v in kw.items()},
            success=bool(success),
            group=group,
            element_count=element_count,
            unexpected_count=unexpected_n,
            missing_count=missing,
            unexpected_percent=(100.0 * unexpected_n / nonnull) if nonnull else None,
            unexpected_percent_total=(
                100.0 * unexpected_n / element_count if element_count else None
            ),
        )

    return CompiledConstraint(
        constraint=constraint,
        agg_terms=terms,
        verdict_fn=verdict,
        violations_fn=lambda frame, group_by: _orphans(frame),
        post_pass_fn=post_pass,
        post_pass_needs_metrics=False,  # anti-join needs no pass-1 metrics
    )
