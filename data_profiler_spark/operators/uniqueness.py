"""Uniqueness constraints — the skew-safe replacement for the reference's
window-function approach.

The reference computes row-level uniqueness with
``count(1).over(Window.partitionBy(column)) <= 1``
(column_values_unique.py:81-86; compound_columns_unique.py:31-36). On a
skewed key that window puts EVERY row of the hot value into one task — the
canonical 100-TB OOM. We instead use a plain count aggregation, whose
MAP-SIDE PARTIAL AGG gives the same skew bound for free: a hot key
contributes at most one partial row per input partition, and the reduce
side merges P longs, never the raw rows. (r7: the earlier explicit
spark_partition_id() salt re-stated that bound while paying a second full
exchange over the partial rows — see duplicate_key_counts. An explicit
salt stays necessary only for aggregates with no map-side combiner, e.g.
collect_list.) Violation attribution joins the dup keys back — a broadcast
join when the dup-key set is small, which it is in any passing or
near-passing run.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_spark.core.result import ConstraintResult
from data_profiler_spark.core.suite import Constraint
from data_profiler_spark.operators.registry import register
from data_profiler_spark.plans.fused import AggTerm, CompiledConstraint, metric_alias


def duplicate_key_counts(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Keys occurring more than once, with their total row counts.

    ONE groupBy (r7): for a COUNT aggregate, Spark's map-side partial
    aggregation already emits at most one row per (key, input partition)
    before the exchange — exactly the bound the r6 explicit
    ``spark_partition_id()`` salt provided, which therefore only added a
    second full exchange over the partial rows (the salted stage-1 output
    had to be shuffled on (key, salt) even though every such group lives
    entirely in one map partition). A hot key still costs one partial row
    per partition; the reduce side merges P small longs, never the raw
    rows. The salt remains the right tool for aggregates WITHOUT a
    map-side combiner (collect_list and friends), not for counts."""
    return (
        df.select(*key_cols)
        .groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("key_count"))
        .where(F.col("key_count") > 1)
    )


def _compile_unique(constraint: Constraint, df: DataFrame, key_cols: list[str]) -> CompiledConstraint:
    """``scope`` kwarg pins what "duplicate" means under grouped validation:

    - ``"group"`` (default): a key is duplicated iff it repeats WITHIN the
      verdict group. Verdicts are a pure function of each group's rows —
      independent of chunk boundaries and resume history (the CheckpointRunner
      validates pending partitions in arbitrary chunks).
    - ``"table"``: duplicated anywhere in the validated frame. Only meaningful
      when the frame is the whole table in one pass.
    """
    kw = constraint.kwargs
    mostly = float(kw.get("mostly", 1.0))
    scope = str(kw.get("scope", "group"))
    # broadcast the dup-key set into attribution joins (right for the small
    # dup sets of near-passing runs); set False on suites expected to fail
    # wholesale so AQE picks a shuffled join instead of shipping a huge set
    do_broadcast = bool(kw.get("broadcast_dup_join", True))

    def _maybe_b(d: DataFrame) -> DataFrame:
        return F.broadcast(d) if do_broadcast else d
    elem_a = metric_alias("element_count", rc=None)
    miss_a = metric_alias("missing_count", domain=",".join(key_cols), rc=None)
    unex_a = metric_alias("unexpected_count", constraint_id=constraint.id)

    key_nonnull = F.lit(True)
    for c in key_cols:
        key_nonnull = key_nonnull & F.col(c).isNotNull()

    terms = [
        AggTerm(elem_a, F.count(F.lit(1))),
        AggTerm(miss_a, F.sum(F.when(~key_nonnull, 1).otherwise(0))),
    ]

    def post_pass(frame: DataFrame, group_by: list[str], groups):
        if not group_by:
            dups = duplicate_key_counts(frame.where(key_nonnull), key_cols)
            row = dups.agg(F.coalesce(F.sum("key_count"), F.lit(0)).alias("n")).first()
            return {(): {unex_a: int(row["n"])}}
        if scope == "group":
            # per-group duplicates: include the group keys in the dedup key,
            # then sum duplicated-row counts per group — ONE salted pass,
            # verdicts independent of chunking/resume history.
            dups = duplicate_key_counts(
                frame.where(key_nonnull), group_by + key_cols
            )
            rows = (
                dups.groupBy(*group_by)
                .agg(F.sum("key_count").alias("n"))
                .collect()
            )
        else:
            # table scope: a key duplicated anywhere in the frame marks all
            # its rows; attribute rows to groups via broadcast semi-join
            # (the dup-key set is small in any near-passing run).
            dups = duplicate_key_counts(frame.where(key_nonnull), key_cols)
            joined = frame.where(key_nonnull).join(
                _maybe_b(dups.select(*key_cols)), on=key_cols, how="left_semi"
            )
            rows = joined.groupBy(*group_by).agg(F.count(F.lit(1)).alias("n")).collect()
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
            kwargs=dict(kw),
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

    def violations(frame: DataFrame, group_by: list[str]) -> DataFrame:
        # the rows post_pass counts: with scope="group", a key repeated only
        # across groups is not a violation
        keys = group_by + key_cols if scope == "group" else key_cols
        dups = duplicate_key_counts(frame.where(key_nonnull), keys)
        return frame.join(_maybe_b(dups.select(*keys)), on=keys, how="left_semi")

    return CompiledConstraint(
        constraint=constraint,
        agg_terms=terms,
        verdict_fn=verdict,
        violations_fn=violations,
        post_pass_fn=post_pass,
        post_pass_needs_metrics=False,  # salted dup count needs no pass-1 metrics
    )


@register("expect_column_values_to_be_unique")
def c_unique(constraint: Constraint, df: DataFrame, ctx: dict) -> CompiledConstraint:
    return _compile_unique(constraint, df, [constraint.kwargs["column"]])


@register("expect_compound_columns_to_be_unique")
def c_compound_unique(constraint: Constraint, df: DataFrame, ctx: dict) -> CompiledConstraint:
    return _compile_unique(constraint, df, list(constraint.kwargs["column_list"]))
