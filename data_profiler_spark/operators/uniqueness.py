"""Uniqueness constraints: a row is unexpected when its key, with no NULL
part, occurs more than once. The terms, the per-group count and the
verdict are ``compile_map_constraint``'s; this module plans the rest.

- Duplicate keys: ONE count aggregation (``duplicate_key_counts``). The
  reference's ``count(1).over(Window.partitionBy(column)) <= 1``
  (column_values_unique.py:81-86; compound_columns_unique.py:31-36) puts
  EVERY row of a hot key into one task — the canonical 100-TB OOM. The
  aggregation's MAP-SIDE PARTIAL AGG bounds a hot key at one partial row
  per input partition, and the reduce side merges P longs, never the raw
  rows. (r7: the earlier explicit spark_partition_id() salt re-stated that
  bound while paying a second full exchange over the partial rows. An
  explicit salt stays necessary only for aggregates with no map-side
  combiner, e.g. collect_list.)
- Violating rows: a left semi-join of the rows against the duplicate keys.
  The planner broadcasts the dup-key set when its size estimate is under
  the session's broadcast threshold, which it is in any passing or
  near-passing run, and shuffles both sides when it is not. A group-scoped
  post pass asked to keep its duplicate keys checkpoints them, and sampling
  joins against those instead of repeating the aggregation.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_spark.core.suite import Constraint
from data_profiler_spark.operators.map_constraints import compile_map_constraint
from data_profiler_spark.operators.registry import register
from data_profiler_spark.plans.fused import CompiledConstraint, nan_as_null


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


def _compile_unique(
    constraint: Constraint, df: DataFrame, key_cols: list[str]
) -> CompiledConstraint:
    """Unexpected rows: rows whose key, with no NULL part (a float NaN is
    NULL), occurs more than once WITHIN the verdict group, so a group's
    verdict is a function of its own rows alone, whatever chunk of groups
    the pass validates (FIXTURES.md §5). Counted per group as the summed
    ``key_count`` of the duplicate keys; the violations plan is a semi-join
    against them."""
    key_nonnull = reduce(
        lambda a, b: a & b, [nan_as_null(df, c).isNotNull() for c in key_cols]
    )

    def dup_keys(frame: DataFrame, group_by: list[str]) -> DataFrame:
        return duplicate_key_counts(frame.where(key_nonnull), group_by + key_cols)

    def dup_rows(
        frame: DataFrame, group_by: list[str], dups: DataFrame | None = None
    ) -> DataFrame:
        """``dups``: the duplicate keys, when a post pass kept them."""
        if dups is None:
            dups = dup_keys(frame, group_by)
        keys = group_by + key_cols
        # the equi-join drops NULL keys itself, and no NaN key is a dup key
        return frame.join(dups.select(*keys), on=keys, how="left_semi")

    return compile_map_constraint(
        constraint,
        df,
        domain_nonnull=key_nonnull,
        unexpected_count=lambda frame, group_by, groups: (
            dup_keys(frame, group_by), F.sum("key_count")
        ),
        violations=dup_rows,
        violations_from=dup_rows,
    )


@register("expect_column_values_to_be_unique")
def c_unique(constraint: Constraint, df: DataFrame, ctx: dict) -> CompiledConstraint:
    return _compile_unique(constraint, df, [constraint.kwargs["column"]])


@register("expect_compound_columns_to_be_unique")
def c_compound_unique(constraint: Constraint, df: DataFrame, ctx: dict) -> CompiledConstraint:
    return _compile_unique(constraint, df, list(constraint.kwargs["column_list"]))
