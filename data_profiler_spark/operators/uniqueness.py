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
from data_profiler_spark.plans.fused import CompiledConstraint


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
    """Unexpected rows: rows whose key, with no NULL part, occurs more than
    once. Counted per group as the summed ``key_count`` of the duplicate
    keys (group scope) or as the rows a semi-join against the duplicate
    keys keeps (table scope); the violations plan is that semi-join.

    The ``scope`` kwarg pins what "duplicate" means under grouped validation:

    - ``"group"`` (default): a key is duplicated iff it repeats WITHIN the
      verdict group. Verdicts are a pure function of each group's rows —
      independent of chunk boundaries and resume history (the CheckpointRunner
      validates pending partitions in arbitrary chunks).
    - ``"table"``: duplicated anywhere in the validated frame. Only meaningful
      when the frame is the whole table in one pass.
    """
    kw = constraint.kwargs
    by_group = str(kw.get("scope", "group")) == "group"
    key_nonnull = reduce(lambda a, b: a & b, [F.col(c).isNotNull() for c in key_cols])

    def keys(group_by: list[str]) -> list[str]:
        return group_by + key_cols if by_group else key_cols

    def dup_keys(frame: DataFrame, group_by: list[str]) -> DataFrame:
        return duplicate_key_counts(frame.where(key_nonnull), keys(group_by))

    def dup_rows(
        frame: DataFrame, group_by: list[str], dups: DataFrame | None = None
    ) -> DataFrame:
        """``dups``: the duplicate keys, when a post pass kept them."""
        if dups is None:
            dups = dup_keys(frame, group_by)
        dups = dups.select(*keys(group_by))
        # the equi-join drops NULL keys itself
        return frame.join(dups, on=keys(group_by), how="left_semi")

    def unexpected_count(frame: DataFrame, group_by: list[str], groups):
        if by_group:
            return dup_keys(frame, group_by), F.sum("key_count")
        return dup_rows(frame, group_by), F.count(F.lit(1))

    return compile_map_constraint(
        constraint,
        df,
        domain_nonnull=key_nonnull,
        unexpected_count=unexpected_count,
        violations=dup_rows,
        # a table-scope count is of the duplicate rows, too wide to keep
        violations_from=dup_rows if by_group else None,
    )


@register("expect_column_values_to_be_unique")
def c_unique(constraint: Constraint, df: DataFrame, ctx: dict) -> CompiledConstraint:
    return _compile_unique(constraint, df, [constraint.kwargs["column"]])


@register("expect_compound_columns_to_be_unique")
def c_compound_unique(constraint: Constraint, df: DataFrame, ctx: dict) -> CompiledConstraint:
    return _compile_unique(constraint, df, list(constraint.kwargs["column_list"]))
