"""Referential-integrity constraint (the north-rule repo -> commit check).

A row is unexpected when its key, with no NULL part, has no match in the
other table. The terms, the per-group count and the verdict are
``compile_map_constraint``'s; this module plans the orphan rows. The
reference only has the SQLAlchemy ``notin_(dup_subquery)`` shape
(column_values_unique.py:49-79) and cross-table row-count comparison; a
real foreign-key check over Spark is an anti-join:

    orphans = facts LEFT ANTI JOIN dim ON key

which is both the violations plan and, counted per group, the unexpected
count. A post pass asked to keep its orphan key projection checkpoints it,
and sampling semi-joins the rows against those keys instead of repeating
the anti-join. Physical strategy: the planner broadcasts the dimension when
its size estimate is under the session's broadcast threshold; otherwise
Catalyst/AQE picks a shuffled join with skew-join splitting. The join key
(repo, commit) is high-cardinality, so no salting is needed — skew handling
matters on the per-group count, which groups by the fused-pass group keys.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_spark.core.suite import Constraint
from data_profiler_spark.operators.map_constraints import compile_map_constraint
from data_profiler_spark.operators.registry import register
from data_profiler_spark.plans.fused import CompiledConstraint, nan_as_null


@register("expect_compound_columns_to_exist_in_table")
def c_referential(constraint: Constraint, df: DataFrame, ctx: dict) -> CompiledConstraint:
    """kwargs: column_list, other_table_name (in ctx["tables"]),
    other_column_list (defaults to column_list), mostly."""
    kw = constraint.kwargs
    key_cols = list(kw["column_list"])
    other_cols = list(kw.get("other_column_list", key_cols))
    other: DataFrame = ctx["tables"][kw["other_table_name"]]

    # no dropDuplicates (r7): LEFT ANTI is duplicate-insensitive on the
    # build side — the dedup was a full shuffle of every dim key for
    # nothing (a broadcast hash relation dedups by construction, and a
    # sort-merge anti join stops at the first match per key)
    dim = other.select(
        *[F.col(o).alias(k) for o, k in zip(other_cols, key_cols)]
    )
    # a float NaN key part is NULL: the row is missing, never an orphan
    key_nonnull = reduce(
        lambda a, b: a & b, [nan_as_null(df, c).isNotNull() for c in key_cols]
    )

    def orphans(frame: DataFrame, group_by: list[str]) -> DataFrame:
        return frame.where(key_nonnull).join(dim, on=key_cols, how="left_anti")

    def orphan_keys(frame: DataFrame, group_by: list[str], groups):
        # the count reads only these columns, and a kept frame holds only them
        keys = orphans(frame, group_by).select(*dict.fromkeys(group_by + key_cols))
        return keys, F.count(F.lit(1))

    def orphans_of(frame: DataFrame, group_by: list[str], keys: DataFrame) -> DataFrame:
        # a row whose key is an orphan key is an orphan; the equi-join
        # drops NULL keys itself
        return frame.join(keys.select(*key_cols), on=key_cols, how="left_semi")

    return compile_map_constraint(
        constraint,
        df,
        domain_nonnull=key_nonnull,
        unexpected_count=orphan_keys,
        violations=orphans,
        violations_from=orphans_of,
    )
