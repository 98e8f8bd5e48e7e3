"""Splitters & samplers — SURVEY §2.1.

The reference's batch splitters/samplers
(sparkdf_execution_engine.py:698-864) re-expressed with native functions
only. Its md5/sha Python UDFs (``:766-795, 832-864``) become
``pmod(xxhash64(col), k)`` / ``sha2`` — JVM-side, codegen-friendly, and
usable as Iceberg partition predicates for pruning.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ---- splitters (logical partitioning of one table) -----------------------

def split_on_column_value(df: DataFrame, column: str, value: Any) -> DataFrame:
    return df.where(F.col(column) == F.lit(value))


def split_on_converted_datetime(
    df: DataFrame, column: str, date_format: str, value: str
) -> DataFrame:
    """ref: _split_on_converted_datetime (from_unixtime + format filter)."""
    return df.where(F.date_format(F.col(column), date_format) == F.lit(value))


def split_on_divided_integer(df: DataFrame, column: str, divisor: int, value: int) -> DataFrame:
    return df.where((F.col(column) / divisor).cast("int") == F.lit(value))


def split_on_mod_integer(df: DataFrame, column: str, mod: int, value: int) -> DataFrame:
    return df.where(F.pmod(F.col(column), F.lit(mod)) == F.lit(value))


def split_on_multi_column_values(df: DataFrame, values: dict[str, Any]) -> DataFrame:
    out = df
    for c, v in values.items():
        out = out.where(F.col(c) == F.lit(v))
    return out


# ---- samplers -------------------------------------------------------------

def sample_using_mod(df: DataFrame, column: str, mod: int, value: int) -> DataFrame:
    return df.where(F.pmod(F.col(column), F.lit(mod)) == F.lit(value))


def sample_using_a_list(df: DataFrame, column: str, value_list: list[Any]) -> DataFrame:
    return df.where(F.col(column).isin(value_list))


def sample_stratified_by_hash(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    fractions: dict[Any, float],
    default_fraction: float = 1.0,
    buckets: int = 10_000,
) -> DataFrame:
    """Deterministic stratified sampling — the training-data rebalancing
    primitive (e.g. downsample dominant languages to a target mix). A row
    survives iff md5(key) mod buckets < fraction(stratum) * buckets, so
    the sample is reproducible run-to-run, independent of partitioning,
    and exactly portable to any engine with md5 (unlike rand()/xxhash64).

    Scale: pure narrow projection+filter — no shuffle, no sampling state,
    pushes into whole-stage codegen; fraction resolution is a literal CASE
    chain over the (small) strata map, never a join."""
    bucket = F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10).cast(
        "long"
    ) % buckets
    frac: Column = F.lit(float(default_fraction))
    for value, f in sorted(fractions.items(), key=lambda kv: str(kv[0])):
        # isNull for a None stratum: `col == lit(None)` is NULL and would
        # silently drop NULL-stratum rows instead of applying their rate
        cond = (
            F.col(strata_col).isNull()
            if value is None
            else F.col(strata_col) == F.lit(value)
        )
        frac = F.when(cond, float(f)).otherwise(frac)
    return df.where(bucket < frac * buckets)
