"""Constraint-type registry: type name -> compiler.

A compiler lowers a declarative ``Constraint`` to a ``CompiledConstraint``
(fused agg terms + verdict fn + optional violations/post-pass jobs). The
verdict fn returns only what it observed (``success`` and the observed
fields); ``CompiledConstraint.verdict`` builds the ``ConstraintResult``.
Mirrors the reference's expectation-class registry
(/root/reference/src/data_profiler/expectations/registry.py) without the
metaclass machinery: registration is an explicit decorator.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame

from data_profiler_spark.core.suite import Constraint
from data_profiler_spark.plans.fused import CompiledConstraint

# compiler(constraint, df, ctx) -> CompiledConstraint
Compiler = Callable[[Constraint, DataFrame, dict[str, Any]], CompiledConstraint]

COMPILERS: dict[str, Compiler] = {}


def register(name: str) -> Callable[[Compiler], Compiler]:
    def deco(fn: Compiler) -> Compiler:
        COMPILERS[name] = fn
        return fn

    return deco


def compile_constraint(
    constraint: Constraint, df: DataFrame, ctx: dict[str, Any] | None = None
) -> CompiledConstraint:
    if constraint.type not in COMPILERS:
        raise KeyError(
            f"unknown constraint type {constraint.type!r}; known: {sorted(COMPILERS)}"
        )
    return COMPILERS[constraint.type](constraint, df, ctx or {})


def ensure_registered() -> None:
    """Import every operator module so its @register decorators run."""
    from data_profiler_spark.operators import (  # noqa: F401
        aggregates,
        distribution,
        map_constraints,
        referential,
        uniqueness,
    )
