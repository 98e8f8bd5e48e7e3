"""Result shapes — mirrors the reference's ExpectationValidationResult.

Field semantics follow /root/reference/src/data_profiler/expectations/
expectation.py:1321-1369 (map verdicts) and :1760-1871 (_format_map_output):
- ``success`` for every row-count constraint (map constraints, uniqueness,
  referential, z-score, monotonicity) = (nonnull - unexpected)/nonnull >=
  mostly, vacuously True when the domain is empty (expectation.py:1354-1356);
- ``unexpected_percent`` is relative to nonnull values,
  ``unexpected_percent_total`` relative to all rows (expectation.py:1793-1825);
- suite ``statistics`` mirror validator.py:1465-1488.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any


@dataclass
class ConstraintResult:
    constraint_id: str
    constraint_type: str
    kwargs: dict[str, Any]
    success: bool
    group: dict[str, Any] = field(default_factory=dict)
    element_count: int | None = None
    unexpected_count: int | None = None
    unexpected_percent: float | None = None
    unexpected_percent_total: float | None = None
    missing_count: int | None = None
    observed_value: Any = None
    details: dict[str, Any] = field(default_factory=dict)
    partial_unexpected_list: list[Any] | None = None
    partial_unexpected_counts: list[dict[str, Any]] | None = None
    unexpected_list: list[Any] | None = None
    exception_info: str | None = None

    def to_row(self) -> dict[str, Any]:
        """Flatten for the results table (checkpoint store)."""
        import json

        return {
            "constraint_id": self.constraint_id,
            "constraint_type": self.constraint_type,
            "success": bool(self.success),
            "group_json": json.dumps(self.group, sort_keys=True, default=str),
            "element_count": self.element_count,
            "unexpected_count": self.unexpected_count,
            "observed_json": json.dumps(
                {
                    "observed_value": self.observed_value,
                    "unexpected_percent": self.unexpected_percent,
                    "unexpected_percent_total": self.unexpected_percent_total,
                    "missing_count": self.missing_count,
                    "partial_unexpected_list": self.partial_unexpected_list,
                    "partial_unexpected_counts": self.partial_unexpected_counts,
                    "details": self.details,
                },
                sort_keys=True,
                default=str,
            ),
            "exception_info": self.exception_info,
        }


@dataclass
class ValidationPlan:
    """What one ``validate`` compiled, for violation sampling to plan
    from: the ``validator`` that ran it, its ``compiled`` constraints, its
    ``group_by``, and, under ``validate(keep_violations=True)``, the
    ``frames`` the post passes kept by constraint id: a group-scoped
    uniqueness constraint's duplicate keys and a referential constraint's
    orphan keys, so sampling skips the duplicate search or the anti-join.
    Whoever asked for kept frames calls ``release()``; nothing else does."""

    validator: Any
    compiled: list[Any]
    group_by: list[str]
    frames: dict[str, Any] = field(default_factory=dict)

    def keep(self, constraint_id: str, df: Any) -> Any:
        # A lazy local checkpoint is written by the post pass's own action
        # and adds no job. ``cache()`` adds one to every post pass:
        # adaptive execution materializes a table cache as a stage of its
        # own.
        self.frames[constraint_id] = df = df.localCheckpoint(eager=False)
        return df

    def release(self) -> None:
        for df in self.frames.values():
            # DataFrame has no public handle on its checkpointed RDD, and
            # ``RDD.unpersist`` logs a WARN for every locally checkpointed one
            rdd = df._jdf.queryExecution().logical().rdd()
            df.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd.id(), False)
        self.frames.clear()


@dataclass
class SuiteResult:
    suite_name: str
    suite_fingerprint: str
    results: list[ConstraintResult]
    plan: ValidationPlan | None = field(default=None, repr=False, compare=False)

    @property
    def success(self) -> bool:
        return all(r.success for r in self.results)

    @property
    def statistics(self) -> dict[str, Any]:
        evaluated = len(self.results)
        successful = sum(1 for r in self.results if r.success)
        return {
            "evaluated_expectations": evaluated,
            "successful_expectations": successful,
            "unsuccessful_expectations": evaluated - successful,
            "success_percent": (100.0 * successful / evaluated) if evaluated else None,
        }

    def to_ge_dict(self) -> dict[str, Any]:
        """Reference-format validation-result dict (see
        ``suite_result_to_ge_dict``)."""
        return suite_result_to_ge_dict(self)


def _ge_result_fields(r: "ConstraintResult") -> dict[str, Any]:
    out: dict[str, Any] = {}
    for src, dst in [
        ("observed_value", "observed_value"),
        ("element_count", "element_count"),
        ("unexpected_count", "unexpected_count"),
        ("unexpected_percent", "unexpected_percent"),
        ("unexpected_percent_total", "unexpected_percent_total"),
        ("missing_count", "missing_count"),
        ("partial_unexpected_list", "partial_unexpected_list"),
        ("partial_unexpected_counts", "partial_unexpected_counts"),
        ("unexpected_list", "unexpected_list"),
    ]:
        v = getattr(r, src)
        if v is not None:
            out[dst] = v
    if r.details:
        out["details"] = dict(r.details)
    return out


def suite_result_to_ge_dict(res: "SuiteResult") -> dict[str, Any]:
    """Reference-format ExpectationSuiteValidationResult dict
    (core/expectation_validation_result.py: success / results[
    {expectation_config, success, result, exception_info}] / statistics /
    meta) — so downstream consumers of the reference's result JSON keep
    working. Grouped verdicts carry their group under
    ``expectation_config.meta.group``."""
    results = []
    for r in res.results:
        results.append(
            {
                "expectation_config": {
                    "expectation_type": r.constraint_type,
                    "kwargs": dict(r.kwargs),
                    "meta": {"group": dict(r.group)} if r.group else {},
                },
                "success": bool(r.success),
                "result": _ge_result_fields(r),
                "exception_info": {
                    "raised_exception": r.exception_info is not None,
                    "exception_message": r.exception_info,
                    "exception_traceback": None,
                },
            }
        )
    return {
        "success": bool(res.success),
        "results": results,
        "statistics": res.statistics,
        "meta": {
            "expectation_suite_name": res.suite_name,
            "suite_fingerprint": res.suite_fingerprint,
        },
    }
