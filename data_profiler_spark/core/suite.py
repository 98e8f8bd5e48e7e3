"""Declarative constraint suites.

The JSON-serializable analogue of the reference's ExpectationSuite /
ExpectationConfiguration (/root/reference/src/data_profiler/core/
expectation_suite.py:1-518, expectation_configuration.py:1-1299), reduced to
what the engine needs: an ordered list of (constraint_type, kwargs) with
stable fingerprints for metric dedup and checkpointing.
"""

from __future__ import annotations

import copy
from dataclasses import dataclass, field
from typing import Any

from data_profiler_spark.core.identity import fingerprint


@dataclass(frozen=True)
class Constraint:
    """One declarative constraint: a type name + its kwargs.

    ``mostly`` (map constraints), ``min_value``/``max_value`` (aggregates)
    etc. all live in ``kwargs`` — same shape as the reference's
    ExpectationConfiguration kwargs. The result format is not a kwarg:
    ``Validator.validate``'s argument sets it for the whole suite.

    A constraint is a value. ``kwargs`` is deep-copied once, here, so no
    later write to the caller's dict or lists reaches it, and ``id`` (the
    fingerprint of type + kwargs) is computed once. ``to_dict`` hands out a
    deep copy too. Do not write to ``kwargs`` after construction: ``id``
    would no longer match it.
    """

    type: str
    kwargs: dict[str, Any] = field(default_factory=dict)
    id: str = field(init=False, repr=False, compare=False)

    def __post_init__(self) -> None:
        object.__setattr__(self, "kwargs", copy.deepcopy(self.kwargs))
        object.__setattr__(self, "id", fingerprint({"type": self.type, "kwargs": self.kwargs}))

    def to_dict(self) -> dict[str, Any]:
        return {"type": self.type, "kwargs": copy.deepcopy(self.kwargs)}

    @staticmethod
    def from_dict(d: dict[str, Any]) -> "Constraint":
        return Constraint(type=d["type"], kwargs=d.get("kwargs", {}))


@dataclass
class ConstraintSuite:
    name: str
    constraints: list[Constraint] = field(default_factory=list)
    meta: dict[str, Any] = field(default_factory=dict)

    def add(self, type: str, **kwargs: Any) -> "ConstraintSuite":
        self.constraints.append(Constraint(type=type, kwargs=kwargs))
        return self

    @property
    def fingerprint(self) -> str:
        return fingerprint(
            {"name": self.name, "constraints": [c.to_dict() for c in self.constraints]}
        )

    def to_dict(self) -> dict[str, Any]:
        return {
            "name": self.name,
            "constraints": [c.to_dict() for c in self.constraints],
            "meta": self.meta,
        }

    @staticmethod
    def from_dict(d: dict[str, Any]) -> "ConstraintSuite":
        return ConstraintSuite(
            name=d["name"],
            constraints=[Constraint.from_dict(c) for c in d.get("constraints", [])],
            meta=dict(d.get("meta", {})),
        )

    # ---- reference-format (GE ExpectationSuite JSON) interop ----------
    # A user of the reference can point the engine at their existing suite
    # files unchanged (expectation_suite.py:45-189 schema:
    # expectation_suite_name / expectations[{expectation_type, kwargs,
    # meta}] / meta / evaluation_parameters).

    @staticmethod
    def from_ge_dict(d: dict[str, Any]) -> "ConstraintSuite":
        suite = ConstraintSuite(
            name=d.get("expectation_suite_name", "unnamed"),
            meta=dict(d.get("meta", {})),
        )
        if d.get("evaluation_parameters"):
            suite.meta["evaluation_parameters"] = dict(d["evaluation_parameters"])
        for e in d.get("expectations", []):
            suite.constraints.append(
                Constraint(type=e["expectation_type"], kwargs=e.get("kwargs", {}))
            )
        return suite

    def to_ge_dict(self) -> dict[str, Any]:
        return {
            "expectation_suite_name": self.name,
            "expectations": [
                {"expectation_type": c.type, "kwargs": copy.deepcopy(c.kwargs), "meta": {}}
                for c in self.constraints
            ],
            "meta": {k: v for k, v in self.meta.items() if k != "evaluation_parameters"},
            "evaluation_parameters": dict(
                self.meta.get("evaluation_parameters", {})
            ),
        }

    @staticmethod
    def from_ge_json_file(path: str) -> "ConstraintSuite":
        import json

        with open(path) as f:
            return ConstraintSuite.from_ge_dict(json.load(f))
