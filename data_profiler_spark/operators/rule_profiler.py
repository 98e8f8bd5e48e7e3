"""Config-driven rule-based profiler: rules -> generated ConstraintSuite.

Reference parity (the V3 "Rule-Based Profiler", marked Experimental in
rule_based_profiler/README.md:1-3):
  - engine loop: profiler.py:98-237 (per-rule domain builder + parameter
    builders + expectation-configuration builders; profile() concatenates
    every rule's generated configurations into one suite with a config
    citation), rule/rule.py:44-87 (domains -> parameters -> configs);
  - domain builders: table_domain_builder.py, column_domain_builder.py:10-42
    (one COLUMN domain per table column),
    simple_semantic_type_domain_builder.py (best-effort semantic typing of
    columns, filtered to requested semantic types);
  - parameter builder: metric_parameter_builder.py:14-103 (resolve one
    metric per (domain, builder), store under ``$parameter.<name>`` with
    enforce_numeric_metric / replace_nan_with_zero switches);
  - expectation builder: default_expectation_configuration_builder.py:15-71
    (kwargs are ``$``-references resolved against domain / variables /
    parameters).

Rebuilt Spark-first, NOT ported: the reference resolves every metric with
its own Validator.get_metric round trip (one driver->engine exchange per
(domain, parameter builder)). Here every metric parameter across ALL rules,
domains and builders lowers to a fused AggTerm and resolves in ONE
``df.agg(...)`` Spark job (plans/fused.py) — O(rules x columns x metrics)
metric queries collapse to a single scan, which is the difference between
"seconds" and "hours" on a 100-TB table. Domain discovery (columns, dtypes)
reads the Spark schema — no jobs at all.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from numbers import Number
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from data_profiler_spark.core.identity import fingerprint
from data_profiler_spark.core.suite import ConstraintSuite
from data_profiler_spark.plans.fused import AggTerm, metric_term, run_fused_pass


class ProfilerConfigurationError(ValueError):
    """Invalid profiler config (ref: exceptions.ProfilerConfigurationError)."""


class ProfilerExecutionError(RuntimeError):
    """Metric/parameter resolution failure (ref: ProfilerExecutionError)."""


# ---------------------------------------------------------------------------
# domains
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Domain:
    """A compute domain (ref: domain_builder/types/domain.py) — the table
    itself or one column of it."""

    domain_type: str  # "table" | "column"
    domain_kwargs: tuple[tuple[str, Any], ...] = ()

    @property
    def kwargs(self) -> dict[str, Any]:
        return dict(self.domain_kwargs)

    @property
    def id(self) -> str:
        return fingerprint(
            {"domain_type": self.domain_type, "domain_kwargs": self.kwargs}
        )


def _column_domain(column: str) -> Domain:
    return Domain(domain_type="column", domain_kwargs=(("column", column),))


# semantic typing: the reference's ProfilerTypeMapping name lists
# (profile/base.py) keyed off storage type names; here the Spark schema IS
# the storage type, so the mapping is dtype-class driven.
_SEMANTIC_OF_DTYPE: list[tuple[type, str]] = [
    (T.BooleanType, "boolean"),
    (T.DateType, "datetime"),
    (T.TimestampType, "datetime"),
    (T.StringType, "text"),
    (T.BinaryType, "binary"),
    (T.NumericType, "numeric"),  # covers int/long/float/double/decimal/...
]


def semantic_type_of(dtype: T.DataType) -> str:
    for klass, name in _SEMANTIC_OF_DTYPE:
        if isinstance(dtype, klass):
            return name
    return "other"


class TableDomainBuilder:
    """ref: domain_builder/table_domain_builder.py — one TABLE domain."""

    def __init__(self, **_: Any) -> None:
        pass

    def get_domains(self, df: DataFrame, variables: dict[str, Any]) -> list[Domain]:
        return [Domain(domain_type="table")]


class ColumnDomainBuilder:
    """ref: domain_builder/column_domain_builder.py:10-42 — one COLUMN
    domain per table column (schema-driven: zero Spark jobs).

    ``include_columns`` / ``exclude_columns`` are engine extensions (the
    reference offers no filtering here; real configs need it)."""

    def __init__(
        self,
        include_columns: list[str] | None = None,
        exclude_columns: list[str] | None = None,
        **_: Any,
    ) -> None:
        self.include = include_columns
        self.exclude = set(exclude_columns or [])

    def get_domains(self, df: DataFrame, variables: dict[str, Any]) -> list[Domain]:
        names = self.include if self.include is not None else df.columns
        missing = [c for c in names if c not in df.columns]
        if missing:
            raise ProfilerConfigurationError(f"unknown columns: {missing}")
        return [_column_domain(c) for c in names if c not in self.exclude]


class SimpleColumnSuffixDomainBuilder(ColumnDomainBuilder):
    """ref: domain_builder/simple_column_suffix_domain_builder.py:1-89 —
    column domains filtered by name suffix (e.g. ``*_key``). The reference
    fetches table.columns through a Validator metric round trip; the Spark
    schema is already at hand, so this is a driver-only filter."""

    def __init__(
        self, column_name_suffixes: str | list[str] | None = None, **_: Any
    ) -> None:
        super().__init__()
        if column_name_suffixes is None:
            column_name_suffixes = []
        if isinstance(column_name_suffixes, str):
            column_name_suffixes = [column_name_suffixes]
        if not isinstance(column_name_suffixes, list) or not all(
            isinstance(s, str) for s in column_name_suffixes
        ):
            raise ProfilerConfigurationError(
                "Unrecognized column_name_suffixes directive -- must be a "
                "list or a string."
            )
        self.suffixes = tuple(column_name_suffixes)

    def get_domains(self, df: DataFrame, variables: dict[str, Any]) -> list[Domain]:
        return [
            _column_domain(c) for c in df.columns if c.endswith(self.suffixes)
        ]


class SemanticTypeColumnDomainBuilder:
    """ref: domain_builder/simple_semantic_type_domain_builder.py — column
    domains filtered to the requested semantic types ("numeric", "text",
    "datetime", "boolean", "binary"). The reference probes
    table.column_types through the engine; the Spark schema already
    carries exact types, so this is driver-only."""

    def __init__(
        self, semantic_types: str | list[str] | None = None, **_: Any
    ) -> None:
        if semantic_types is None:
            semantic_types = []
        if isinstance(semantic_types, str):
            semantic_types = [semantic_types]
        known = {name for _k, name in _SEMANTIC_OF_DTYPE} | {"other"}
        bad = [t for t in semantic_types if t not in known]
        if bad:
            raise ProfilerConfigurationError(
                f"unknown semantic types {bad}; known: {sorted(known)}"
            )
        self.semantic_types = set(semantic_types)

    def get_domains(self, df: DataFrame, variables: dict[str, Any]) -> list[Domain]:
        return [
            _column_domain(f.name)
            for f in df.schema.fields
            if semantic_type_of(f.dataType) in self.semantic_types
        ]


# ---------------------------------------------------------------------------
# metric lowering (fused)
# ---------------------------------------------------------------------------

# The catalog metrics (plans/fused.metric_term) a MetricParameterBuilder
# accepts: the reference's (expectations/metrics/*) that resolve to one
# aggregate value. The catalog makes a float/double NaN read as NULL, the
# reference's pandas skipna rule: min/max/mean/sum/median/stddev/quantiles
# skip NaN, null.count counts it, nonnull.count and distinct_values.count
# drop it (pandas count()/nunique(dropna=True)).
_PROFILER_METRICS = (
    "table.row_count", "column.min", "column.max", "column.mean", "column.sum",
    "column.median", "column.standard_deviation", "column.distinct_values.count",
    "column_values.null.count", "column_values.nonnull.count", "column.quantile_values",
)


class MetricParameterBuilder:
    """ref: parameter_builder/metric_parameter_builder.py:14-103.

    Declares ONE metric; the engine fuses every declared metric into a
    single aggregation job, then this builder reads its resolved value and
    stores ``{"value": v, "details": {...}}`` under
    ``$parameter.<parameter_name>``."""

    def __init__(
        self,
        parameter_name: str,
        metric_name: str,
        metric_domain_kwargs: str | dict[str, Any] | None = "$domain.domain_kwargs",
        metric_value_kwargs: dict[str, Any] | None = None,
        enforce_numeric_metric: bool = False,
        replace_nan_with_zero: bool = False,
        **_: Any,
    ) -> None:
        if metric_name not in _PROFILER_METRICS:
            raise ProfilerConfigurationError(
                f"unsupported metric {metric_name!r}; supported: "
                f"{sorted(_PROFILER_METRICS)}"
            )
        self.parameter_name = parameter_name
        self.metric_name = metric_name
        self.metric_domain_kwargs = metric_domain_kwargs
        self.metric_value_kwargs = dict(metric_value_kwargs or {})
        self.enforce_numeric_metric = bool(enforce_numeric_metric)
        self.replace_nan_with_zero = bool(replace_nan_with_zero)

    # -- fused-plan integration -------------------------------------------
    def _domain_kwargs(
        self, domain: Domain, variables: dict[str, Any]
    ) -> dict[str, Any]:
        dk = self.metric_domain_kwargs
        if dk == "$domain.domain_kwargs" or dk is None:
            return domain.kwargs
        if isinstance(dk, str):
            return _resolve_ref(dk, domain, variables, {})
        return dk

    def term(
        self, df: DataFrame, domain: Domain, variables: dict[str, Any]
    ) -> AggTerm:
        dk = self._domain_kwargs(domain, variables)
        col = None
        if self.metric_name != "table.row_count":
            col = dk.get("column")
            if not col:
                raise ProfilerConfigurationError(
                    f"metric {self.metric_name!r} needs a column domain"
                )
            if col not in df.columns:
                raise ProfilerConfigurationError(f"unknown column {col!r}")
        return metric_term(df, self.metric_name, col, **self.metric_value_kwargs)

    def build(
        self,
        container: dict[str, Any],
        df: DataFrame,
        domain: Domain,
        variables: dict[str, Any],
        resolved: dict[str, Any],
    ) -> None:
        alias = self.term(df, domain, variables).alias
        value = resolved.get(alias)
        if self.enforce_numeric_metric:
            if isinstance(value, float) and math.isnan(value):
                if self.replace_nan_with_zero:
                    value = 0.0
                else:
                    raise ProfilerExecutionError(
                        f"metric {self.metric_name!r} resolved to NaN and "
                        "replace_nan_with_zero is False"
                    )
            elif value is not None and not isinstance(value, Number):
                raise ProfilerExecutionError(
                    f"metric {self.metric_name!r} resolved to non-numeric "
                    f"{type(value).__name__} under enforce_numeric_metric"
                )
        container[f"$parameter.{self.parameter_name}"] = {
            "value": value,
            "details": {
                "metric_configuration": {
                    "metric_name": self.metric_name,
                    "domain_kwargs": self._domain_kwargs(domain, variables),
                    "metric_value_kwargs": self.metric_value_kwargs or None,
                }
            },
        }


# ---------------------------------------------------------------------------
# multi-batch numeric range estimation
# (ref: parameter_builder/numeric_metric_range_multi_batch_parameter_builder.py
#  :28-419 and rule_based_profiler/util.py:197-240)
# ---------------------------------------------------------------------------

# ref util.py NP_EPSILON / MAX_DECIMALS / DEFAULT_BOOTSTRAP_NUM_RESAMPLES
_NP_EPSILON = 2.220446049250313e-16  # np.finfo(float).eps
_MAX_DECIMALS = 9
_DEFAULT_BOOTSTRAP_NUM_RESAMPLES = 9999


def compute_quantiles(
    metric_values: "Any", false_positive_rate: float
) -> tuple[float, float]:
    """Empirical linear-interpolated [fpr/2, 1-fpr/2] quantiles of the
    per-batch metric values (ref util.py:197-213 — the "oneshot" method).
    DuckDB's ``quantile_cont`` uses the same interpolation, which is what
    makes this path oracle-checkable."""
    import numpy as np

    v = np.asarray(metric_values, dtype=np.float64)
    return (
        float(np.quantile(v, false_positive_rate / 2)),
        float(np.quantile(v, 1.0 - false_positive_rate / 2)),
    )


def compute_bootstrap_quantiles(
    metric_values: "Any",
    false_positive_rate: float,
    n_resamples: int,
    seed: int = 42,
) -> tuple[float, float]:
    """Mean-of-quantiles over bootstrap resamples (ref util.py:216-240),
    SEEDED — the reference draws from the global numpy RNG, which would
    make profiler output unreproducible across runs; a deterministic
    generator keeps suites checkpoint-stable. The estimate itself is the
    same: resample the per-batch metric values with replacement
    ``n_resamples`` times, take each resample's [fpr/2, 1-fpr/2] linear
    quantiles, and average them."""
    import numpy as np

    v = np.asarray(metric_values, dtype=np.float64)
    rng = np.random.default_rng(seed)
    bootstraps = rng.choice(v, size=(n_resamples, v.size))
    lower = float(np.mean(np.quantile(bootstraps, false_positive_rate / 2, axis=1)))
    upper = float(
        np.mean(np.quantile(bootstraps, 1.0 - false_positive_rate / 2, axis=1))
    )
    return lower, upper


class NumericMetricRangeMultiBatchParameterBuilder(MetricParameterBuilder):
    """ref: numeric_metric_range_multi_batch_parameter_builder.py:28-419 —
    estimate a [min_value, max_value] range for a numeric metric from its
    per-batch distribution, at a configured false-positive rate.

    Spark-first re-expression of "multi-batch": the reference loops a
    Validator.get_metric round trip per batch (one engine exchange per
    batch id — thousands of jobs on a partitioned table). Here a *batch*
    is the set of rows sharing the ``batch_identifier_columns`` values
    (an Iceberg partition key, an ingestion date, a month bucket...), so
    ALL batches' metric values come back from ONE grouped fused pass —
    ``df.groupBy(batch_cols).agg(every multi-batch metric)`` — and the
    range estimation runs driver-side over that (driver-bounded, one row
    per batch) result, exactly like the reference's numpy post-pass:

      1. per-batch metric values, sorted by batch key (determinism);
      2. degenerate distribution (all values close) -> that value for both
         bounds, no sampling (ref :258-260);
      3. else "bootstrap" (default; seeded here) or "oneshot" quantiles at
         [fpr/2, 1 - fpr/2] (ref :261-275);
      4. round_decimals heuristic: explicit value, else 9, forced to 0
         when every metric value is integer-typed (ref :388-419);
      5. truncate_values heuristic: all values > eps -> lower_bound 0.0,
         all < -eps -> upper_bound 0.0, explicit bounds win (ref :333-386);
      6. value = {"min_value", "max_value"} under $parameter.<name>.

    Directives (sampling_method, false_positive_rate, num_bootstrap_samples,
    round_decimals, truncate_values) accept ``$variables.*`` references like
    the reference's get_parameter_value_* helpers.

    Derived batch ids (e.g. a month bucket of a timestamp) are the caller's
    one ``withColumn`` before ``profile(df)`` — the builder only names
    columns, so the grouped pass stays a plain Catalyst groupBy."""

    multi_batch = True

    RECOGNIZED_SAMPLING_METHOD_NAMES = {"oneshot", "bootstrap"}
    RECOGNIZED_TRUNCATE_DISTRIBUTION_KEYS = {"lower_bound", "upper_bound"}

    def __init__(
        self,
        parameter_name: str,
        metric_name: str,
        batch_identifier_columns: str | list[str] | None = None,
        metric_domain_kwargs: str | dict[str, Any] | None = "$domain.domain_kwargs",
        metric_value_kwargs: dict[str, Any] | None = None,
        sampling_method: str = "bootstrap",
        enforce_numeric_metric: bool | str = True,
        replace_nan_with_zero: bool | str = True,
        false_positive_rate: float | str = 5.0e-2,
        num_bootstrap_samples: int | str | None = None,
        round_decimals: int | str | None = None,
        truncate_values: dict[str, Any] | str | None = None,
        seed: int = 42,
        batch_request: dict[str, Any] | None = None,
        **_: Any,
    ) -> None:
        super().__init__(
            parameter_name=parameter_name,
            metric_name=metric_name,
            metric_domain_kwargs=metric_domain_kwargs,
            metric_value_kwargs=metric_value_kwargs,
            # numeric enforcement happens per-batch in build(); the base
            # class flags are kept for the shared term() only
            enforce_numeric_metric=False,
            replace_nan_with_zero=False,
        )
        # config-compat: the reference names batches via batch_request; our
        # engine's batch identity is columns of the one DataFrame
        if batch_identifier_columns is None and isinstance(batch_request, dict):
            batch_identifier_columns = batch_request.get("batch_identifier_columns")
        if batch_identifier_columns is None:
            raise ProfilerConfigurationError(
                "NumericMetricRangeMultiBatchParameterBuilder needs "
                "batch_identifier_columns (or batch_request."
                "batch_identifier_columns): the column(s) whose values "
                "identify a batch"
            )
        if isinstance(batch_identifier_columns, str):
            batch_identifier_columns = [batch_identifier_columns]
        self.batch_columns: tuple[str, ...] = tuple(batch_identifier_columns)
        self.sampling_method = sampling_method
        self.enforce_numeric = enforce_numeric_metric
        self.replace_nan = replace_nan_with_zero
        self.false_positive_rate = false_positive_rate
        self.num_bootstrap_samples = num_bootstrap_samples
        self.round_decimals = round_decimals
        if not truncate_values:
            truncate_values = {"lower_bound": None, "upper_bound": None}
        if isinstance(truncate_values, dict):
            bad = set(truncate_values) - self.RECOGNIZED_TRUNCATE_DISTRIBUTION_KEYS
            if bad:
                raise ProfilerConfigurationError(
                    f"unrecognized truncate_values key(s) {sorted(bad)}; "
                    f"allowed: {sorted(self.RECOGNIZED_TRUNCATE_DISTRIBUTION_KEYS)}"
                )
        self.truncate_values = truncate_values
        self.seed = int(seed)

    # -- directive resolution ($variables.* refs, ref util.py helpers) -----
    def _directive(
        self, v: Any, domain: Domain, variables: dict[str, Any]
    ) -> Any:
        if isinstance(v, str) and v.startswith("$"):
            return _resolve_ref(v, domain, variables, {})
        return v

    def build_multi_batch(
        self,
        container: dict[str, Any],
        df: DataFrame,
        domain: Domain,
        variables: dict[str, Any],
        rows: list[tuple[tuple, dict[str, Any]]],
    ) -> None:
        """Consume the grouped fused-pass rows (one per batch) and store
        {"value": {"min_value", "max_value"}, "details": {...}}."""
        import numpy as np

        alias = self.term(df, domain, variables).alias

        sampling_method = self._directive(self.sampling_method, domain, variables)
        if sampling_method not in self.RECOGNIZED_SAMPLING_METHOD_NAMES:
            raise ProfilerExecutionError(
                f"sampling_method must be one of "
                f"{sorted(self.RECOGNIZED_SAMPLING_METHOD_NAMES)}; got "
                f"{sampling_method!r}"
            )
        fpr = self._directive(self.false_positive_rate, domain, variables)
        fpr = float(fpr)
        if not 0.0 <= fpr <= 1.0:
            raise ProfilerExecutionError(
                f"false_positive_rate must lie in [0.0, 1.0]; got {fpr}"
            )
        enforce = bool(self._directive(self.enforce_numeric, domain, variables))
        replace_nan = bool(self._directive(self.replace_nan, domain, variables))

        # per-batch metric values, sorted by batch key for determinism
        # (group order off a shuffle is not)
        keyed = sorted(rows, key=lambda kv: tuple(repr(k) for k in kv[0]))
        if not keyed:
            raise ProfilerExecutionError(
                f"no batches found for {self.parameter_name!r} "
                f"(batch columns {list(self.batch_columns)})"
            )
        values: list[Any] = []
        for _key, metrics in keyed:
            v = metrics.get(alias)
            if v is None or (isinstance(v, float) and math.isnan(v)):
                if enforce and not replace_nan:
                    raise ProfilerExecutionError(
                        f"metric {self.metric_name!r} resolved to NaN for a "
                        "batch and replace_nan_with_zero is False"
                    )
                v = 0.0
            elif enforce and not isinstance(v, Number):
                raise ProfilerExecutionError(
                    f"metric {self.metric_name!r} resolved to non-numeric "
                    f"{type(v).__name__} under enforce_numeric_metric"
                )
            values.append(v)

        # round_decimals heuristic (ref :388-419): explicit, else 9,
        # forced to 0 when every metric value is integer-typed
        round_decimals = self._directive(self.round_decimals, domain, variables)
        if round_decimals is None:
            round_decimals = _MAX_DECIMALS
        elif not isinstance(round_decimals, int) or round_decimals < 0:
            raise ProfilerExecutionError(
                "round_decimals must be a non-negative integer or None"
            )
        if all(isinstance(v, int) and not isinstance(v, bool) for v in values):
            round_decimals = 0

        # truncate_values heuristic (ref :333-386)
        truncate = self._directive(self.truncate_values, domain, variables)
        if not isinstance(truncate, dict) or not all(
            b is None or isinstance(b, Number) for b in truncate.values()
        ):
            raise ProfilerExecutionError(
                "truncate_values must map lower_bound/upper_bound to a "
                "number or None"
            )
        lower_bound = truncate.get("lower_bound")
        upper_bound = truncate.get("upper_bound")
        if lower_bound is None and all(float(v) > _NP_EPSILON for v in values):
            lower_bound = 0.0
        if upper_bound is None and all(float(v) < -_NP_EPSILON for v in values):
            upper_bound = 0.0

        arr = np.array([float(v) for v in values], dtype=np.float64)
        if np.all(np.isclose(arr, arr[0])):
            # degenerate distribution: no sampling needed (ref :258-260)
            lower_q = upper_q = float(arr[0])
        elif sampling_method == "bootstrap":
            n_resamples = self._directive(
                self.num_bootstrap_samples, domain, variables
            )
            if n_resamples is None:
                n_resamples = _DEFAULT_BOOTSTRAP_NUM_RESAMPLES
            lower_q, upper_q = compute_bootstrap_quantiles(
                arr, fpr, int(n_resamples), seed=self.seed
            )
        else:
            lower_q, upper_q = compute_quantiles(arr, fpr)

        if round_decimals == 0:
            min_value: Any = round(float(lower_q))
            max_value: Any = round(float(upper_q))
        else:
            min_value = round(float(lower_q), round_decimals)
            max_value = round(float(upper_q), round_decimals)
        if lower_bound is not None:
            min_value = max(min_value, lower_bound)
        if upper_bound is not None:
            max_value = min(max_value, upper_bound)

        container[f"$parameter.{self.parameter_name}"] = {
            "value": {"min_value": min_value, "max_value": max_value},
            "details": {
                "metric_configuration": {
                    "metric_name": self.metric_name,
                    "domain_kwargs": self._domain_kwargs(domain, variables),
                    "metric_value_kwargs": self.metric_value_kwargs or None,
                },
                "num_batches": len(values),
                "batch_identifier_columns": list(self.batch_columns),
                "sampling_method": sampling_method,
            },
        }


# ---------------------------------------------------------------------------
# $-reference resolution (ref: rule_based_profiler/util.py get_parameter_value*)
# ---------------------------------------------------------------------------


def _resolve_ref(
    ref: str,
    domain: Domain,
    variables: dict[str, Any],
    parameters: dict[str, Any],
) -> Any:
    if ref.startswith("$variables."):
        root: Any = variables
        path = ref[len("$variables.") :].split(".")
    elif ref.startswith("$domain."):
        root = {"domain_kwargs": domain.kwargs, "domain_type": domain.domain_type}
        path = ref[len("$domain.") :].split(".")
    elif ref.startswith("$parameter."):
        # longest registered "$parameter.<name>" prefix, then attribute path
        # into its {"value", "details"} payload
        best = None
        for key in parameters:
            if ref == key or ref.startswith(key + "."):
                if best is None or len(key) > len(best):
                    best = key
        if best is None:
            raise ProfilerExecutionError(f"unresolvable reference {ref!r}")
        root = parameters[best]
        rest = ref[len(best) :]
        path = rest.lstrip(".").split(".") if rest else []
        path = [p for p in path if p]
    else:
        raise ProfilerExecutionError(f"unresolvable reference {ref!r}")
    node = root
    for part in path:
        if not isinstance(node, dict) or part not in node:
            raise ProfilerExecutionError(f"unresolvable reference {ref!r}")
        node = node[part]
    return node


def _resolve_value(
    v: Any, domain: Domain, variables: dict[str, Any], parameters: dict[str, Any]
) -> Any:
    if isinstance(v, str) and v.startswith("$"):
        return _resolve_ref(v, domain, variables, parameters)
    if isinstance(v, dict):
        return {
            k: _resolve_value(x, domain, variables, parameters)
            for k, x in v.items()
        }
    if isinstance(v, list):
        return [_resolve_value(x, domain, variables, parameters) for x in v]
    return v


class DefaultExpectationConfigurationBuilder:
    """ref: default_expectation_configuration_builder.py:15-71 — emit one
    (expectation_type, kwargs) with every ``$``-reference resolved."""

    def __init__(
        self,
        expectation_type: str,
        meta: dict[str, Any] | None = None,
        **kwargs: Any,
    ) -> None:
        if meta is None:
            meta = {}
        if not isinstance(meta, dict):
            raise ProfilerConfigurationError("meta must be a dict")
        self.expectation_type = expectation_type
        self.kwargs = kwargs
        self.meta = meta

    def build(
        self,
        domain: Domain,
        variables: dict[str, Any],
        parameters: dict[str, Any],
    ) -> tuple[str, dict[str, Any], dict[str, Any]]:
        kwargs = {
            k: _resolve_value(v, domain, variables, parameters)
            for k, v in self.kwargs.items()
        }
        meta = _resolve_value(self.meta, domain, variables, parameters)
        return self.expectation_type, kwargs, meta


# ---------------------------------------------------------------------------
# rule + profiler
# ---------------------------------------------------------------------------

_DOMAIN_BUILDERS = {
    "TableDomainBuilder": TableDomainBuilder,
    "ColumnDomainBuilder": ColumnDomainBuilder,
    "SimpleColumnSuffixDomainBuilder": SimpleColumnSuffixDomainBuilder,
    "SemanticTypeColumnDomainBuilder": SemanticTypeColumnDomainBuilder,
    # reference class name alias (simple_semantic_type_domain_builder.py)
    "SimpleSemanticTypeColumnDomainBuilder": SemanticTypeColumnDomainBuilder,
}

_PARAMETER_BUILDERS = {
    "MetricParameterBuilder": MetricParameterBuilder,
    "NumericMetricRangeMultiBatchParameterBuilder": (
        NumericMetricRangeMultiBatchParameterBuilder
    ),
}


@dataclass
class Rule:
    """ref: rule/rule.py:15-87 (minus the deepcopy-per-access hazards)."""

    name: str
    domain_builder: Any
    parameter_builders: list[MetricParameterBuilder] = field(default_factory=list)
    expectation_configuration_builders: list[
        DefaultExpectationConfigurationBuilder
    ] = field(default_factory=list)


def _instantiate(config: dict[str, Any], registry: dict, default: str | None, what: str):
    cfg = dict(config)
    class_name = cfg.pop("class_name", default)
    cfg.pop("module_name", None)  # config-compat no-op: registry is local
    if class_name not in registry:
        raise ProfilerConfigurationError(
            f"unknown {what} class {class_name!r}; known: {sorted(registry)}"
        )
    return registry[class_name](**cfg)


class RuleBasedProfiler:
    """ref: profiler.py:98-237. Construct from the same config-dict shape
    the reference loads from YAML; ``profile(df)`` returns a
    ``ConstraintSuite`` ready for ``Validator.validate``.

    Execution shape: domain discovery is schema-only; every rule's metric
    parameters fuse into ONE aggregation job over ``df`` (deduped by metric
    fingerprint across rules) — plus one GROUPED aggregation job per
    distinct batch-column set declared by multi-batch builders — then
    expectation configs are built driver-side. Per-expectation ``meta`` and
    the config citation land in ``suite.meta`` (our Constraint carries
    type+kwargs only, by design)."""

    def __init__(self, profiler_config: dict[str, Any]) -> None:
        self._config = profiler_config
        self.variables: dict[str, Any] = dict(profiler_config.get("variables", {}))
        self.rules: list[Rule] = []
        rules_cfg = profiler_config.get("rules", {})
        if not rules_cfg:
            raise ProfilerConfigurationError("profiler_config has no rules")
        for rule_name, rule_config in rules_cfg.items():
            db_cfg = rule_config.get("domain_builder")
            if db_cfg is None:
                raise ProfilerConfigurationError(
                    f'Invalid rule "{rule_name}": no domain_builder found.'
                )
            domain_builder = _instantiate(
                db_cfg, _DOMAIN_BUILDERS, None, "domain_builder"
            )
            pbs = [
                _instantiate(
                    c, _PARAMETER_BUILDERS, "MetricParameterBuilder",
                    "parameter_builder",
                )
                for c in rule_config.get("parameter_builders", [])
            ]
            ecbs = [
                DefaultExpectationConfigurationBuilder(**c)
                for c in rule_config.get("expectation_configuration_builders", [])
            ]
            self.rules.append(
                Rule(
                    name=rule_name,
                    domain_builder=domain_builder,
                    parameter_builders=pbs,
                    expectation_configuration_builders=ecbs,
                )
            )

    def profile(
        self,
        df: DataFrame,
        suite_name: str | None = None,
        include_citation: bool = True,
    ) -> ConstraintSuite:
        if suite_name is None:
            suite_name = f"rule_based_profiler_{fingerprint(self._config)[:8]}"

        # plan: every (rule, domain, parameter builder) -> fused AggTerm,
        # bucketed by the builder's batch-identifier grouping: plain
        # MetricParameterBuilders share the ONE global agg, every distinct
        # batch-column set of multi-batch builders adds exactly one
        # grouped agg — O(distinct groupings) jobs total, never O(batches)
        per_rule_domains: list[tuple[Rule, list[Domain]]] = [
            (rule, rule.domain_builder.get_domains(df, self.variables))
            for rule in self.rules
        ]
        passes: dict[tuple[str, ...], dict[str, AggTerm]] = {}
        for rule, domains in per_rule_domains:
            for domain in domains:
                for pb in rule.parameter_builders:
                    keys = tuple(getattr(pb, "batch_columns", ()))
                    missing = [c for c in keys if c not in df.columns]
                    if missing:
                        raise ProfilerConfigurationError(
                            f"unknown batch identifier columns: {missing}"
                        )
                    t = pb.term(df, domain, self.variables)
                    passes.setdefault(keys, {}).setdefault(t.alias, t)

        resolved_rows: dict[tuple[str, ...], list[tuple[tuple, dict[str, Any]]]] = {}
        for keys, terms in passes.items():
            resolved_rows[keys] = run_fused_pass(
                df, list(terms.values()), list(keys)
            )
        [(_, resolved)] = resolved_rows.get((), [((), {})])

        suite = ConstraintSuite(suite_name)
        expectation_meta: dict[str, dict[str, Any]] = {}
        for rule, domains in per_rule_domains:
            for domain in domains:
                parameters: dict[str, Any] = {}
                for pb in rule.parameter_builders:
                    if getattr(pb, "multi_batch", False):
                        pb.build_multi_batch(
                            parameters, df, domain, self.variables,
                            resolved_rows[tuple(pb.batch_columns)],
                        )
                    else:
                        pb.build(parameters, df, domain, self.variables, resolved)
                for ecb in rule.expectation_configuration_builders:
                    etype, kwargs, meta = ecb.build(
                        domain, self.variables, parameters
                    )
                    suite.add(etype, **kwargs)
                    if meta:
                        expectation_meta[suite.constraints[-1].id] = meta
        if expectation_meta:
            suite.meta["expectation_meta"] = expectation_meta
        if include_citation:
            suite.meta["citations"] = [
                {
                    "comment": "Suite created by Rule-Based Profiler with "
                    "the configuration included.",
                    "profiler_config": self._config,
                }
            ]
        return suite
