"""Validator — the engine's top-level API.

    v = Validator(df, tables={"commits": commits_df})
    result = v.validate(suite, group_by=["repo"])          # SuiteResult
    samples = v.violation_samples_unioned(result, limit=20)  # one DataFrame

Execution model (the reference's lifecycle §3.1 of SURVEY.md, minus the
graph machinery it needed for three backends):
  1. compile every constraint -> fused agg terms (dedup by metric fingerprint)
  2. ONE ``df.groupBy(group_by).agg(*)`` job resolves all fusible metrics
     for all groups (ref: resolve_metric_bundle, one job per domain)
  3. post-pass hooks (z-score second phase, uniqueness groupBy, referential
     anti-join, Cramer's phi crosstab) each run at most ONE more job that
     covers ALL groups at once
  4. verdicts are pure Python over the resolved scalars
  5. violation rows are extracted ONLY for failed constraints (ref early
     exit, dataset/sparkdf_dataset.py:139-141), deterministically sampled
"""

from __future__ import annotations

from functools import reduce
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_profiler_spark.core.result import ConstraintResult, SuiteResult, ValidationPlan
from data_profiler_spark.core.suite import Constraint, ConstraintSuite
from data_profiler_spark.operators.registry import compile_constraint, ensure_registered
from data_profiler_spark.plans.fused import (
    CompiledConstraint,
    GroupKey,
    dedup_terms,
    deterministic_sample,
    run_fused_pass,
)

RESULT_FORMATS = ("BOOLEAN_ONLY", "BASIC", "SUMMARY", "COMPLETE")


class Validator:
    def __init__(
        self,
        df: DataFrame,
        tables: dict[str, DataFrame] | None = None,
        evaluation_parameters: dict[str, Any] | None = None,
    ) -> None:
        ensure_registered()
        self.df = df
        self.ctx: dict[str, Any] = {
            "tables": tables or {},
            "evaluation_parameters": evaluation_parameters or {},
        }

    # ------------------------------------------------------------------
    def compile(self, suite: ConstraintSuite) -> list[CompiledConstraint]:
        out: list[CompiledConstraint] = []
        for c in suite.constraints:
            try:
                resolved = self._resolve_parameters(c)
                out.append(compile_constraint(resolved, self.df, self.ctx))
            except Exception as exc:  # compile-time failure -> failed verdict
                # a fresh copy: a result's kwargs never alias the suite's
                out.append(self._failed_compile(Constraint(c.type, c.kwargs), exc))
        return out

    @staticmethod
    def _failed_compile(c: Constraint, exc: Exception) -> CompiledConstraint:
        info = f"compile error: {type(exc).__name__}: {exc}"
        return CompiledConstraint(
            constraint=c, verdict_fn=lambda metrics: {"success": False, "exception_info": info}
        )

    def _resolve_parameters(self, c: Constraint) -> Constraint:
        """Substitute {"$PARAMETER": name} kwarg values from
        ``evaluation_parameters`` — the simplified form of the reference's
        cross-suite parameter URNs (core/evaluation_parameters.py:30-227;
        values typically come from prior verdict rows in the results store)."""
        params = self.ctx.get("evaluation_parameters") or {}

        def sub(v: Any) -> Any:
            if isinstance(v, dict) and set(v) == {"$PARAMETER"}:
                name = v["$PARAMETER"]
                if name not in params:
                    raise KeyError(f"unresolved evaluation parameter {name!r}")
                return params[name]
            if isinstance(v, dict):
                return {k: sub(x) for k, x in v.items()}
            if isinstance(v, list):
                return [sub(x) for x in v]
            return v

        if not any(
            isinstance(v, (dict, list)) for v in c.kwargs.values()
        ):
            return c
        return Constraint(type=c.type, kwargs=sub(c.kwargs))

    def validate(
        self,
        suite: ConstraintSuite,
        group_by: list[str] | None = None,
        result_format: str = "BASIC",
        partial_unexpected_count: int = 20,
        complete_limit: int = 10000,
        keep_violations: bool = False,
    ) -> SuiteResult:
        """``result_format`` is the reference's ladder (expectation.py:1760-1871):
          BOOLEAN_ONLY: success flags only (count fields stripped);
          BASIC: counts/percents (no violating-value extraction — one step
            leaner than the reference's BASIC, which samples values);
          SUMMARY: + partial_unexpected_list / partial_unexpected_counts for
            FAILED column map constraints (one bounded job per failed
            constraint, run concurrently; deterministic by-frequency order
            instead of the reference's input-order sample);
          COMPLETE: + unexpected_list, capped at ``complete_limit`` (the
            reference collects unbounded — its self-admitted perf hazard,
            sparkdf_dataset.py:92-95).

        ``result.plan`` holds what this call compiled, for this Validator's
        ``violation_samples_unioned`` to sample from. ``keep_violations=True``
        also keeps there the frames the post passes can keep for sampling,
        checkpointed; call ``result.plan.release()`` after sampling. Without
        it nothing stays persisted. Any other ``result_format`` raises
        ``ValueError`` before a Spark job runs."""
        if result_format not in RESULT_FORMATS:
            raise ValueError(f"result_format must be one of {RESULT_FORMATS}, got {result_format!r}")
        group_by = list(group_by or [])
        compiled = self.compile(suite)
        plan = ValidationPlan(self, compiled, group_by)
        try:
            groups = self._resolve_metrics(
                compiled, group_by, plan if keep_violations else None
            )
        except BaseException:
            plan.release()
            raise

        results: list[ConstraintResult] = []
        by_cid: dict[str, list[ConstraintResult]] = {}
        for key, metrics in groups:
            group = dict(zip(group_by, key))
            for c in compiled:
                r = c.verdict(metrics, group)
                results.append(r)
                by_cid.setdefault(c.constraint.id, []).append(r)

        if result_format == "BOOLEAN_ONLY":
            for r in results:
                r.element_count = None
                r.unexpected_count = None
                r.unexpected_percent = None
                r.unexpected_percent_total = None
                r.missing_count = None
        elif result_format in ("SUMMARY", "COMPLETE"):
            self._attach_unexpected_values(
                compiled, by_cid, group_by, result_format,
                partial_unexpected_count, complete_limit,
            )
        return SuiteResult(
            suite_name=suite.name,
            suite_fingerprint=suite.fingerprint,
            results=results,
            plan=plan,
        )

    def _resolve_metrics(
        self,
        compiled: list[CompiledConstraint],
        group_by: list[str],
        kept: ValidationPlan | None,
    ) -> list[tuple[GroupKey, dict[str, Any]]]:
        """Every group's metrics: the fused pass's aggregates merged with
        the post passes' updates. Post passes that can keep a frame for
        sampling add it to ``kept`` (when not None)."""
        terms = dedup_terms(compiled)
        # post passes: one extra bounded job per constraint that needs
        # one — submitted CONCURRENTLY (Spark's scheduler interleaves
        # jobs from separate threads; serially, each small job leaves
        # most cores idle and the dead time is pure Amdahl loss at high
        # parallelism). Post passes that never read the fused metrics
        # (post_pass_needs_metrics=False) start BEFORE the fused pass so
        # they overlap it too; metric-consuming ones (z-score phase 2,
        # bootstrapped KS) run after pass 1 resolves. Each constraint
        # writes its own metric aliases, so merges are conflict-free.
        post = [c for c in compiled if c.post_pass_fn is not None]
        early = [c for c in post if not c.post_pass_needs_metrics]
        late = [c for c in post if c.post_pass_needs_metrics]
        if post:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(8, len(post))) as ex:
                early_futs = [
                    ex.submit(c.post_pass_fn, self.df, group_by, [], kept)
                    for c in early
                ]
                groups = run_fused_pass(self.df, terms, group_by)
                late_futs = [
                    ex.submit(c.post_pass_fn, self.df, group_by, groups, kept)
                    for c in late
                ]
                all_updates = [f.result() for f in early_futs + late_futs]
        else:
            groups = run_fused_pass(self.df, terms, group_by)
            all_updates = []
        for updates in all_updates:
            for key, metrics in groups:
                if key in updates:
                    metrics.update(updates[key])
        return groups

    def _attach_unexpected_values(
        self,
        compiled: list[CompiledConstraint],
        by_cid: dict[str, list[ConstraintResult]],
        group_by: list[str],
        result_format: str,
        partial_unexpected_count: int,
        complete_limit: int,
    ) -> None:
        """Populate the SUMMARY/COMPLETE result-format fields from violating
        values — ONE bounded value-counts job per FAILED column-map
        constraint (reference: _spark_column_map_condition_value_counts,
        map_metric_provider.py:2396-2434, and _format_map_output,
        expectation.py:1760-1871), submitted concurrently."""
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import Window

        work = []
        for c in compiled:
            if c.violations_fn is None or c.value_column is None:
                continue
            failed = [r for r in by_cid.get(c.constraint.id, []) if not r.success]
            if failed:
                work.append((c, failed))
        if not work:
            return

        def counts_for(c: CompiledConstraint):
            vdf = c.violations_fn(self.df, group_by).select(
                *group_by, F.col(c.value_column).alias("__val")
            )
            counted = vdf.groupBy(*(group_by + ["__val"])).agg(
                F.count(F.lit(1)).alias("__cnt")
            )
            limit_n = (
                complete_limit if result_format == "COMPLETE"
                else partial_unexpected_count
            )
            if group_by:
                # per-group cap: every failed group keeps its own top values
                # (a single global limit would let one group's hot values
                # crowd out another's entirely)
                w = Window.partitionBy(*group_by).orderBy(
                    F.desc("__cnt"), F.col("__val")
                )
                return (
                    counted.withColumn("__rn", F.row_number().over(w))
                    .where(F.col("__rn") <= limit_n)
                    .collect()
                )
            # ungrouped: distributed TakeOrderedAndProject, never a
            # Window.partitionBy(lit(1)) single-task stage
            return (
                counted.orderBy(F.desc("__cnt"), F.col("__val"))
                .limit(limit_n)
                .collect()
            )

        with ThreadPoolExecutor(max_workers=min(8, len(work))) as ex:
            all_rows = list(ex.map(lambda wk: counts_for(wk[0]), work))

        for (c, failed), rows in zip(work, all_rows):
            per_group: dict[tuple, list] = {}
            for r in rows:
                key = tuple(r[k] for k in group_by) if group_by else ()
                per_group.setdefault(key, []).append(
                    {"value": r["__val"], "count": int(r["__cnt"])}
                )
            for res in failed:
                key = tuple(res.group[k] for k in group_by) if group_by else ()
                vc = sorted(
                    per_group.get(key, []),
                    key=lambda d: (-d["count"], str(d["value"])),
                )
                res.partial_unexpected_counts = vc[:partial_unexpected_count]
                partial: list = []
                for d in vc:
                    take = min(d["count"], partial_unexpected_count - len(partial))
                    partial.extend([d["value"]] * take)
                    if len(partial) >= partial_unexpected_count:
                        break
                res.partial_unexpected_list = partial
                if result_format == "COMPLETE":
                    full: list = []
                    for d in vc:
                        take = min(d["count"], complete_limit - len(full))
                        full.extend([d["value"]] * take)
                        if len(full) >= complete_limit:
                            break
                    res.unexpected_list = full
                    # the reference's COMPLETE collects unbounded (its
                    # self-admitted perf hazard) — ours caps, and SAYS so
                    # with the knob that unlocks more (VERDICT r3 #10)
                    if (res.unexpected_count or 0) > len(full):
                        res.details = dict(res.details or {})
                        res.details["unexpected_list_truncated"] = True
                        res.details["hint"] = (
                            f"unexpected_list capped at complete_limit="
                            f"{complete_limit} of {res.unexpected_count} "
                            "total; raise complete_limit in validate() to "
                            "collect more"
                        )

    # ------------------------------------------------------------------
    def violation_samples_unioned(
        self,
        result: SuiteResult,
        limit: int = 20,
        key_columns: list[str] | None = None,
    ) -> DataFrame | None:
        """The violating rows of every constraint that failed in ``result``
        (the reference's early exit), deterministically sampled, in ONE
        Spark job: at most ``limit`` rows per constraint and per group of
        the validation's ``group_by``. The first column is the constraint
        id, named ``constraint_id`` unless a data column has that name.

        ``result`` must come from this Validator's ``validate``, whose plan
        and kept frames the samples are planned from. The sample columns are
        the ``group_by`` columns then ``key_columns`` (e.g. the north-rule
        violation key (repo, path, commit)), or, when ``key_columns`` is
        None, the frame's own columns. Returns None when no failed
        constraint has violating rows to extract."""
        plan = result.plan
        if plan is None or plan.validator is not self:
            raise ValueError(
                "violation_samples_unioned needs a result of this Validator's validate()"
            )
        group_by = plan.group_by
        if key_columns is None:
            cols = self.df.columns
        else:
            cols = list(dict.fromkeys(group_by + key_columns))
        tag = "constraint_id"
        while tag in cols:
            tag = "_" + tag
        failed = {r.constraint_id for r in result.results if not r.success}
        parts = []
        for c in plan.compiled:
            cid = c.constraint.id
            if c.violations_fn is None or cid not in failed:
                continue
            v = c.violations_fn(self.df, group_by, plan.frames.get(cid))
            if key_columns is not None:
                v = v.select(*cols)
            # hashed in the violation frame's own column order (a join puts
            # its keys first), which keeps the sampled rows those existing
            # stores hold; only the projection aligns the branches
            parts.append(
                deterministic_sample(v, limit, group_by).select(F.lit(cid).alias(tag), *cols)
            )
        if not parts:
            return None
        # Each branch rescans the source, reading only the columns its filter
        # and the sample columns need; caching the whole source for them would
        # hold every column (a checkpoint run validates all pending
        # partitions in one frame).
        return reduce(lambda a, b: a.unionByName(b), parts)

    # ------------------------------------------------------------------
    def expect(self, type: str, **kwargs: Any) -> ConstraintResult:
        """Interactive single-constraint check (ref Validator.__getattr__
        dispatch, validator/validator.py:160-233)."""
        suite = ConstraintSuite(name="__adhoc__", constraints=[Constraint(type, kwargs)])
        return self.validate(suite).results[0]


def add_partition_column(df: DataFrame, n_buckets: int = 64, cols: list[str] | None = None) -> DataFrame:
    """Deterministic partition_id for per-partition verdicts when the source
    has no physical partition column: a stable hash bucket (NOT
    spark_partition_id(), which changes with parallelism)."""
    cols = cols or df.columns
    return df.withColumn(
        "partition_id",
        F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n_buckets)).cast("int"),
    )
