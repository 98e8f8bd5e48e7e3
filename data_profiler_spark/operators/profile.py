"""Single-pass column profiler — the engine's flagship operation.

Computes, for every requested column, in ONE fused ``groupBy(keys).agg(...)``
(pass 1):
  row_count, null_count, approx/exact distinct, min/max/mean/stddev (numeric
  or length(string)), percentile_approx quantile sketch
and in ONE more fused pass (pass 2, needs pass-1 min/max for bin edges):
  equi-width histograms for all numeric columns at once.
Categorical top-k histograms run one bounded ``groupBy(col).count()`` top-k
job per low-cardinality column (partial aggregation shrinks the shuffle to
the distinct-value count).

Every pass-1 and pass-2 term comes from the metric catalog
(``plans/fused.metric_term``), so the profile names a metric as a constraint
suite does, and a float/double NaN counts as NULL (the pandas skipna rule):
``null_count`` counts it, the distinct count, moments, quantiles and
histogram skip it, and the top-k drops it with the NULLs.

This is the Spark-first rebuild of the reference's
``BasicDatasetProfiler._profile`` (profile/basic_dataset_profiler.py:118-335)
+ partition-object builders (dataset/util.py:205-274): same outputs, but a
constant number of scans regardless of column count, instead of per-metric
jobs. Output rows follow FIXTURES.md §3 (the drift baseline schema).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType, StringType

from data_profiler_spark.plans.fused import AggTerm, metric_term, nan_as_null, run_fused_pass

DEFAULT_QUANTILES = [0.05, 0.25, 0.5, 0.75, 0.95]


def auto_bin_count(
    n: int,
    lo: float,
    hi: float,
    iqr: float | None,
    method: str = "auto",
    max_bins: int = 1000,
) -> int:
    """Histogram bin count from summary stats — numpy's estimators computed
    from the fused pass's aggregates instead of raw data (ref
    column_partition.py:24-154 uses np.histogram_bin_edges "auto").

    - "sturges": log2(n) + 1 bins.
    - "fd" (Freedman-Diaconis): width = 2*IQR/n^(1/3).
    - "auto": max(sturges, fd) bin count — numpy's rule (the smaller width
      wins); falls back to sturges when IQR == 0.
    Capped at ``max_bins`` (numpy caps nothing; at 100 TB a runaway bin
    count would bloat every fused histogram job)."""
    import math

    if n <= 0 or hi <= lo:
        return 1
    rng = hi - lo
    sturges = math.ceil(math.log2(n)) + 1
    if method == "sturges":
        return max(1, min(sturges, max_bins))
    fd = 0
    if iqr is not None and iqr > 0:
        width = 2.0 * iqr / (n ** (1.0 / 3.0))
        fd = math.ceil(rng / width)
    if method == "fd":
        return max(1, min(fd or sturges, max_bins))
    return max(1, min(max(sturges, fd), max_bins))


@dataclass
class ColumnProfile:
    column_name: str
    spark_type: str
    row_count: int
    null_count: int
    approx_distinct: int
    min_v: float | None = None
    max_v: float | None = None
    mean_v: float | None = None
    stddev_v: float | None = None
    quantiles: list[float] | None = None
    hist_bins: list[float] | None = None
    hist_weights: list[float] | None = None
    top_k: list[dict[str, Any]] | None = None
    is_length_profile: bool = False

    @property
    def nonnull_count(self) -> int:
        return self.row_count - self.null_count

    def as_baseline(self) -> dict[str, Any]:
        """Partition-object shape consumed by
        expect_column_distribution_to_match_baseline."""
        if self.top_k is not None:
            total = sum(t["count"] for t in self.top_k) or 1
            return {
                "values": [t["value"] for t in self.top_k],
                "weights": [t["count"] / total for t in self.top_k],
                "n": self.nonnull_count,
            }
        if self.hist_bins is not None:
            return {
                "bins": self.hist_bins,
                "weights": self.hist_weights,
                "n": self.nonnull_count,
            }
        raise ValueError(f"no distribution sketch for column {self.column_name}")


@dataclass
class TableProfile:
    group: dict[str, Any]
    columns: dict[str, ColumnProfile] = field(default_factory=dict)


def _numeric_expr(df: DataFrame, colname: str):
    """The length view of a string column (the north-rule content-length
    distribution), as a double; None for every other type."""
    if isinstance(df.schema[colname].dataType, StringType):
        return F.length(F.col(colname)).cast("double")
    return None


def profile(
    df: DataFrame,
    columns: list[str] | None = None,
    group_by: list[str] | None = None,
    quantiles: list[float] | None = None,
    top_k: int = 10,
    categorical_columns: list[str] | None = None,
    hist_bins: int | str = 10,
    approx_distinct: bool = True,
    quantile_accuracy: int = 10000,
    defer_histograms: bool = False,
) -> list[TableProfile] | tuple[list[TableProfile], Any]:
    """Profile ``columns`` (default: all non-grouping columns).

    ``categorical_columns`` get a top-k value histogram — ALL requested
    columns in ONE fused explode job per value dtype (not one job per
    column); numeric/string columns get an equi-width histogram on
    length/value (fused pass 2). ``hist_bins`` is a bin count or an
    estimator name ("auto" | "sturges" | "fd" — numpy's rules computed from
    the pass-1 aggregates; grouped profiles pool nonnull counts and
    nonnull-weighted IQRs). ``approx_distinct=False`` switches the HLL
    sketch to exact count_distinct (test-oracle mode).

    ``defer_histograms=True`` returns ``(profiles, finish)`` where
    ``finish()`` runs the histogram pass (pass 2) later and fills
    ``hist_bins``/``hist_weights`` in place — lets a caller overlap the
    histogram job with downstream work that only needs the scalar profile
    (pipeline parallelism; the constraint pass in the north-rule job)."""
    group_by = list(group_by or [])
    columns = list(columns or [c for c in df.columns if c not in group_by])
    # an explicit empty list opts OUT of the quantile sketch entirely (the
    # percentile_approx terms are the most expensive pass-1 aggregates;
    # callers that only need count/null/distinct/moments skip them)
    qs = list(DEFAULT_QUANTILES if quantiles is None else quantiles)
    categorical_columns = list(categorical_columns or [])

    # Project the length views ONCE. Catalyst does not reliably eliminate
    # the common length(col) subexpression ACROSS aggregate expressions, so
    # min/max/mean/stddev/quantiles would each re-walk the (potentially
    # megabyte) string — at 100 TB that is the difference between one blob
    # read and five.
    proj: list = [F.col(c) for c in dict.fromkeys(group_by + columns)]
    num_cols: dict[str, str] = {}  # column -> the numeric column its stats read
    for c in columns:
        length = _numeric_expr(df, c)
        if length is not None:
            num_cols[c] = f"__len_{c}"
            proj.append(length.alias(num_cols[c]))
        elif isinstance(df.schema[c].dataType, NumericType):
            num_cols[c] = c
    base = df.select(*proj)

    # ---- pass 1: one fused agg for everything scalar -------------------
    stats = {"min": "column.min", "max": "column.max", "mean": "column.mean",
             "stddev": "column.standard_deviation"}
    terms = {("table", "row_count"): metric_term(base, "table.row_count")}
    for c in columns:
        terms[(c, "null_count")] = metric_term(base, "column_values.null.count", c)
        terms[(c, "distinct")] = metric_term(
            base, "column.distinct_values.count", c, approx=approx_distinct
        )
        if c in num_cols:
            for stat, name in stats.items():
                terms[(c, stat)] = metric_term(base, name, num_cols[c])
            if qs:
                terms[(c, "quantiles")] = metric_term(
                    base, "column.quantile_values", num_cols[c],
                    quantiles=qs, accuracy=quantile_accuracy,
                )

    # ---- categorical top-k: independent of pass 1 — submitted BEFORE it so
    # the two scans overlap (job-scheduling dead time between serial jobs is
    # pure Amdahl loss at high core counts). ONE fused explode job per value
    # dtype (round 1 ran one groupBy job per column); the dtype split keeps
    # each value's native type for downstream drift-term compilation.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Window

    by_dtype: dict[str, list[str]] = {}
    for c in categorical_columns:
        by_dtype.setdefault(df.schema[c].dataType.simpleString(), []).append(c)

    def run_topk(cols_d: list[str]) -> list:
        cv = F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("colname"), nan_as_null(df, c).alias("value"))
                    for c in cols_d
                ]
            )
        ).alias("cv")
        counted = (
            df.select(*[F.col(k) for k in group_by], cv)
            .select(*group_by, "cv.colname", "cv.value")
            .where(F.col("value").isNotNull())
            .groupBy(*(group_by + ["colname", "value"]))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        w = Window.partitionBy(*(group_by + ["colname"])).orderBy(
            F.desc("cnt"), F.col("value")
        )
        return (
            counted.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= top_k)
            .collect()
        )

    topk_ex = ThreadPoolExecutor(max_workers=len(by_dtype)) if by_dtype else None
    topk_futs = (
        [topk_ex.submit(run_topk, cols_d) for cols_d in by_dtype.values()]
        if topk_ex
        else []
    )

    groups = run_fused_pass(base, list(terms.values()), group_by)

    profiles: dict[tuple, TableProfile] = {}
    for key, metrics in groups:
        tp = TableProfile(group=dict(zip(group_by, key)))
        m = {k: metrics[t.alias] for k, t in terms.items()}
        for c in columns:
            cp = ColumnProfile(
                column_name=c,
                spark_type=df.schema[c].dataType.simpleString(),
                row_count=int(m[("table", "row_count")] or 0),
                null_count=int(m[(c, "null_count")] or 0),
                approx_distinct=int(m[(c, "distinct")] or 0),
                is_length_profile=num_cols.get(c) == f"__len_{c}",
            )
            if c in num_cols:
                cp.min_v, cp.max_v, cp.mean_v, cp.stddev_v = (
                    None if m[(c, s)] is None else float(m[(c, s)]) for s in stats
                )
                if qs:
                    qv = m[(c, "quantiles")]
                    cp.quantiles = [float(x) for x in qv] if qv is not None else None
            tp.columns[c] = cp
        profiles[key] = tp

    # ---- pass 2: fused equi-width histograms on pass-1 [min, max] ------
    hist_specs: dict[str, tuple[list[float], list[str]]] = {}
    hterms: list[AggTerm] = []
    q25_i = qs.index(0.25) if 0.25 in qs else None
    q75_i = qs.index(0.75) if 0.75 in qs else None
    for c in num_cols:
        if isinstance(hist_bins, int) and hist_bins <= 0:
            continue
        lo = min(
            (tp.columns[c].min_v for tp in profiles.values() if tp.columns[c].min_v is not None),
            default=None,
        )
        hi = max(
            (tp.columns[c].max_v for tp in profiles.values() if tp.columns[c].max_v is not None),
            default=None,
        )
        if lo is None or hi is None:
            continue
        if hi <= lo:
            hi = lo + 1.0
        if isinstance(hist_bins, str):
            # pooled across groups: total nonnull; nonnull-weighted mean IQR
            # from the pass-1 quantile sketches (exact IQR for 1 group +
            # exact percentiles; sketch-accurate otherwise)
            tot_nn = sum(tp.columns[c].nonnull_count for tp in profiles.values())
            iqr = None
            if q25_i is not None and q75_i is not None:
                pairs = [
                    (tp.columns[c].quantiles, tp.columns[c].nonnull_count)
                    for tp in profiles.values()
                    if tp.columns[c].quantiles is not None
                    and tp.columns[c].nonnull_count > 0
                ]
                wsum = sum(nn for _, nn in pairs)
                if wsum > 0:
                    iqr = (
                        sum((qv[q75_i] - qv[q25_i]) * nn for qv, nn in pairs) / wsum
                    )
            n_bins = auto_bin_count(tot_nn, lo, hi, iqr, method=hist_bins)
        else:
            n_bins = hist_bins
        edges = [lo + (hi - lo) * i / n_bins for i in range(n_bins + 1)]
        bins = [
            metric_term(
                base, "column.histogram.bin", num_cols[c],
                lo=edges[i], hi=edges[i + 1], closed_right=i == n_bins - 1,
            )
            for i in range(n_bins)
        ]
        hterms.extend(bins)
        hist_specs[c] = (edges, [t.alias for t in bins])

    # ---- pass 2 (histograms): needs pass-1 min/max; overlaps any still-
    # running top-k jobs, or is deferred entirely (defer_histograms) -------
    def run_hist_pass():
        if not hterms:
            return
        hgroups = dict(run_fused_pass(base, hterms, group_by))
        for key, tp in profiles.items():
            hm = hgroups.get(key, {})
            for c, (edges, bin_aliases) in hist_specs.items():
                weights = [float(hm.get(a) or 0) for a in bin_aliases]
                total = sum(weights)
                tp.columns[c].hist_bins = edges
                tp.columns[c].hist_weights = (
                    [w / total for w in weights] if total else weights
                )

    topk_rows: list = []
    try:
        if not defer_histograms:
            run_hist_pass()
        for f in topk_futs:
            topk_rows.extend(f.result())
    finally:
        if topk_ex is not None:
            topk_ex.shutdown(wait=True)

    for r in topk_rows:
        key = tuple(r[k] for k in group_by) if group_by else ()
        tp = profiles.get(key)
        if tp is None:
            continue
        c = r["colname"]
        cp = tp.columns.setdefault(
            c,
            ColumnProfile(
                column_name=c,
                spark_type=df.schema[c].dataType.simpleString(),
                row_count=0, null_count=0, approx_distinct=0,
            ),
        )
        if cp.top_k is None:
            cp.top_k = []
        cp.top_k.append({"value": r["value"], "count": int(r["cnt"])})
    for tp in profiles.values():
        for cp in tp.columns.values():
            if cp.top_k is not None:
                cp.top_k.sort(key=lambda t: (-t["count"], str(t["value"])))

    if defer_histograms:
        return list(profiles.values()), run_hist_pass
    return list(profiles.values())


def profile_deferred(
    df: DataFrame, **kwargs: Any
) -> tuple[list[TableProfile], Any]:
    """Always-stable signature for the deferred-histogram path (ADVICE r2):
    returns ``(profiles, finish)`` where ``finish()`` runs the histogram
    pass later and fills ``hist_bins``/``hist_weights`` in place. Use this
    instead of ``profile(..., defer_histograms=True)`` when the caller
    needs a fixed return type."""
    return profile(df, defer_histograms=True, **kwargs)  # type: ignore[return-value]


def profiles_to_rows(
    profiles: list[TableProfile], run_id: str, suite_id: str, snapshot_id: str = ""
) -> list[dict[str, Any]]:
    """Flatten to the FIXTURES.md §3 baseline/results-table schema."""
    import json

    rows = []
    for tp in profiles:
        for c, cp in tp.columns.items():
            rows.append(
                {
                    "run_id": run_id,
                    "suite_id": suite_id,
                    "snapshot_id": snapshot_id,
                    "group_json": json.dumps(tp.group, sort_keys=True, default=str),
                    "column_name": c,
                    "row_count": cp.row_count,
                    "null_count": cp.null_count,
                    "approx_distinct": cp.approx_distinct,
                    "min_v": cp.min_v,
                    "max_v": cp.max_v,
                    "mean_v": cp.mean_v,
                    "stddev_v": cp.stddev_v,
                    "quantiles": cp.quantiles,
                    "hist_bins": cp.hist_bins,
                    "hist_weights": cp.hist_weights,
                    "top_k_json": json.dumps(cp.top_k, default=str) if cp.top_k else None,
                }
            )
    return rows
