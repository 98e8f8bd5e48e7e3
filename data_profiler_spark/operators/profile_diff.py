"""Multi-run profile diffing: stored sketches -> per-column drift verdicts.

The "baseline profile rows" SURVEY §2.9 envisioned, completed: the profile
store becomes the drift source of record. Run A's BasicDatasetProfiler
output (operators/profile.py) is persisted once; any later run B compares
against the STORED sketches — run A's data is never re-scanned. The
reference has no cross-run comparison at all (its partition builders,
dataset/util.py:205-274, feed single-run expectations; its data-docs user
eyeballs two renders), so this is engine-original surface built on the
same sketch shapes.

Execution shape: the expensive part (profiling) is the existing fused
two-pass job; everything here is driver math over sketch rows — bounded by
columns x groups, exactly like the reference's per-batch result model —
and the verdicts return as a small DataFrame so they can join, store, or
gate downstream jobs.

Tests emitted per (group, column) present in both runs:
  - presence        drift=True when a column exists in only one run
  - null_fraction   |null_frac_a - null_frac_b|             (no verdict)
  - distinct_delta  |d_a - d_b| / max(d_a, 1)               (no verdict)
  - mean_shift      |mean_a - mean_b| / pooled stddev       (no verdict)
  - chi2_topk       two-sample chi-square over the union of stored top-k
                    values + a tail cell (counts are stored, so this is
                    the batch c_drift statistic); drift = p <= alpha
  - ks_hist         two-sample KS between the stored histograms; differing
                    bin edges are handled by piecewise-linear CDF
                    interpolation onto the merged edge grid (identical
                    edges reduce exactly to stats.ks_2samp_from_hist);
                    drift = p <= alpha
"""

from __future__ import annotations

import json
import math
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from data_profiler_spark.core.session import local_frame
from data_profiler_spark.functions import stats
from data_profiler_spark.operators.profile import TableProfile, profiles_to_rows
from data_profiler_spark.sources.results_store import (
    arrow_append_rows,
    read_parquet_or_empty,
)

PROFILE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("suite_id", T.StringType()),
        T.StructField("snapshot_id", T.StringType()),
        T.StructField("group_json", T.StringType()),
        T.StructField("column_name", T.StringType()),
        T.StructField("row_count", T.LongType()),
        T.StructField("null_count", T.LongType()),
        T.StructField("approx_distinct", T.LongType()),
        T.StructField("min_v", T.DoubleType()),
        T.StructField("max_v", T.DoubleType()),
        T.StructField("mean_v", T.DoubleType()),
        T.StructField("stddev_v", T.DoubleType()),
        T.StructField("quantiles", T.ArrayType(T.DoubleType())),
        T.StructField("hist_bins", T.ArrayType(T.DoubleType())),
        T.StructField("hist_weights", T.ArrayType(T.DoubleType())),
        T.StructField("top_k_json", T.StringType()),
    ]
)

VERDICT_SCHEMA = (
    "group_json string, column_name string, test string, stat double, "
    "p_value double, drift boolean, detail_json string"
)


class ProfileStore:
    """Parquet-backed store of flattened profile rows (FIXTURES.md §3
    baseline shape, via profiles_to_rows) — Iceberg/Delta in production,
    same API. Append-only like ResultsStore; one run_id per profile run."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        """Empty-store reads return an empty frame ONLY for the
        legitimate first-run case (path does not exist yet); any other
        failure — permissions, corrupt files, wrong format — re-raises,
        because swallowing it would make a drift gate built on this store
        pass vacuously against a mistyped path."""
        return read_parquet_or_empty(self.spark, self.path, PROFILE_SCHEMA)

    def append_profiles(
        self,
        profiles: list[TableProfile],
        run_id: str,
        suite_id: str,
        snapshot_id: str = "",
        mode: str = "append",
    ) -> None:
        self.append_runs([(profiles, run_id)], suite_id, snapshot_id, mode)

    def append_runs(
        self,
        runs: list[tuple[list[TableProfile], str]],
        suite_id: str,
        snapshot_id: str = "",
        mode: str = "append",
    ) -> None:
        """Persist several runs' profiles as ONE part file (the drift
        query writes its baseline+current pair in one append)."""
        rows = [
            r
            for profiles, run_id in runs
            for r in profiles_to_rows(profiles, run_id, suite_id, snapshot_id)
        ]
        tuples = [
            tuple(r.get(f.name) for f in PROFILE_SCHEMA.fields) for r in rows
        ]
        arrow_append_rows(self.path, tuples, PROFILE_SCHEMA, mode)

    def run_rows(self, run_id: str, suite_id: str | None = None) -> list[dict]:
        """One run's sketch rows, collected — bounded by columns x groups
        (the same driver-boundedness contract as the fused-pass results)."""
        return self.runs_rows([run_id], suite_id)[run_id]

    def runs_rows(
        self, run_ids: list[str], suite_id: str | None = None
    ) -> dict[str, list[dict]]:
        """Several runs' sketch rows in ONE collect job, keyed by run_id.
        Column-expression filters (not string SQL) so a quote in an id
        cannot break the predicate (ADVICE r6)."""
        from pyspark.sql import functions as F

        df = self.read().where(F.col("run_id").isin(list(run_ids)))
        if suite_id is not None:
            df = df.where(F.col("suite_id") == suite_id)
        out: dict[str, list[dict]] = {rid: [] for rid in run_ids}
        for r in df.collect():
            d = r.asDict(recursive=True)
            out[d["run_id"]].append(d)
        return out


# ---------------------------------------------------------------------------
# sketch comparison (pure driver math)
# ---------------------------------------------------------------------------


def _hist_cdf_at(grid, edges, weights):
    """Piecewise-linear CDF of a (edges, fraction-weights) histogram
    evaluated at each grid point; 0 below the first edge, 1 above the
    last (np.interp's clamping does exactly that)."""
    import numpy as np

    e = np.asarray(edges, dtype=float)
    w = np.asarray(weights, dtype=float)
    s = w.sum()
    cdf = np.concatenate([[0.0], np.cumsum(w / s if s else w)])
    return np.interp(grid, e, cdf, left=0.0, right=1.0)


def _ks_from_sketches(a: dict, b: dict) -> tuple[float, float]:
    import numpy as np

    grid = np.unique(
        np.concatenate(
            [np.asarray(a["hist_bins"], float), np.asarray(b["hist_bins"], float)]
        )
    )
    fa = _hist_cdf_at(grid, a["hist_bins"], a["hist_weights"])
    fb = _hist_cdf_at(grid, b["hist_bins"], b["hist_weights"])
    d = float(np.max(np.abs(fa - fb)))
    n1 = (a["row_count"] or 0) - (a["null_count"] or 0)
    n2 = (b["row_count"] or 0) - (b["null_count"] or 0)
    if n1 <= 0 or n2 <= 0:
        return d, 1.0
    en = math.sqrt(n1 * n2 / (n1 + n2))
    return d, stats.kolmogorov_sf((en + 0.12 + 0.11 / en) * d)


def _chi2_from_topk(a: dict, b: dict) -> tuple[float, float, int, dict]:
    ta = json.loads(a["top_k_json"])
    tb = json.loads(b["top_k_json"])
    ca = {str(t["value"]): float(t["count"]) for t in ta}
    cb = {str(t["value"]): float(t["count"]) for t in tb}
    values = sorted(set(ca) | set(cb))
    na = (a["row_count"] or 0) - (a["null_count"] or 0)
    nb = (b["row_count"] or 0) - (b["null_count"] or 0)
    row_a = [ca.get(v, 0.0) for v in values]
    row_b = [cb.get(v, 0.0) for v in values]
    # tail cell: nonnull mass beyond the stored top-k (0 when k covers all)
    row_a.append(max(float(na) - sum(row_a), 0.0))
    row_b.append(max(float(nb) - sum(row_b), 0.0))
    stat, p, dof = stats.chi2_contingency([row_a, row_b])
    return stat, p, dof, {"values": values, "n_a": na, "n_b": nb}


def profile_compare(
    rows_a: list[dict], rows_b: list[dict], alpha: float = 0.05
) -> list[dict[str, Any]]:
    """Compare two runs' flattened profile rows -> verdict dicts (see
    module docstring for the emitted tests). Pure driver math; inputs and
    outputs are both bounded by columns x groups."""
    key = lambda r: (r.get("group_json") or "{}", r["column_name"])  # noqa: E731
    a_by = {key(r): r for r in rows_a}
    b_by = {key(r): r for r in rows_b}
    out: list[dict[str, Any]] = []

    def emit(k, test, stat=None, p=None, drift=None, detail=None):
        out.append(
            {
                "group_json": k[0],
                "column_name": k[1],
                "test": test,
                "stat": None if stat is None else float(stat),
                "p_value": None if p is None else float(p),
                "drift": drift,
                "detail_json": json.dumps(detail, default=str) if detail else None,
            }
        )

    for k in sorted(set(a_by) ^ set(b_by)):
        emit(
            k, "presence", drift=True,
            detail={"only_in": "a" if k in a_by else "b"},
        )
    for k in sorted(set(a_by) & set(b_by)):
        a, b = a_by[k], b_by[k]
        fa = (a["null_count"] or 0) / max(a["row_count"] or 0, 1)
        fb = (b["null_count"] or 0) / max(b["row_count"] or 0, 1)
        emit(k, "null_fraction", stat=abs(fa - fb))
        da, db = a["approx_distinct"] or 0, b["approx_distinct"] or 0
        emit(k, "distinct_delta", stat=abs(da - db) / max(da, 1))
        if a["mean_v"] is not None and b["mean_v"] is not None:
            pooled = math.sqrt(
                ((a["stddev_v"] or 0.0) ** 2 + (b["stddev_v"] or 0.0) ** 2) / 2
            )
            if pooled > 0:
                emit(k, "mean_shift", stat=abs(a["mean_v"] - b["mean_v"]) / pooled)
        if a.get("top_k_json") and b.get("top_k_json"):
            stat, p, dof, detail = _chi2_from_topk(a, b)
            detail["dof"] = dof
            emit(k, "chi2_topk", stat=stat, p=p, drift=bool(p <= alpha),
                 detail=detail)
        if a.get("hist_bins") and b.get("hist_bins"):
            d, p = _ks_from_sketches(a, b)
            emit(k, "ks_hist", stat=d, p=p, drift=bool(p <= alpha))
    return out


def compare_profile_runs(
    store: ProfileStore,
    run_a: str,
    run_b: str,
    suite_id: str | None = None,
    alpha: float = 0.05,
) -> DataFrame:
    """Store-level entry point: load both runs' sketch rows (one collect
    job for the pair), compare, and return the verdicts as a DataFrame
    (joinable / storable / gateable)."""
    by_run = store.runs_rows([run_a, run_b], suite_id)
    rows = profile_compare(by_run[run_a], by_run[run_b], alpha)
    return local_frame(
        store.spark,
        [
            (
                r["group_json"], r["column_name"], r["test"], r["stat"],
                r["p_value"], r["drift"], r["detail_json"],
            )
            for r in rows
        ],
        VERDICT_SCHEMA,
    )
