"""Mergeable set sketches for corpus snapshot comparison.

KMV / bottom-k distinct-value sketch (Beyer et al., SIGMOD 2007): keep the
k smallest hash values of a key set; the k-th smallest estimates the
distinct count ((k-1)/h_k for h_k normalized to [0,1)), and two sketches
merge by taking the bottom-k of their union — which also yields a Jaccard
estimate (the fraction of the merged bottom-k present in both sides).
This is the scale path for "how much does crawl snapshot B overlap
snapshot A" without joining the snapshots: each side reduces to k hashes
(k ~ hundreds), the estimate is O(k) work, and the sketch is mergeable
across partitions/days exactly like the engine's other distributive aggs.

The reference has no sketch of this kind (its distinct counting is exact
or HLL); this goes beyond it per the training-data mandate. Hashes are
md5-prefix integers — the same engine-portable scheme as
``operators/dedup.py`` — so an independent SQL re-implementation (the
DuckDB oracle) reproduces every estimate bit-exactly.

All plans are declarative: per-side sketch = distinct -> TakeOrdered(k)
(map-side partial top-k, shuffle ∝ distinct keys — the same contract as
exact dedup); the merge/estimate math runs as joins/aggs over <= 2k rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_profiler_spark.core.session import local_frame
# 15 hex digits = 60 bits: exact in a BIGINT in both Spark and DuckDB
# (16 digits could overflow the signed range), exact as a double's
# 60-bit integer? no — but h/SPACE is only used as a ratio estimate,
# where the < 2^-52 relative quantization is irrelevant and identical
# in both engines.
_HEX_DIGITS = 15
HASH_SPACE = float(16**_HEX_DIGITS)


def kmv_hash(col: Column) -> Column:
    """md5-prefix hash of a key as a non-negative 60-bit BIGINT."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, _HEX_DIGITS), 16, 10
    ).cast("long")


def kmv_sketch(df: DataFrame, key_col: str | Column, k: int = 256) -> DataFrame:
    """Bottom-k sketch of a key column: the k smallest DISTINCT hash
    values, one ``h`` column. distinct -> orderBy -> limit compiles to a
    map-side-combined HashAggregate + TakeOrderedAndProject — no global
    sort materializes.

    NULL keys are dropped BEFORE sketching: md5(NULL) is NULL, which
    sorts first (NULLS FIRST) and would occupy a sketch slot — worse, a
    single NULL makes count(h) read k-1 and trips the "exhaustive
    sketch" branch of the estimator, collapsing a million-key estimate
    to ~k-1."""
    col = F.col(key_col) if isinstance(key_col, str) else key_col
    return (
        df.select(kmv_hash(col).alias("h"))
        .where(F.col("h").isNotNull())
        .distinct()
        .orderBy("h")
        .limit(int(k))
    )


def kmv_overlap(
    df_a: DataFrame,
    df_b: DataFrame,
    key_col: str | Column,
    k: int = 256,
    round_to: int = 6,
) -> DataFrame:
    """One-row estimate of |A|, |B|, |A ∪ B| and Jaccard(A, B) from two
    bottom-k sketches, plus the intersection count within the merged
    sketch. Deterministic given the inputs (pure hash order statistics).

    Estimators (Beyer et al. §3): with h_k the k-th smallest normalized
    hash of a set's sketch, distinct ≈ (k-1)/h_k; the merged bottom-k of
    A ∪ B is itself the union's sketch, and the fraction of it present
    in BOTH sides is an unbiased Jaccard estimate. If a side has fewer
    than k distinct keys its sketch is exhaustive and the "estimate" is
    exact (the count itself).

    EAGER: the call itself runs one Spark job that collects both sketches
    (at most 2k hashes) and computes the estimate at the driver; the
    returned frame is a one-row local relation, so acting on it runs
    nothing over the inputs again."""
    # One distributed job per side builds the sketch (distinct +
    # TakeOrdered — the only part that touches the input); the estimate
    # itself is O(k) integer/order-statistic math, so it runs at the
    # DRIVER over the <= 2k collected hashes (r7). The previous
    # declarative estimator referenced each sketch three times (union
    # merge, semi-join membership, count/max aggregate) and its crossJoin
    # cascade spawned ~16 broadcast/AQE jobs over 1-row frames — Catalyst
    # re-executed the whole distinct+TakeOrdered input subtree per
    # reference. Doubles replicate the Column arithmetic exactly: same
    # long->double casts, same divisions, and HALF_UP rounding on the
    # shortest-decimal form (Java BigDecimal.valueOf == Python repr).
    # ONE collect for both sides: tagging and unioning the two bounded
    # sketches makes their subtrees sibling branches of a single job, so
    # they execute concurrently without driver threads and pay one job's
    # fixed cost, not two
    tagged = (
        kmv_sketch(df_a, key_col, k).select(F.lit(0).alias("s"), "h")
        .union(kmv_sketch(df_b, key_col, k).select(F.lit(1).alias("s"), "h"))
    )
    rows = tagged.collect()
    hs_a = [r["h"] for r in rows if r["s"] == 0]
    hs_b = [r["h"] for r in rows if r["s"] == 1]
    set_a, set_b = set(hs_a), set(hs_b)
    merged = sorted(set_a | set_b)[: int(k)]
    k_int = sum(1 for h in merged if h in set_a and h in set_b)

    from decimal import ROUND_HALF_UP, Decimal

    def rnd(x: float) -> float:
        if x != x or x in (float("inf"), float("-inf")):
            return x
        return float(
            Decimal(repr(x)).quantize(
                Decimal(1).scaleb(-int(round_to)), rounding=ROUND_HALF_UP
            )
        )

    def d_est(hs: list) -> float:
        n = len(hs)
        if n < int(k):
            return rnd(float(n))
        return rnd((float(n) - 1.0) / (float(max(hs)) / HASH_SPACE))

    n_u = len(merged)
    jac = rnd(float(k_int) / float(n_u)) if n_u else float("nan")
    return local_frame(
        df_a.sparkSession,
        [(int(k), d_est(hs_a), d_est(hs_b), d_est(merged), k_int, jac)],
        "k int, est_distinct_a double, est_distinct_b double, "
        "est_distinct_union double, k_intersect bigint, est_jaccard double",
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan, J. Algorithms 2005)
# ---------------------------------------------------------------------------


def cms_bucket(col: Column, row: int, width: int) -> Column:
    """Row-``row``'s bucket for a key: md5-prefix of ``row || key`` mod
    width — d independent hash rows come from salting the same
    engine-portable md5 scheme as :func:`kmv_hash`."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"cms{row}:"), col.cast("string"))),
                1,
                _HEX_DIGITS,
            ),
            16,
            10,
        ).cast("long")
        % width
    )


def cms_sketch(
    df: DataFrame, key_col: str | Column, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Build a Count-Min sketch of a key column: ``(row, bucket, cnt)``,
    depth x width cells. Fixed-size regardless of key cardinality — the
    scale story vs an exact ``groupBy(key)``: counting heavy hitters over
    10^12 URLs/tokens shuffles (depth x width) cells instead of one row
    per distinct key, and two sketches (days, partitions, corpora) merge
    by cell-wise ADDITION — the distributive-agg contract the engine's
    checkpoint/baseline stores rely on.

    Plan: one projection exploding each input row to ``depth`` (row,
    bucket) pairs, then a map-side-combinable groupBy over at most
    depth x width groups. No state beyond the cells, no driver collect.
    """
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    rows = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"), cms_bucket(key, r, width).alias("bucket")
            )
            for r in range(depth)
        ]
    )
    return (
        df.select(F.explode(rows).alias("rb"))
        .groupBy(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame, probes: DataFrame, key_col: str, depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-estimate probe keys against a CMS: for each probe key, the
    MIN over the d rows of its bucket's count — an upper bound on the true
    frequency (error <= e/width x total count with prob 1 - e^-depth).

    Plan: probes explode to d (row, bucket) lookups and join the sketch
    (depth x width cells — broadcast-sized by construction); one
    groupBy(probe) MIN. Missing cells count 0 (key never hashed there).
    """
    key = F.col(key_col)
    rows = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"), cms_bucket(key, r, width).alias("bucket")
            )
            for r in range(depth)
        ]
    )
    lookups = probes.select(key.alias("probe"), F.explode(rows).alias("rb")).select(
        "probe", F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket")
    )
    return (
        lookups.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy("probe")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )
