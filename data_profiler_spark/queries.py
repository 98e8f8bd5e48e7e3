"""Named queries over the driver testdata — the correctness-gate surface.

Each entry pairs a PySpark DataFrame builder with an ANSI-SQL oracle that
DuckDB executes on the same parquet (tables pre-registered as views). The
driver compares row-count + schema + order-insensitive value hash, so:

- every computed column is aliased IDENTICALLY in both;
- float results are made engine-portable: sums/averages go through
  DECIMAL arithmetic (exact, associative — immune to fp summation order)
  and are rounded before the final cast to double;
- top-k/limit queries pin unique total orders (explicit tie-breaks);
- hashes use md5 hex (identical across engines).

Queries without an oracle (engine-specific: north-rule code table with
xxhash-based generation, multimodal fake decode) are marked oracle=None and
get the driver's rows-only check.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_profiler_spark.core.session import local_frame

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register_query(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        _REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return {k: v[0] for k, v in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {k: v[1] for k, v in _REGISTRY.items() if v[1] is not None}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One input table. Spark's parquet schema inference is a Spark job,
    so the schema it inferred at the first read is kept in the table's
    ``_input_meta`` entry and every later read of the same files passes it
    with ``.schema(...)``: no job. A rewritten file is a new entry and is
    inferred again. Inputs ``_input_meta`` cannot key are always inferred."""
    path = f"{sf_dir}/{name}.parquet"
    meta = _input_meta(sf_dir, name)
    if meta is not None and "schema" in meta:
        return spark.read.schema(meta["schema"]).parquet(path)
    df = spark.read.parquet(path)
    if meta is not None:
        meta["schema"] = df.schema
    return df


_INPUT_META: dict[tuple, dict | None] = {}


def _input_meta(sf_dir: str, name: str) -> dict | None:
    """Driver-side facts about one parquet input, read with pyarrow in
    milliseconds and no Spark job: ``rows`` and ``row_groups`` from the
    footers and, for ``embeddings``, the ANN ``query_rows`` (vec_id < 5,
    sorted, as ``[(id, [float])]``); ``_t`` adds the ``schema`` Spark
    inferred at its first read. Cached on the identity (name, size,
    mtime_ns) of every parquet file under the path, globbed recursively,
    so a rewritten input is read again. None when the path cannot be read
    locally; callers then fall back to Spark."""
    import glob
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    files = sorted(glob.glob(f"{path}/**/*.parquet", recursive=True)) or [path]
    try:
        key = tuple((f, os.stat(f).st_size, os.stat(f).st_mtime_ns) for f in files)
    except OSError:
        return None
    if key not in _INPUT_META:
        try:
            metas = [pq.ParquetFile(f).metadata for f in files]
            meta = {
                "rows": sum(m.num_rows for m in metas),
                "row_groups": sum(m.num_row_groups for m in metas),
            }
            if name == "embeddings":
                qrows = []
                for f in files:
                    t = pq.read_table(f, columns=["vec_id", "embedding"],
                                      filters=[("vec_id", "<", 5)])
                    qrows += zip(t.column("vec_id").to_pylist(),
                                 t.column("embedding").to_pylist())
                meta["query_rows"] = sorted(
                    (vid, [float(x) for x in emb]) for vid, emb in qrows
                )
        except (OSError, ValueError):
            meta = None
        _INPUT_META[key] = meta
    return _INPUT_META[key]


def _emb_query_rows(sf_dir: str) -> list | None:
    """The ANN queries' ``query_rows`` from ``_input_meta``, or None."""
    meta = _input_meta(sf_dir, "embeddings")
    return meta and meta["query_rows"]


def _split_probe(spark: SparkSession, sf_dir: str, name: str, d: DataFrame) -> bool:
    """True when the table's scan would yield fewer row-bearing splits
    than cores/4 (a parquet file written as ONE row group cannot be
    split). Counts row groups from the footers (``_input_meta``); for a
    non-local path it falls back to ``d.rdd.getNumPartitions()``."""
    meta = _input_meta(sf_dir, name)
    splits = meta["row_groups"] if meta else d.rdd.getNumPartitions()
    return splits < max(2, spark.sparkContext.defaultParallelism // 4)


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings table with the same defensive repartition as ``_docs``:
    the fixture is a single row group, so every vector op (centroid
    assignment folds, GEMM feed, PQ encode) would otherwise run its
    compute as ONE task regardless of cores."""
    d = _t(spark, sf_dir, "embeddings")
    if _split_probe(spark, sf_dir, "embeddings", d):
        d = d.repartition(spark.sparkContext.defaultParallelism)
    return d


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents table with a defensive repartition for CPU-heavy text ops.

    A parquet file written as ONE row group cannot be split — neither
    ``minPartitionNum`` nor ``maxPartitionBytes`` helps — so the whole
    corpus would run as a single task regardless of cores (the sf0.1
    fixture is exactly this shape). When the scan yields fewer splits
    than cores/4, shuffle once up to full parallelism; at real scale the
    scan has >> cores splits and this is a no-op. Only used by queries
    that process the text column (for column-pruned light queries a
    repartition would force-read the text bytes)."""
    d = _t(spark, sf_dir, "documents")
    if _split_probe(spark, sf_dir, "documents", d):
        d = d.repartition(spark.sparkContext.defaultParallelism)
    return d


# ===========================================================================
# 1. Fused profile (the flagship): all scalar metrics in ONE pass
# ===========================================================================

_PROFILE_ORACLE = """
SELECT l_returnflag, l_linestatus,
       count(*) AS row_count,
       CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_price,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) / count(l_quantity), 6) AS avg_qty,
       CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
       CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_qty
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


@register_query("profile_lineitem", _PROFILE_ORACLE)
def q_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    dq = F.col("l_quantity").cast("decimal(20,4)")
    dp = F.col("l_extendedprice").cast("decimal(20,4)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("row_count"),
        F.sum(dq).cast("double").alias("sum_qty"),
        F.sum(dp).cast("double").alias("sum_price"),
        F.round(F.sum(dq).cast("double") / F.count("l_quantity"), 6).alias("avg_qty"),
        F.min("l_extendedprice").cast("double").alias("min_price"),
        F.max("l_extendedprice").cast("double").alias("max_price"),
        F.count_distinct(F.col("l_orderkey")).alias("n_orders"),
        F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0)).alias("null_qty"),
    )


@register_query(
    "table_row_counts",
    """
SELECT 'lineitem' AS table_name, count(*) AS row_count FROM lineitem
UNION ALL SELECT 'orders', count(*) FROM orders
UNION ALL SELECT 'customer', count(*) FROM customer
UNION ALL SELECT 'documents', count(*) FROM documents
""",
)
def q_table_row_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = []
    for t in ["lineitem", "orders", "customer", "documents"]:
        parts.append(
            _t(spark, sf_dir, t).agg(
                F.lit(t).alias("table_name"), F.count(F.lit(1)).alias("row_count")
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@register_query(
    "null_counts_orders",
    """
SELECT CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_orderkey,
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
       CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_status,
       CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_totalprice,
       COUNT(*) AS row_count
FROM orders
""",
)
def q_null_counts_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias("null_orderkey"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias("null_custkey"),
        F.sum(F.when(F.col("o_orderstatus").isNull(), 1).otherwise(0)).alias("null_status"),
        F.sum(F.when(F.col("o_totalprice").isNull(), 1).otherwise(0)).alias("null_totalprice"),
        F.count(F.lit(1)).alias("row_count"),
    )


@register_query(
    "value_counts_lang",
    """
SELECT lang AS value, count(*) AS cnt FROM documents
WHERE lang IS NOT NULL GROUP BY lang
""",
)
def q_value_counts_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.where(F.col("lang").isNotNull())
        .groupBy(F.col("lang").alias("value"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register_query(
    "between_counts_quantity",
    """
SELECT COUNT(*) AS element_count,
       CAST(SUM(CASE WHEN l_quantity >= 10 AND l_quantity <= 40 THEN 1 ELSE 0 END) AS BIGINT) AS in_range,
       CAST(SUM(CASE WHEN l_quantity IS NOT NULL AND (l_quantity < 10 OR l_quantity > 40) THEN 1 ELSE 0 END) AS BIGINT) AS unexpected_count
FROM lineitem
""",
)
def q_between_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    c = F.col("l_quantity")
    return li.agg(
        F.count(F.lit(1)).alias("element_count"),
        F.sum(F.when((c >= 10) & (c <= 40), 1).otherwise(0)).alias("in_range"),
        F.sum(F.when(c.isNotNull() & ((c < 10) | (c > 40)), 1).otherwise(0)).alias(
            "unexpected_count"
        ),
    )


_HIST_ORACLE = """
SELECT CAST(SUM(CASE WHEN l_extendedprice >= 0 AND l_extendedprice < 20000 THEN 1 ELSE 0 END) AS BIGINT) AS bin_0,
       CAST(SUM(CASE WHEN l_extendedprice >= 20000 AND l_extendedprice < 40000 THEN 1 ELSE 0 END) AS BIGINT) AS bin_1,
       CAST(SUM(CASE WHEN l_extendedprice >= 40000 AND l_extendedprice < 60000 THEN 1 ELSE 0 END) AS BIGINT) AS bin_2,
       CAST(SUM(CASE WHEN l_extendedprice >= 60000 AND l_extendedprice <= 80000 THEN 1 ELSE 0 END) AS BIGINT) AS bin_3,
       CAST(SUM(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS below,
       CAST(SUM(CASE WHEN l_extendedprice > 80000 THEN 1 ELSE 0 END) AS BIGINT) AS above
FROM lineitem
"""


@register_query("histogram_extendedprice", _HIST_ORACLE)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass fused histogram (vs the reference's Bucketizer + second
    edge job, column_histogram.py:160-234); last bin right-inclusive."""
    li = _t(spark, sf_dir, "lineitem")
    c = F.col("l_extendedprice")
    edges = [0.0, 20000.0, 40000.0, 60000.0, 80000.0]
    aggs = []
    for i in range(4):
        lo, hi = edges[i], edges[i + 1]
        cond = (c >= lo) & ((c <= hi) if i == 3 else (c < hi))
        aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(f"bin_{i}"))
    aggs.append(F.sum(F.when(c < edges[0], 1).otherwise(0)).alias("below"))
    aggs.append(F.sum(F.when(c > edges[-1], 1).otherwise(0)).alias("above"))
    return li.agg(*aggs)


@register_query(
    "distinct_counts_lineitem",
    """
SELECT COUNT(DISTINCT l_orderkey) AS d_orderkey,
       COUNT(DISTINCT l_partkey) AS d_partkey,
       COUNT(DISTINCT l_suppkey) AS d_suppkey,
       COUNT(DISTINCT l_returnflag) AS d_returnflag
FROM lineitem
""",
)
def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count_distinct(F.col("l_orderkey")).alias("d_orderkey"),
        F.count_distinct(F.col("l_partkey")).alias("d_partkey"),
        F.count_distinct(F.col("l_suppkey")).alias("d_suppkey"),
        F.count_distinct(F.col("l_returnflag")).alias("d_returnflag"),
    )


@register_query(
    "duplicate_key_counts",
    """
SELECT cnt AS key_count, COUNT(*) AS n_keys FROM (
  SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_orderkey
) GROUP BY cnt
""",
)
def q_duplicate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniqueness-check shape: distribution of key multiplicities
    (uniqueness.py). One exchange: the map-side partial count bounds a
    hot key to one partial row per input partition — the r6 explicit
    spark_partition_id() salt duplicated that bound at the price of a
    second full exchange (see duplicate_key_counts' docstring)."""
    li = _t(spark, sf_dir, "lineitem")
    per_key = li.select("l_orderkey").groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("key_count")
    )
    return per_key.groupBy("key_count").agg(F.count(F.lit(1)).alias("n_keys"))


@register_query(
    "referential_orphans",
    """
SELECT
  (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
     (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS lineitem_orphans,
  (SELECT COUNT(*) FROM events e WHERE NOT EXISTS
     (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)) AS event_orphans
""",
)
def q_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("l_orderkey"))
    ev = _t(spark, sf_dir, "events")
    cu = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("user_id"))
    # no dropDuplicates before the broadcast (r7): LEFT ANTI semantics are
    # duplicate-insensitive on the build side, so the dedup was a full
    # shuffle of every key for nothing — the broadcast hash set dedups by
    # construction
    a = li.join(F.broadcast(o), "l_orderkey", "left_anti").agg(
        F.count(F.lit(1)).alias("lineitem_orphans")
    )
    b = ev.join(F.broadcast(cu), "user_id", "left_anti").agg(
        F.count(F.lit(1)).alias("event_orphans")
    )
    return a.crossJoin(b)


@register_query(
    "quantiles_quantity",
    """
SELECT ROUND(quantile_cont(l_quantity, 0.25), 6) AS q25,
       ROUND(quantile_cont(l_quantity, 0.5), 6) AS q50,
       ROUND(quantile_cont(l_quantity, 0.75), 6) AS q75,
       ROUND(quantile_cont(l_quantity, 0.95), 6) AS q95
FROM lineitem
""",
)
def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    c = F.col("l_quantity")
    return li.agg(
        F.round(F.percentile(c, F.lit(0.25)), 6).alias("q25"),
        F.round(F.percentile(c, F.lit(0.5)), 6).alias("q50"),
        F.round(F.percentile(c, F.lit(0.75)), 6).alias("q75"),
        F.round(F.percentile(c, F.lit(0.95)), 6).alias("q95"),
    )


@register_query(
    "regex_priority_counts",
    """
SELECT CAST(SUM(CASE WHEN regexp_matches(o_orderpriority, '^1-URGENT') THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
       CAST(SUM(CASE WHEN regexp_matches(o_orderpriority, '^[12]-') THEN 1 ELSE 0 END) AS BIGINT) AS high,
       COUNT(*) AS element_count
FROM orders
""",
)
def q_regex_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = F.col("o_orderpriority")
    return o.agg(
        F.sum(F.when(c.rlike("^1-URGENT"), 1).otherwise(0)).alias("urgent"),
        F.sum(F.when(c.rlike("^[12]-"), 1).otherwise(0)).alias("high"),
        F.count(F.lit(1)).alias("element_count"),
    )


@register_query(
    "increasing_violations",
    """
SELECT COUNT(*) AS violations FROM (
  SELECT o_totalprice - lag(o_totalprice) OVER
           (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS diff
  FROM orders
) WHERE diff < 0
""",
)
def q_increasing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    diff = F.col("o_totalprice") - F.lag("o_totalprice").over(w)
    return (
        o.withColumn("diff", diff)
        .where(F.col("diff") < 0)
        .agg(F.count(F.lit(1)).alias("violations"))
    )


@register_query(
    "zscore_outliers",
    """
WITH s AS (
  SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE) / COUNT(l_extendedprice) AS m,
         stddev_samp(l_extendedprice) AS sd
  FROM lineitem
)
SELECT COUNT(*) AS outliers FROM lineitem, s
WHERE abs((l_extendedprice - s.m) / s.sd) >= 2.0
""",
)
def q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    c = F.col("l_extendedprice")
    s = li.agg(
        (F.sum(c.cast("decimal(20,4)")).cast("double") / F.count(c)).alias("m"),
        F.stddev_samp(c).alias("sd"),
    )
    return (
        li.crossJoin(F.broadcast(s))
        .where(F.abs((c - F.col("m")) / F.col("sd")) >= 2.0)
        .agg(F.count(F.lit(1)).alias("outliers"))
    )


@register_query(
    "pair_comparison_counts",
    """
SELECT CAST(SUM(CASE WHEN l_discount > l_tax THEN 1 ELSE 0 END) AS BIGINT) AS discount_gt_tax,
       CAST(SUM(CASE WHEN l_discount = l_tax THEN 1 ELSE 0 END) AS BIGINT) AS discount_eq_tax,
       COUNT(*) AS element_count
FROM lineitem
""",
)
def q_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.sum(F.when(F.col("l_discount") > F.col("l_tax"), 1).otherwise(0)).alias(
            "discount_gt_tax"
        ),
        F.sum(F.when(F.col("l_discount") == F.col("l_tax"), 1).otherwise(0)).alias(
            "discount_eq_tax"
        ),
        F.count(F.lit(1)).alias("element_count"),
    )


@register_query(
    "chi2_lang_stat",
    """
WITH obs AS (
  SELECT lang, COUNT(*) AS o FROM documents WHERE lang IS NOT NULL GROUP BY lang
), tot AS (SELECT SUM(o) AS n FROM obs)
SELECT ROUND(SUM((o - n * 0.2) * (o - n * 0.2) / (n * 0.2)), 6) AS chi2_stat
FROM obs, tot
""",
)
def q_chi2_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift sketch math in-engine: chi-square statistic of
    observed lang counts vs uniform expected (p-value is driver-side numpy,
    functions/stats.py)."""
    d = _t(spark, sf_dir, "documents")
    obs = d.where(F.col("lang").isNotNull()).groupBy("lang").agg(
        F.count(F.lit(1)).alias("o")
    )
    tot = obs.agg(F.sum("o").alias("n"))
    e = F.col("n") * 0.2
    return (
        obs.crossJoin(F.broadcast(tot))
        .agg(F.round(F.sum((F.col("o") - e) * (F.col("o") - e) / e), 6).alias("chi2_stat"))
    )


@register_query(
    "join_revenue_by_segment",
    """
SELECT c.c_mktsegment,
       COUNT(*) AS n_lineitems,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(20,4))
                * CAST(1 - l.l_discount AS DECIMAL(20,4))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
GROUP BY c.c_mktsegment
""",
)
def q_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3/Q5-style join + agg: lineitem joins orders (shuffle/SMJ —
    both large), orders joins customer (broadcast — small dim). Decimal
    arithmetic keeps the revenue sum order-independent and oracle-exact."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    rev = F.col("l_extendedprice").cast("decimal(20,4)") * (
        F.lit(1).cast("decimal(20,4)") - F.col("l_discount").cast("decimal(20,4)")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.sum(rev).cast("double").alias("revenue"),
        )
    )


@register_query(
    "join_top_customers",
    """
SELECT c_custkey, c_name, n_orders, total_spend FROM (
  SELECT c.c_custkey, c.c_name,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(20,4))) AS DOUBLE) AS total_spend,
         row_number() OVER (ORDER BY CAST(SUM(CAST(o.o_totalprice AS DECIMAL(20,4))) AS DOUBLE) DESC, c.c_custkey) AS rnk
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey, c.c_name
) WHERE rnk <= 20
""",
)
def q_join_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10-style top-k by aggregate: join + groupBy + global top-20 with a
    deterministic tie-break (decimal-exact spend, then key)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    agg = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(20,4)")).cast("double")
            .alias("total_spend"),
        )
    )
    return (
        agg.orderBy(F.desc("total_spend"), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "n_orders", "total_spend")
    )


@register_query(
    "join_nation_supplier_counts",
    """
SELECT r.r_name AS region, n.n_name AS nation, COUNT(s.s_suppkey) AS n_suppliers
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
LEFT JOIN supplier s ON s.s_nationkey = n.n_nationkey
GROUP BY r.r_name, n.n_name
""",
)
def q_join_nation_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake-dim chain with an outer join (keeps empty nations)."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(s, s.s_nationkey == n.n_nationkey, "left")
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.count(F.col("s_suppkey")).alias("n_suppliers"))
    )


@register_query(
    "events_sessionization",
    """
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT CAST(SUM(new_session) AS BIGINT) AS n_sessions,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events
FROM gaps
""",
)
def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + gap threshold (common OLAP pattern; windows
    partition by user — parallel, never a global sort)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    # ts is TIMESTAMP_NTZ in the parquet: not castable to BIGINT directly —
    # go through `timestamp` first
    ep = F.col("ts").cast("timestamp").cast("long")
    prev_ep = prev.cast("timestamp").cast("long")
    new_session = F.when(prev.isNull() | (ep - prev_ep > 1800), 1).otherwise(0)
    return ev.withColumn("new_session", new_session).agg(
        F.sum("new_session").alias("n_sessions"),
        F.count_distinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register_query(
    "unexpected_value_counts",
    """
SELECT o_orderpriority AS value, COUNT(*) AS n
FROM orders
WHERE o_orderpriority IS NOT NULL
  AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
GROUP BY o_orderpriority
""",
)
def q_unexpected_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The result-format ladder end-to-end: a failing in_set constraint run
    at result_format=SUMMARY, exposing partial_unexpected_counts (reference
    _spark_column_map_condition_value_counts + _format_map_output)."""
    from data_profiler_spark.core.suite import ConstraintSuite
    from data_profiler_spark.validator import Validator

    o = _t(spark, sf_dir, "orders")
    suite = ConstraintSuite("evr_summary").add(
        "expect_column_values_to_be_in_set",
        column="o_orderpriority",
        value_set=["1-URGENT", "2-HIGH", "3-MEDIUM"],
    )
    res = Validator(o).validate(suite, result_format="SUMMARY")
    r = res.results[0]
    rows = [(d["value"], d["count"]) for d in (r.partial_unexpected_counts or [])]
    return local_frame(spark, rows, "value string, n long")


_KS_UNIFORM_ORACLE = """
WITH s AS (
  SELECT CAST(l_quantity AS DOUBLE) AS v FROM lineitem WHERE l_quantity IS NOT NULL
), r AS (
  SELECT v, row_number() OVER (ORDER BY v) AS i, COUNT(*) OVER () AS n FROM s
), c AS (
  SELECT i, n, LEAST(1.0, GREATEST(0.0, (v - 1.0) / 49.0)) AS fx FROM r
)
SELECT ROUND(MAX(GREATEST(i * 1.0 / n - fx, fx - (i - 1.0) / n)), 6) AS ks_d,
       CAST(MAX(n) AS BIGINT) AS n_values
FROM c
"""


@register_query("ks_quantity_uniform", _KS_UNIFORM_ORACLE)
def q_ks_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed EXACT one-sample KS statistic of l_quantity against
    uniform(loc=1, scale=49) — range-partitioned sort + offset-based global
    ranks, no driver collect of values (the reference's version is
    pandas-only scipy.kstest). The oracle recomputes D with a window over
    the same CDF; the scipy (min, max-as-scale) positional convention is
    the reference's (metrics/util.py:534-535)."""
    from data_profiler_spark.operators.distribution import ks_test_parameterized

    li = _t(spark, sf_dir, "lineitem")
    d, p, n = ks_test_parameterized(
        li, "l_quantity", "uniform", {"min": 1.0, "max": 49.0}
    )[()]
    return local_frame(
        spark, [(round(d, 6), n)], "ks_d double, n_values long"
    )


# ===========================================================================
# 2. Text analysis (documents)
# ===========================================================================

_PASSAGE_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts FROM documents
), wins AS (
  SELECT doc_id, md5(array_to_string(ts[i:i+9], ' ')) AS ph
  FROM toks, UNNEST(range(1, len(ts) - 10 + 2, 5)) AS t(i)
  WHERE len(ts) >= 10
), counted AS (
  SELECT ph, COUNT(*) AS c FROM wins GROUP BY ph
)
SELECT w.doc_id,
       COUNT(*) AS n_passages,
       CAST(SUM(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_passages
FROM wins w JOIN counted c USING (ph)
GROUP BY w.doc_id
HAVING SUM(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) > 0
"""


@register_query("passage_dup_stats", _PASSAGE_ORACLE)
def q_passage_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup (hashed sliding windows — the distributed
    approximation of suffix-array exact-substring dedup): documents carrying
    at least one corpus-duplicated 10-token passage."""
    from data_profiler_spark.operators.text import passage_dup_stats

    d = _docs(spark, sf_dir)
    return passage_dup_stats(d, "doc_id", "text", window=10, stride=5).where(
        F.col("n_dup_passages") > 0
    )


_PII_ORACLE = r"""
WITH injected AS (
  SELECT doc_id,
         CASE
           WHEN doc_id % 7 = 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com or 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
           WHEN doc_id % 5 = 0 THEN text || ' see https://data.example.org/doc/'
                || CAST(doc_id AS VARCHAR) || ' next'
           ELSE text
         END AS t
  FROM documents
), counted AS (
  SELECT doc_id,
         len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
         len(regexp_extract_all(t, 'https?://[^\s]+')) AS n_urls,
         len(regexp_extract_all(t, '\b(\d{1,3}\.){3}\d{1,3}\b')) AS n_ips,
         len(regexp_replace(regexp_replace(regexp_replace(t,
             'https?://[^\s]+', '<URL>', 'g'),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g')) AS clean_len
  FROM injected
)
SELECT doc_id, CAST(n_emails AS INTEGER) AS n_emails,
       CAST(n_urls AS INTEGER) AS n_urls, CAST(n_ips AS INTEGER) AS n_ips,
       CAST(clean_len AS INTEGER) AS clean_len
FROM counted
WHERE n_emails + n_urls + n_ips > 0
"""


@register_query("pii_scrub_counts", _PII_ORACLE)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/URL detection + redaction (training-data hygiene), demonstrated
    on deterministically injected addresses (the synthetic corpus itself is
    PII-free; both engines inject the same strings, so the oracle is
    exact)."""
    from data_profiler_spark.operators.text import pii_counts, scrub_pii

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    injected = (
        F.when(
            did % 7 == 0,
            F.concat(
                F.col("text"), F.lit(" contact user"), did.cast("string"),
                F.lit("@example.com or 10.0.0."), (did % 256).cast("string"),
            ),
        )
        .when(
            did % 5 == 0,
            F.concat(
                F.col("text"), F.lit(" see https://data.example.org/doc/"),
                did.cast("string"), F.lit(" next"),
            ),
        )
        .otherwise(F.col("text"))
    )
    base = d.select("doc_id", injected.alias("__t"))
    counts = pii_counts(F.col("__t"))
    return base.select(
        "doc_id",
        counts["n_emails"].cast("int").alias("n_emails"),
        counts["n_urls"].cast("int").alias("n_urls"),
        counts["n_ips"].cast("int").alias("n_ips"),
        F.length(scrub_pii(F.col("__t"))).cast("int").alias("clean_len"),
    ).where(F.col("n_emails") + F.col("n_urls") + F.col("n_ips") > 0)

@register_query(
    "text_token_stats",
    r"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
       CAST(SUM(len(text)) AS BIGINT) AS total_chars
FROM documents GROUP BY source
""",
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).alias("total_tokens"),
        F.sum(F.length("text")).alias("total_chars"),
    )


@register_query(
    "text_quality",
    r"""
SELECT doc_id,
       len(text) AS n_chars,
       len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
       ROUND(CAST(len(regexp_replace(text, '[a-zA-Z0-9_\s]', '', 'g')) AS DOUBLE) / len(text), 6) AS punct_ratio,
       ROUND(CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / len(text), 6) AS digit_ratio
FROM documents WHERE len(text) > 0
""",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    c = F.col("text")
    n_chars = F.length(c)
    return d.where(F.length(c) > 0).select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        F.size(F.split(F.trim(c), r"\s+")).cast("long").alias("n_tokens"),
        F.round(
            F.length(F.regexp_replace(c, r"[a-zA-Z0-9_\s]", "")).cast("double") / n_chars, 6
        ).alias("punct_ratio"),
        F.round(
            F.length(F.regexp_replace(c, r"[^0-9]", "")).cast("double") / n_chars, 6
        ).alias("digit_ratio"),
    )


@register_query(
    "doc_fingerprints",
    r"""
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
FROM documents
""",
)
def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_profiler_spark.operators.text import normalized_fingerprint

    d = _docs(spark, sf_dir)
    return d.select("doc_id", normalized_fingerprint(F.col("text")).alias("fp"))


_LANGID_ORACLE = r"""
WITH toks AS (
  SELECT lang, text,
         list_distinct(list_filter(
           regexp_split_to_array(lower(text), '\s+'), t -> t <> '')) AS ts
  FROM documents
), scored AS (
  SELECT lang, text,
    len(list_intersect(ts, ['the','and','of','to','in','is','that','for','with','on'])) AS s_en,
    len(list_intersect(ts, ['der','die','das','und','ist','von','mit','auf','ein','zu'])) AS s_de,
    len(list_intersect(ts, ['el','la','de','que','y','en','un','por','con','para'])) AS s_es,
    len(list_intersect(ts, ['le','la','de','et','les','des','un','une','du','pour'])) AS s_fr
  FROM toks
), pred AS (
  SELECT lang AS label,
    CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
         WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
         WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
         WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
         WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
         ELSE 'fr' END AS pred
  FROM scored
)
SELECT label, pred, COUNT(*) AS n FROM pred GROUP BY label, pred
"""


@register_query("langid_confusion", _LANGID_ORACLE)
def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_profiler_spark.operators.text import with_language_id

    d = _docs(spark, sf_dir)
    return (
        with_language_id(d, "text")
        .groupBy(F.col("lang").alias("label"), F.col("lang_pred").alias("pred"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ===========================================================================
# 3. Deduplication (documents)
# ===========================================================================

@register_query(
    "dedup_exact_groups",
    """
SELECT md5(text) AS content_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
FROM documents GROUP BY md5(text)
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_profiler_spark.operators.dedup import exact_dup_groups

    d = _docs(spark, sf_dir)
    return exact_dup_groups(d, "doc_id", "text")


_MINHASH_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
  FROM documents
), sh AS (
  SELECT doc_id, ts, len(ts) AS n FROM toks
), sig AS (
  SELECT doc_id,
    CASE WHEN n >= 3 THEN
      list_distinct([array_to_string(ts[i+1:i+3], ' ') for i in range(0, n - 2)])
      ELSE [array_to_string(ts, ' ')] END AS shingles
  FROM sh
)
SELECT doc_id, band,
  md5(array_to_string([
     list_aggregate([md5('mh' || CAST(band*2 AS VARCHAR) || ':' || s) for s in shingles], 'min'),
     list_aggregate([md5('mh' || CAST(band*2+1 AS VARCHAR) || ':' || s) for s in shingles], 'min')
  ], '|')) AS bucket
FROM sig, (SELECT unnest(range(4)) AS band)
"""


@register_query("minhash_band_buckets", _MINHASH_ORACLE)
def q_minhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_profiler_spark.operators.dedup import minhash_band_buckets

    d = _docs(spark, sf_dir)
    return minhash_band_buckets(
        d, "doc_id", "text", n_hashes=8, band_size=2, shingle_n=3
    ).select("doc_id", F.col("band").cast("long").alias("band"), "bucket")


@register_query(
    "jaccard_near_dups",
    r"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))) AS s
  FROM documents
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM toks a JOIN toks b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.6
""",
)
def q_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_profiler_spark.operators.dedup import jaccard_pairs

    d = _docs(spark, sf_dir)
    return jaccard_pairs(d, "doc_id", "text", shingle_n=1, threshold=0.6)


_SIMHASH_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
  FROM documents
), h AS (
  SELECT doc_id, [('0x' || substr(md5(t), 1, 8))::BIGINT for t in ts] AS hs FROM toks
)
SELECT doc_id,
  CAST(COALESCE(list_sum([
    CASE WHEN COALESCE(list_sum(
           [CASE WHEN (hh >> i) & 1 = 1 THEN 1 ELSE -1 END for hh in hs]), 0) > 0
         THEN 1 << i ELSE 0 END
    for i in range(0, 32)]), 0) AS BIGINT) AS simhash32
FROM h
"""


@register_query("simhash_docs", _SIMHASH_ORACLE)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_profiler_spark.operators.dedup import simhash

    d = _docs(spark, sf_dir)
    return d.select("doc_id", simhash(F.col("text"), 32).alias("simhash32"))


# ===========================================================================
# 4. Embedding similarity (embeddings)
# ===========================================================================

_TOPK_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings
  WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec), 6) AS sim
  FROM embeddings e, q
), ranked AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, sim, rank FROM ranked WHERE rank <= 5
"""


@register_query("embedding_topk", _TOPK_ORACLE)
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_profiler_spark.operators.similarity import ann_topk_bruteforce

    e = _embs(spark, sf_dir)
    q = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_topk_bruteforce(
        e, q, "vec_id", "embedding", "query_id", k=5,
        query_rows=_emb_query_rows(sf_dir),
    )


_NEAR_DUP_ORACLE = """
WITH nc AS (
  SELECT GREATEST(8, CAST(CEIL(COUNT(*) / 500.0) AS BIGINT)) AS c FROM embeddings
), ranked_vecs AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id,
         CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings
), cents AS (
  SELECT centroid_id, cvec FROM ranked_vecs, nc WHERE centroid_id < nc.c
), scored AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.centroid_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) AS csim
  FROM embeddings e, cents c
), assigned AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT vec_id, v, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, centroid_id) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim
FROM assigned a JOIN assigned b
  ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.3
"""


@register_query("embedding_near_dups", _NEAR_DUP_ORACLE)
def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed near-dup pairs (no crossJoin in the plan — asserted in
    tests); deterministic bucketing makes the approximate semantics exactly
    reproducible in the SQL oracle. C is sized adaptively (bucket ~ 500
    vectors: C = max(8, ceil(N/500)), mirrored in the oracle's `nc` CTE) and
    pair scoring is one numpy GEMM per bucket (VERDICT r2 #2).

    N comes from the parquet footers (no count() job) and the lowest-id
    centroids are TakeOrdered off the RAW scan (no repartition exchange
    of the full vector table just to collect C rows)."""
    from data_profiler_spark.operators.similarity import (
        adaptive_n_centroids,
        embedding_near_dup_pairs,
        kmeans_like_centroids,
    )

    e = _embs(spark, sf_dir)
    meta = _input_meta(sf_dir, "embeddings")
    cents = None
    if meta:
        cents = kmeans_like_centroids(
            _t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
            adaptive_n_centroids(meta["rows"], 500),
        )
    return embedding_near_dup_pairs(
        e, "vec_id", "embedding", threshold=0.3, target_bucket=500,
        centroids=cents,
    )


_TOPK_IVF_ORACLE = """
WITH cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id,
         CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 8
), assigned AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) DESC,
             c.centroid_id) AS rn
    FROM embeddings e, cents c
  ) WHERE rn = 1
), probes AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT q.vec_id AS query_id, CAST(q.embedding AS DOUBLE[]) AS qv, c.centroid_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), c.cvec) DESC,
             c.centroid_id) AS rn
    FROM embeddings q, cents c WHERE q.vec_id < 5
  ) WHERE rn <= 3
), ranked AS (
  SELECT p.query_id, a.vec_id,
         ROUND(list_cosine_similarity(a.v, p.qv), 6) AS sim,
         row_number() OVER (PARTITION BY p.query_id ORDER BY
           ROUND(list_cosine_similarity(a.v, p.qv), 6) DESC, a.vec_id) AS rank
  FROM assigned a JOIN probes p ON a.centroid_id = p.centroid_id
)
SELECT query_id, vec_id, sim, rank FROM ranked WHERE rank <= 5
"""


@register_query("embedding_topk_ivf", _TOPK_IVF_ORACLE)
def q_embedding_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_profiler_spark.operators.similarity import (
        ann_topk_ivf,
        kmeans_like_centroids,
    )

    e = _embs(spark, sf_dir)
    raw = _t(spark, sf_dir, "embeddings")
    q = raw.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # centroids off the RAW scan: same 8 lowest-id rows, but the
    # TakeOrdered collect does not re-execute _embs's repartition exchange
    cents = kmeans_like_centroids(raw, "vec_id", "embedding", 8)
    return ann_topk_ivf(e, q, "vec_id", "embedding", "query_id", k=5,
                        n_centroids=8, nprobe=3, centroids=cents,
                        query_rows=_emb_query_rows(sf_dir))


# Refined-IVF (VERDICT r4 #10): the Lloyd-refined centroids are iterative —
# not portable-SQL-expressible — so the query uses the north fixture-oracle
# pattern: Spark WRITES the refined centroid table it actually used to a
# fixture path, and the oracle replays the (deterministic) downstream IVF
# assignment + probe + top-k from those exact doubles. The centroid
# ITERATION itself is covered by the recall assertion in
# tests/test_similarity_multimodal.py.
#
# The fixture path is PER-SF (ADVICE r5): the centroids depend on the
# input tables, so a shared path would let a bench run at sf0.1 clobber
# the gate's sf0.01 fixture (or vice versa) between the engine run and
# the oracle read. The oracle string is static and the driver's gate runs
# at sf0.01, so the sf0.01 path is baked into the SQL; running the oracle
# against any other sf fails loudly on the missing/mismatched fixture
# rather than silently replaying stale centroids.


def _fixture_path(sf_dir: str, name: str) -> str:
    """Per-sf fixture path shared by every fixture-replay oracle (IVF
    centroids, URN results store, profile store). ONE normalization so
    tools/oracle_check.py's non-gate-scale retarget — a literal rewrite
    of the '/tmp/dps_fixture/sf0.01/' prefix — stays in sync with all of
    them (ADVICE r5 / review r6)."""
    import os.path

    sf_name = os.path.basename(sf_dir.rstrip("/")) or "default"
    return f"/tmp/dps_fixture/{sf_name}/{name}"


def _ivf_fixture_path(sf_dir: str) -> str:
    return _fixture_path(sf_dir, "ivf_refined_centroids.parquet")


_IVF_CENT_FIXTURE_GATE = _ivf_fixture_path("sf0.01")

_TOPK_IVF_REFINED_ORACLE = f"""
WITH cents AS (
  SELECT centroid_id, centroid_vec AS cvec
  FROM read_parquet('{_IVF_CENT_FIXTURE_GATE}/*.parquet')
), assigned AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) DESC,
             c.centroid_id) AS rn
    FROM embeddings e, cents c
  ) WHERE rn = 1
), probes AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT q.vec_id AS query_id, CAST(q.embedding AS DOUBLE[]) AS qv, c.centroid_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), c.cvec) DESC,
             c.centroid_id) AS rn
    FROM embeddings q, cents c WHERE q.vec_id < 5
  ) WHERE rn <= 3
), ranked AS (
  SELECT p.query_id, a.vec_id,
         ROUND(list_cosine_similarity(a.v, p.qv), 6) AS sim,
         row_number() OVER (PARTITION BY p.query_id ORDER BY
           ROUND(list_cosine_similarity(a.v, p.qv), 6) DESC, a.vec_id) AS rank
  FROM assigned a JOIN probes p ON a.centroid_id = p.centroid_id
)
SELECT query_id, vec_id, sim, rank FROM ranked WHERE rank <= 5
"""


@register_query("embedding_topk_ivf_refined", _TOPK_IVF_REFINED_ORACLE)
def q_embedding_topk_ivf_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_profiler_spark.operators.similarity import (
        ann_topk_ivf,
        kmeans_refined_centroids,
    )

    e = _embs(spark, sf_dir)
    cents = kmeans_refined_centroids(
        e, "vec_id", "embedding", n_centroids=8, iters=2
    )
    local_frame(
        spark,
        [(int(i), v.tolist()) for i, v in zip(cents.ids, cents.vecs)],
        "centroid_id int, centroid_vec array<double>",
    ).write.mode("overwrite").parquet(_ivf_fixture_path(sf_dir))
    q = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_topk_ivf(e, q, "vec_id", "embedding", "query_id", k=5,
                        nprobe=3, centroids=cents)


# ===========================================================================
# 5. Multimodal plumbing (synthetic binary media; fake decode -> rows-only)
# ===========================================================================

@register_query("multimodal_image_features", None)
def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_profiler_spark.operators.multimodal import (
        extract_image_features,
        synthetic_media,
    )

    media = synthetic_media(spark, n=99, seed=42)
    return extract_image_features(media)


# ===========================================================================
# 6. North-rule engine surface (xxhash-generated table; rows-only checks)
# ===========================================================================

# The north-rule table is generated with Spark-native xxhash64 and can't be
# rebuilt inside DuckDB — but the VERDICT rows CAN be derived from the
# generated data itself (VERDICT r2 #8): the query WRITES its deterministic
# input (seed 42, pure function of (rows, seed) — identical bytes every run)
# to a fixture path, and the oracle recomputes each constraint's
# element/unexpected/success arithmetic (compile_map_constraint's verdict
# math) from that parquet.
_NORTH_FIXTURE = "/tmp/dps_fixture/north_code_files.parquet"
_NORTH_COMMITS_FIXTURE = "/tmp/dps_fixture/north_commits.parquet"

_north_cache: dict = {}


def _north_files(spark: SparkSession) -> DataFrame:
    """Generate + persist the 20k-row north-rule table ONCE per session and
    write it (plus commits) to the fixture path the oracles read. Pure
    function of (rows=20000, seed=42): identical bytes every run."""
    from data_profiler_spark.sources.code_table import (
        generate_code_files,
        generate_commits,
    )
    from data_profiler_spark.validator import add_partition_column

    key = id(spark)
    if _north_cache.get("key") != key:
        from concurrent.futures import ThreadPoolExecutor

        files = add_partition_column(
            generate_code_files(spark, 20000, seed=42),
            n_buckets=8, cols=["repo", "path"],
        ).persist()
        commits = generate_commits(spark)
        # the two fixture writes are independent jobs — overlap them
        # (guide §2.6) so the second write's tasks back-fill the first's
        # tail instead of serializing two small-file commit rounds
        with ThreadPoolExecutor(max_workers=2) as pool:
            fa = pool.submit(
                lambda: files.write.mode("overwrite").parquet(_NORTH_FIXTURE)
            )
            fb = pool.submit(
                lambda: commits.write.mode("overwrite").parquet(
                    _NORTH_COMMITS_FIXTURE
                )
            )
            fa.result(), fb.result()
        _north_cache.update(key=key, files=files, commits=commits)
    return _north_cache["files"]

_NORTH_PROFILE_ORACLE = f"""
SELECT lang,
       COUNT(*) AS row_count,
       CAST(SUM(CASE WHEN content IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_content,
       COUNT(DISTINCT repo) AS n_repos,
       MIN(LEN(content)) AS min_len,
       MAX(LEN(content)) AS max_len,
       ROUND(AVG(CAST(LEN(content) AS DOUBLE)), 4) AS avg_len,
       ROUND(quantile_cont(CAST(LEN(content) AS DOUBLE), 0.5), 4) AS len_p50,
       ROUND(quantile_cont(CAST(LEN(content) AS DOUBLE), 0.95), 4) AS len_p95
FROM read_parquet('{_NORTH_FIXTURE}/*.parquet')
GROUP BY lang
"""


@register_query("north_profile_by_lang", _NORTH_PROFILE_ORACLE)
def q_north_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused single-pass profile of the synthetic code table by lang.

    Exact aggregates here (count_distinct / F.percentile) so the DuckDB
    oracle over the written fixture verifies values bit-for-bit; the
    HLL / percentile_approx sketch path — the 100-TB default — is the same
    fused-pass machinery, exercised by profile() and its pytest oracles."""
    df = _north_files(spark)
    ln = F.length("content").cast("double")
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("row_count"),
        F.sum(F.when(F.col("content").isNull(), 1).otherwise(0)).alias("null_content"),
        F.count_distinct("repo").alias("n_repos"),
        F.min(ln).cast("long").alias("min_len"),
        F.max(ln).cast("long").alias("max_len"),
        F.round(F.avg(ln), 4).alias("avg_len"),
        F.round(F.percentile(ln, F.lit(0.5)), 4).alias("len_p50"),
        F.round(F.percentile(ln, F.lit(0.95)), 4).alias("len_p95"),
    )


_NORTH_VERDICTS_ORACLE = f"""
WITH f AS (
  SELECT * FROM read_parquet('{_NORTH_FIXTURE}/*.parquet')
), cm AS (
  SELECT DISTINCT repo, commit FROM read_parquet('{_NORTH_COMMITS_FIXTURE}/*.parquet')
), base AS (
  SELECT partition_id,
         COUNT(*) AS element_count,
         SUM(CASE WHEN content IS NULL THEN 1 ELSE 0 END) AS n_null_content,
         SUM(CASE WHEN repo IS NULL OR path IS NULL OR commit IS NULL
                  THEN 1 ELSE 0 END) AS miss_upc,
         SUM(CASE WHEN repo IS NULL OR commit IS NULL THEN 1 ELSE 0 END) AS miss_rc
  FROM f GROUP BY 1
), dup AS (
  SELECT partition_id, COALESCE(SUM(kc), 0) AS dup_rows FROM (
    SELECT partition_id, COUNT(*) AS kc
    FROM f WHERE repo IS NOT NULL AND path IS NOT NULL AND commit IS NOT NULL
    GROUP BY partition_id, repo, path, commit HAVING COUNT(*) > 1
  ) g GROUP BY 1
), orph AS (
  SELECT partition_id, COUNT(*) AS orphans
  FROM (SELECT * FROM f WHERE repo IS NOT NULL AND commit IS NOT NULL) fx
  ANTI JOIN cm ON fx.repo = cm.repo AND fx.commit = cm.commit
  GROUP BY 1
)
SELECT CAST(b.partition_id AS INTEGER) AS partition_id,
       'expect_column_values_to_not_be_null' AS constraint_type,
       CASE WHEN b.element_count = 0 THEN TRUE
            ELSE CAST(b.element_count - b.n_null_content AS DOUBLE)
                 / b.element_count >= 0.98 END AS success,
       CAST(b.element_count AS BIGINT) AS element_count,
       CAST(b.n_null_content AS BIGINT) AS unexpected_count
FROM base b
UNION ALL
SELECT CAST(b.partition_id AS INTEGER),
       'expect_compound_columns_to_be_unique',
       CASE WHEN (b.element_count - b.miss_upc) <= 0 THEN TRUE
            ELSE CAST((b.element_count - b.miss_upc) - COALESCE(d.dup_rows, 0)
                      AS DOUBLE) / (b.element_count - b.miss_upc) >= 1.0 END,
       CAST(b.element_count AS BIGINT),
       CAST(COALESCE(d.dup_rows, 0) AS BIGINT)
FROM base b LEFT JOIN dup d USING (partition_id)
UNION ALL
SELECT CAST(b.partition_id AS INTEGER),
       'expect_compound_columns_to_exist_in_table',
       CASE WHEN (b.element_count - b.miss_rc) <= 0 THEN TRUE
            ELSE CAST((b.element_count - b.miss_rc) - COALESCE(o.orphans, 0)
                      AS DOUBLE) / (b.element_count - b.miss_rc) >= 0.99 END,
       CAST(b.element_count AS BIGINT),
       CAST(COALESCE(o.orphans, 0) AS BIGINT)
FROM base b LEFT JOIN orph o USING (partition_id)
"""


@register_query("north_verdicts", _NORTH_VERDICTS_ORACLE)
def q_north_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full constraint pass (uniqueness + referential + nulls) with
    per-partition verdicts, as a DataFrame. Writes its deterministic input
    to the fixture path FIRST (eager) so the DuckDB oracle recomputes the
    same verdicts from the same bytes."""
    from data_profiler_spark.core.suite import ConstraintSuite
    from data_profiler_spark.validator import Validator

    files = _north_files(spark)
    commits = _north_cache["commits"]
    suite = (
        ConstraintSuite("north")
        .add("expect_column_values_to_not_be_null", column="content", mostly=0.98)
        .add("expect_compound_columns_to_be_unique",
             column_list=["repo", "path", "commit"])
        .add("expect_compound_columns_to_exist_in_table",
             column_list=["repo", "commit"], other_table_name="commits", mostly=0.99)
    )
    res = Validator(files, tables={"commits": commits}).validate(
        suite, group_by=["partition_id"]
    )
    rows = [
        (
            r.group.get("partition_id"),
            r.constraint_type,
            bool(r.success),
            int(r.element_count or 0),
            int(r.unexpected_count or 0),
        )
        for r in res.results
    ]
    return local_frame(
        spark, rows,
        "partition_id int, constraint_type string, success boolean, "
        "element_count long, unexpected_count long",
    )


# ===========================================================================
# 12. Sparse distributed Cramer's V (NEW r4): chi-square over a contingency
#     table that is never materialized — marginal joins + one reduction
# ===========================================================================

@register_query(
    "cramers_v_partkey_returnflag",
    """
WITH cells AS (
  SELECT l_partkey AS a, l_returnflag AS b, CAST(COUNT(*) AS DOUBLE) AS o
  FROM lineitem
  WHERE l_partkey IS NOT NULL AND l_returnflag IS NOT NULL
  GROUP BY 1, 2
),
ra AS (SELECT a, SUM(o) AS ra FROM cells GROUP BY a),
cb AS (SELECT b, SUM(o) AS cb FROM cells GROUP BY b),
tot AS (SELECT SUM(o) AS n FROM cells),
stat AS (
  SELECT MAX(t.n) AS n,
         MAX(t.n) + SUM(
           (c.o - r.ra * m.cb / t.n) * (c.o - r.ra * m.cb / t.n)
             / (r.ra * m.cb / t.n)
           - r.ra * m.cb / t.n
         ) AS chi2,
         (SELECT COUNT(*) FROM ra) AS ka,
         (SELECT COUNT(*) FROM cb) AS kb
  FROM cells c
  JOIN ra r ON r.a = c.a
  JOIN cb m ON m.b = c.b
  CROSS JOIN tot t
)
SELECT ROUND(SQRT(GREATEST(chi2, 0) / n / (LEAST(ka, kb) - 1)), 6) AS cramers_v,
       ROUND(chi2, 2) AS chi2_stat,
       CAST(n AS BIGINT) AS n_rows,
       CAST(ka AS BIGINT) AS ka,
       CAST(kb AS BIGINT) AS kb
FROM stat
""",
)
def q_cramers_v_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed sparse chi-square / Cramer's V (operators/distribution.py
    sparse_chi2_cramers; ref dataset/dataset.py:4369-4440 is a pandas-only
    crosstab): chi2 = n + sum over NONZERO cells of ((o-e)^2/e - e), so the
    |A| x |B| table never exists anywhere — shuffle is bounded by the
    nonzero-cell count. Oracle recomputes the identical algebra in SQL."""
    from data_profiler_spark.operators.distribution import sparse_chi2_cramers

    li = _t(spark, sf_dir, "lineitem")
    res = sparse_chi2_cramers(li, "l_partkey", "l_returnflag")[()]
    return local_frame(
        spark,
        [(
            round(res["v"], 6),
            round(res["chi2"], 2),
            int(res["n"]),
            int(res["ka"]),
            int(res["kb"]),
        )],
        "cramers_v double, chi2_stat double, n_rows bigint, ka bigint, kb bigint",
    )


# ===========================================================================
# 13. Benchmark decontamination (NEW r4): cross-table n-gram containment
# ===========================================================================

@register_query(
    "decontamination_hits",
    r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
  FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(ts) >= 3
         THEN [array_to_string(ts[i:i+2], ' ') for i in range(1, len(ts) - 1)]
         ELSE [array_to_string(ts, ' ')] END)) AS s
  FROM toks
), probe AS (
  SELECT doc_id AS probe_id, s FROM sh WHERE doc_id % 50 = 0
), p_sz AS (
  SELECT probe_id, COUNT(*) AS psz FROM probe GROUP BY probe_id
), hits AS (
  SELECT c.doc_id, p.probe_id, COUNT(*) AS inter
  FROM sh c JOIN probe p ON c.s = p.s AND c.doc_id <> p.probe_id
  GROUP BY 1, 2
)
SELECT h.doc_id, h.probe_id, CAST(h.inter AS BIGINT) AS inter,
       ROUND(CAST(h.inter AS DOUBLE) / z.psz, 6) AS containment
FROM hits h JOIN p_sz z USING (probe_id)
WHERE CAST(h.inter AS DOUBLE) / z.psz >= 0.2
""",
)
def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval overlap check (operators/dedup.py containment_pairs):
    probes = every 50th document standing in for an eval benchmark; a hit
    is a corpus doc containing >= 20% of a probe's trigram shingles. The
    probe shingle index is broadcast; the corpus explodes once — no
    all-pairs anywhere. (Beyond the reference: it has no cross-table text
    operators.)"""
    from data_profiler_spark.operators.dedup import containment_pairs

    d = _docs(spark, sf_dir)
    # probes from the RAW table: 100 rows need no parallelism, and building
    # them under _docs's repartition would shuffle every corpus text byte
    # just to size/shingle the probe side
    probes = _t(spark, sf_dir, "documents").where(
        F.col("doc_id") % 50 == 0
    ).select(F.col("doc_id").alias("probe_id"), F.col("text"))
    return containment_pairs(
        d, probes, corpus_id="doc_id", probe_id="probe_id",
        corpus_text="text", probe_text="text",
        shingle_n=3, threshold=0.2, exclude_self=True,
        # probes are a bounded eval set (every 50th doc) — force the
        # broadcast instead of paying the auto-estimator's agg job, whose
        # deliberately conservative bound flips to a shuffle join right
        # where the fixture grows past ~15 MB of estimated index (r7)
        broadcast_probes=True,
    ).select(
        "doc_id", "probe_id", F.col("inter").cast("long").alias("inter"),
        "containment",
    )


@register_query(
    "doc_repetition_stats",
    r"""
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(text)), '\s+') AS ts,
         list_filter(string_split(text, chr(10)), x -> x <> '') AS ls
  FROM documents
), g AS (
  SELECT doc_id, ls,
         CASE WHEN len(ts) >= 3
              THEN [array_to_string(ts[i:i+2], ' ') for i in range(1, len(ts) - 1)]
              ELSE [array_to_string(ts, ' ')] END AS tri
  FROM t
)
SELECT doc_id,
       CAST(len(tri) AS BIGINT) AS n_trigrams,
       ROUND(1.0 - CAST(len(list_distinct(tri)) AS DOUBLE) / len(tri), 6)
         AS dup_trigram_frac,
       CAST(len(ls) AS BIGINT) AS n_lines,
       ROUND(CASE WHEN len(ls) > 0
                  THEN 1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls)
                  ELSE 0 END, 6) AS dup_line_frac
FROM g
""",
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition quality signals (operators/text.py
    repetition_features): duplicate-trigram and duplicate-line fractions,
    pure native expressions in one projection."""
    from data_profiler_spark.operators.text import repetition_features

    d = _docs(spark, sf_dir)
    return repetition_features(d, "text", id_cols=["doc_id"])


# ---------------------------------------------------------------------------
# 15. Rule-based profiler (config-driven suite generation, NEW r5)
# ---------------------------------------------------------------------------

_RBP_NUMERIC_COLS = [
    "l_discount", "l_extendedprice", "l_linenumber", "l_orderkey",
    "l_partkey", "l_quantity", "l_suppkey", "l_tax",
]

_RBP_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS column_name, CAST(MIN({c}) AS DOUBLE) AS min_value, "
    f"CAST(MAX({c}) AS DOUBLE) AS max_value FROM lineitem"
    for c in _RBP_NUMERIC_COLS
)


@register_query("rule_profile_ranges", _RBP_ORACLE)
def q_rule_profile_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/rule_profiler.py (ref rule_based_profiler/profiler.py):
    a semantic-numeric rule generating min/max between-expectations for
    every numeric lineitem column — all 16 metric parameters resolve in
    ONE fused aggregation job; the oracle checks the generated constraint
    kwargs value-for-value against per-column MIN/MAX."""
    from data_profiler_spark.operators.rule_profiler import RuleBasedProfiler

    config = {
        "rules": {
            "numeric_range_rule": {
                "domain_builder": {
                    "class_name": "SemanticTypeColumnDomainBuilder",
                    "semantic_types": ["numeric"],
                },
                "parameter_builders": [
                    {"parameter_name": "col_min", "metric_name": "column.min"},
                    {"parameter_name": "col_max", "metric_name": "column.max"},
                ],
                "expectation_configuration_builders": [
                    {
                        "expectation_type": "expect_column_values_to_be_between",
                        "column": "$domain.domain_kwargs.column",
                        "min_value": "$parameter.col_min.value",
                        "max_value": "$parameter.col_max.value",
                    }
                ],
            }
        }
    }
    suite = RuleBasedProfiler(config).profile(_t(spark, sf_dir, "lineitem"))
    rows = [
        (
            c.kwargs["column"],
            float(c.kwargs["min_value"]),
            float(c.kwargs["max_value"]),
        )
        for c in suite.constraints
        if c.type == "expect_column_values_to_be_between"
    ]
    return local_frame(
        spark, rows, "column_name string, min_value double, max_value double"
    )


_RBP_MB_COLS = ["l_discount", "l_extendedprice", "l_quantity"]

# per-batch (month) means -> empirical [2.5%, 97.5%] linear quantiles:
# DuckDB's quantile_cont interpolates exactly like np.quantile(linear),
# which is what makes the oneshot estimator oracle-exact; ROUND 6 matches
# the rule's explicit round_decimals; GREATEST(.., 0.0) mirrors the ref's
# truncate heuristic (all-positive metric values -> lower bound 0.0).
_RBP_MB_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
  GREATEST(ROUND(quantile_cont(v, 0.025), 6), 0.0) AS min_value,
  ROUND(quantile_cont(v, 0.975), 6) AS max_value,
  TRUE AS boot_contained
FROM (SELECT AVG({c}) AS v FROM lineitem
      GROUP BY date_trunc('month', l_shipdate))"""
    for c in _RBP_MB_COLS
)


@register_query("rule_profile_bootstrap_ranges", _RBP_MB_ORACLE)
def q_rule_profile_bootstrap_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/rule_profiler.py NumericMetricRangeMultiBatchParameterBuilder
    (ref numeric_metric_range_multi_batch_parameter_builder.py:28-419): a
    "batch" is a month of l_shipdate, so the ~83 per-batch means of each
    numeric column come from ONE grouped fused pass, then the range
    estimators run driver-side over those 83 values. The ORACLE-EXACT part
    is the oneshot path (linear quantiles + round + truncate heuristics —
    everything but the resampling loop); the seeded bootstrap estimator is
    not SQL-expressible, so the query additionally asserts engine-side that
    the bootstrap interval lies within the observed per-batch value range
    (boot_contained — flips the row FALSE on any bootstrap regression;
    exact seeded values are pinned in tests/test_rule_profiler.py)."""
    from data_profiler_spark.operators.rule_profiler import RuleBasedProfiler

    config = {
        "variables": {"false_positive_rate": 0.05},
        "rules": {
            "monthly_mean_range_rule": {
                "domain_builder": {
                    "class_name": "ColumnDomainBuilder",
                    "include_columns": _RBP_MB_COLS,
                },
                "parameter_builders": [
                    {
                        "class_name": "NumericMetricRangeMultiBatchParameterBuilder",
                        "parameter_name": "mean_range",
                        "metric_name": "column.mean",
                        "sampling_method": "oneshot",
                        "false_positive_rate": "$variables.false_positive_rate",
                        "round_decimals": 6,
                        "batch_identifier_columns": ["batch_month"],
                    },
                    {
                        "class_name": "NumericMetricRangeMultiBatchParameterBuilder",
                        "parameter_name": "mean_range_boot",
                        "metric_name": "column.mean",
                        "sampling_method": "bootstrap",
                        "num_bootstrap_samples": 999,
                        "seed": 7,
                        "batch_identifier_columns": ["batch_month"],
                    },
                ],
                "expectation_configuration_builders": [
                    {
                        "expectation_type": "expect_column_mean_to_be_between",
                        "column": "$domain.domain_kwargs.column",
                        "min_value": "$parameter.mean_range.value.min_value",
                        "max_value": "$parameter.mean_range.value.max_value",
                        "meta": {
                            "boot_min": "$parameter.mean_range_boot.value.min_value",
                            "boot_max": "$parameter.mean_range_boot.value.max_value",
                        },
                    }
                ],
            }
        },
    }
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "batch_month", F.date_trunc("month", F.col("l_shipdate"))
    )
    suite = RuleBasedProfiler(config).profile(li)
    # observed per-batch mean range, for the bootstrap containment check —
    # ONE grouped pass for all three columns, then one tiny agg over the
    # ~83 batch rows (a per-column loop would re-scan lineitem per column;
    # 1e-6 tolerance absorbs the 9-decimal rounding)
    means = li.groupBy("batch_month").agg(
        *[F.mean(c).alias(c) for c in _RBP_MB_COLS]
    )
    b_row = means.agg(
        *[F.min(c).alias(f"lo_{c}") for c in _RBP_MB_COLS],
        *[F.max(c).alias(f"hi_{c}") for c in _RBP_MB_COLS],
    ).first()
    bounds = {
        c: {"lo": b_row[f"lo_{c}"], "hi": b_row[f"hi_{c}"]}
        for c in _RBP_MB_COLS
    }
    meta = suite.meta.get("expectation_meta", {})
    rows = []
    for c in suite.constraints:
        if c.type != "expect_column_mean_to_be_between":
            continue
        m = meta.get(c.id, {})
        col = c.kwargs["column"]
        lo, hi = bounds[col]["lo"], bounds[col]["hi"]
        contained = bool(
            lo - 1e-6 <= m["boot_min"] <= m["boot_max"] <= hi + 1e-6
        )
        rows.append(
            (
                col,
                float(c.kwargs["min_value"]),
                float(c.kwargs["max_value"]),
                contained,
            )
        )
    return local_frame(
        spark, rows,
        "column_name string, min_value double, max_value double, "
        "boot_contained boolean",
    )


# ===========================================================================
# 15. Dedup clustering (NEW r5): connected components over near-dup pairs —
#     alternating large-star/small-star, the missing tail of the dedup
#     pipeline (pairs -> clusters -> canonical survivor)
# ===========================================================================

_CLUSTERS_ORACLE = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))) AS s
  FROM documents
), sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM toks a JOIN toks b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.9
),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b WHERE e.b <> r.a
)
SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
"""


@register_query("dedup_clusters", _CLUSTERS_ORACLE)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: word-shingle Jaccard pairs (>= 0.9) -> connected
    components (operators/dedup.py connected_components, alternating
    large-star/small-star) -> (doc_id, cluster_id = component min). The
    DuckDB oracle recomputes the same pairs and closes them with a
    recursive transitive-closure CTE — exponential in SQL, O(log n)
    distributed rounds in the engine."""
    from data_profiler_spark.operators.dedup import (
        connected_components,
        jaccard_pairs,
    )

    d = _docs(spark, sf_dir)
    pairs = jaccard_pairs(d, "doc_id", "text", shingle_n=1, threshold=0.9)
    cc = connected_components(pairs, "id_a", "id_b")
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


# ===========================================================================
# 16. Validator-routed oracle coverage (NEW r5): scalar aggregates, set
#     verdicts, LIKE/length families, multicolumn records, cross-table row
#     count, KL divergence, drift chi-square — each runs the REAL engine
#     (ConstraintSuite -> Validator -> fused pass) and emits observed
#     values/counts the DuckDB oracle recomputes independently.
# ===========================================================================


@register_query(
    "validator_scalar_metrics",
    """
SELECT 'median_quantity' AS metric, ROUND(MEDIAN(l_quantity), 6) AS value FROM lineitem
UNION ALL
SELECT 'stdev_extendedprice', ROUND(STDDEV_SAMP(l_extendedprice), 6) FROM lineitem
UNION ALL
SELECT 'sum_quantity', ROUND(SUM(l_quantity), 4) FROM lineitem
UNION ALL
SELECT 'unique_prop_orderkey',
       ROUND(CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) / COUNT(l_orderkey), 8)
FROM lineitem
""",
)
def q_validator_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """median / stdev / sum / unique-proportion through the REAL engine
    path (one fused aggregation job for the whole suite): ref
    column_median.py:91-120, column_standard_deviation.py:48,
    column_sum.py:28, column_proportion_of_unique_values.py:25-35."""
    from data_profiler_spark.core.suite import ConstraintSuite
    from data_profiler_spark.validator import Validator

    li = _t(spark, sf_dir, "lineitem")
    suite = (
        ConstraintSuite("scalars")
        .add("expect_column_median_to_be_between",
             column="l_quantity", min_value=0, max_value=1000)
        .add("expect_column_stdev_to_be_between",
             column="l_extendedprice", min_value=0)
        .add("expect_column_sum_to_be_between", column="l_quantity", min_value=0)
        .add("expect_column_proportion_of_unique_values_to_be_between",
             column="l_orderkey", min_value=0, max_value=1)
    )
    res = Validator(li).validate(suite).results
    rows = [
        ("median_quantity", round(float(res[0].observed_value), 6)),
        ("stdev_extendedprice", round(float(res[1].observed_value), 6)),
        ("sum_quantity", round(float(res[2].observed_value), 4)),
        ("unique_prop_orderkey", round(float(res[3].observed_value), 8)),
    ]
    return local_frame(spark, rows, "metric string, value double")


@register_query(
    "validator_set_verdicts",
    """
WITH counts AS (
  SELECT l_returnflag AS v, COUNT(*) AS c FROM lineitem
  WHERE l_returnflag IS NOT NULL GROUP BY 1
)
SELECT 'mode_returnflag' AS metric,
       (SELECT string_agg(v, ',' ORDER BY v) FROM counts
         WHERE c = (SELECT MAX(c) FROM counts)) AS observed
UNION ALL
SELECT 'distinct_linestatus',
       (SELECT string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus)
          FROM lineitem WHERE l_linestatus IS NOT NULL)
UNION ALL
SELECT 'distinct_returnflag',
       (SELECT string_agg(DISTINCT l_returnflag, ',' ORDER BY l_returnflag)
          FROM lineitem WHERE l_returnflag IS NOT NULL)
""",
)
def q_validator_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """most_common_value (full argmax set) + distinct-set constraints via
    the engine: ref column_most_common_value.py:33-45,
    dataset/dataset.py:2303-2508."""
    from data_profiler_spark.core.suite import ConstraintSuite
    from data_profiler_spark.validator import Validator

    li = _t(spark, sf_dir, "lineitem")
    suite = (
        ConstraintSuite("sets")
        .add("expect_column_most_common_value_to_be_in_set",
             column="l_returnflag", value_set=["A", "N", "R"], ties_okay=True)
        .add("expect_column_distinct_values_to_equal_set",
             column="l_linestatus", value_set=["F", "O"])
        .add("expect_column_distinct_values_to_be_in_set",
             column="l_returnflag", value_set=["A", "N", "R"])
    )
    res = Validator(li).validate(suite).results
    rows = [
        ("mode_returnflag", ",".join(res[0].observed_value)),
        ("distinct_linestatus", ",".join(res[1].observed_value)),
        ("distinct_returnflag", ",".join(res[2].observed_value)),
    ]
    return local_frame(spark, rows, "metric string, observed string")


@register_query(
    "validator_like_length_counts",
    """
SELECT 'expect_column_values_to_match_like_pattern' AS ctype,
       COUNT(*) AS element_count,
       CAST(SUM(CASE WHEN c_name IS NOT NULL AND c_name NOT LIKE 'Customer#%'
                THEN 1 ELSE 0 END) AS BIGINT) AS unexpected_count,
       SUM(CASE WHEN c_name IS NOT NULL AND c_name NOT LIKE 'Customer#%'
           THEN 1 ELSE 0 END) = 0 AS success
FROM customer
UNION ALL
SELECT 'expect_column_values_to_not_match_like_pattern', COUNT(*),
       CAST(SUM(CASE WHEN c_name IS NOT NULL AND c_name LIKE '%999'
                THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN c_name IS NOT NULL AND c_name LIKE '%999'
           THEN 1 ELSE 0 END) = 0
FROM customer
UNION ALL
SELECT 'expect_column_values_to_match_like_pattern_list', COUNT(*),
       CAST(SUM(CASE WHEN c_mktsegment IS NOT NULL
                AND NOT (c_mktsegment LIKE 'B%' OR c_mktsegment LIKE 'A%'
                         OR c_mktsegment LIKE 'F%')
                THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN c_mktsegment IS NOT NULL
           AND NOT (c_mktsegment LIKE 'B%' OR c_mktsegment LIKE 'A%'
                    OR c_mktsegment LIKE 'F%')
           THEN 1 ELSE 0 END) = 0
FROM customer
UNION ALL
SELECT 'expect_column_value_lengths_to_be_between', COUNT(*),
       CAST(SUM(CASE WHEN c_mktsegment IS NOT NULL
                AND NOT (LENGTH(c_mktsegment) BETWEEN 5 AND 10)
                THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN c_mktsegment IS NOT NULL
           AND NOT (LENGTH(c_mktsegment) BETWEEN 5 AND 10)
           THEN 1 ELSE 0 END) = 0
FROM customer
UNION ALL
SELECT 'expect_column_value_lengths_to_equal', COUNT(*),
       CAST(SUM(CASE WHEN c_mktsegment IS NOT NULL AND LENGTH(c_mktsegment) <> 8
                THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN c_mktsegment IS NOT NULL AND LENGTH(c_mktsegment) <> 8
           THEN 1 ELSE 0 END) = 0
FROM customer
""",
)
def q_validator_like_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE / NOT LIKE / LIKE-list / length-between / length-equal map
    constraints via the engine (ONE fused job for all five): ref
    expect_column_values_to_match_like_pattern*.py,
    column_value_lengths.py:174-207."""
    from data_profiler_spark.core.suite import ConstraintSuite
    from data_profiler_spark.validator import Validator

    cust = _t(spark, sf_dir, "customer")
    suite = (
        ConstraintSuite("likes")
        .add("expect_column_values_to_match_like_pattern",
             column="c_name", like_pattern="Customer#%")
        .add("expect_column_values_to_not_match_like_pattern",
             column="c_name", like_pattern="%999")
        .add("expect_column_values_to_match_like_pattern_list",
             column="c_mktsegment", like_pattern_list=["B%", "A%", "F%"],
             match_on="any")
        .add("expect_column_value_lengths_to_be_between",
             column="c_mktsegment", min_value=5, max_value=10)
        .add("expect_column_value_lengths_to_equal",
             column="c_mktsegment", value=8)
    )
    res = Validator(cust).validate(suite).results
    rows = [
        (r.constraint_type, r.element_count, r.unexpected_count, bool(r.success))
        for r in res
    ]
    return local_frame(
        spark, rows,
        "ctype string, element_count long, unexpected_count long, success boolean",
    )


@register_query(
    "validator_multicol_counts",
    """
SELECT 'expect_multicolumn_sum_to_equal' AS ctype,
       COUNT(*) AS element_count,
       CAST(SUM(CASE WHEN NOT (l_quantity + l_linenumber = 30) THEN 1 ELSE 0 END)
            AS BIGINT) AS unexpected_count
FROM lineitem
UNION ALL
SELECT 'expect_select_column_values_to_be_unique_within_record', COUNT(*),
       CAST(SUM(CASE WHEN l_orderkey = l_partkey OR l_orderkey = l_suppkey
                OR l_partkey = l_suppkey THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'expect_column_pair_values_to_be_in_set', COUNT(*),
       CAST(SUM(CASE WHEN NOT ((l_returnflag = 'A' AND l_linestatus = 'F')
                OR (l_returnflag = 'R' AND l_linestatus = 'F')
                OR (l_returnflag = 'N' AND l_linestatus = 'O'))
                THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'expect_column_pair_values_to_be_equal', COUNT(*),
       CAST(SUM(CASE WHEN l_returnflag <> l_linestatus THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
""",
)
def q_validator_multicol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multicolumn-sum / unique-within-record / pair-in-set / pair-equal
    map constraints via the engine (ONE fused job): ref
    multicolumn_sum_equal.py:39-45,
    select_column_values_unique_within_record.py:69-83,
    column_pair_values_in_set.py:78-96, column_pair_values_equal.py:41-43."""
    from data_profiler_spark.core.suite import ConstraintSuite
    from data_profiler_spark.validator import Validator

    li = _t(spark, sf_dir, "lineitem")
    suite = (
        ConstraintSuite("multicol")
        .add("expect_multicolumn_sum_to_equal",
             column_list=["l_quantity", "l_linenumber"], sum_total=30)
        .add("expect_select_column_values_to_be_unique_within_record",
             column_list=["l_orderkey", "l_partkey", "l_suppkey"])
        .add("expect_column_pair_values_to_be_in_set",
             column_A="l_returnflag", column_B="l_linestatus",
             value_pairs_set=[("A", "F"), ("R", "F"), ("N", "O")])
        .add("expect_column_pair_values_to_be_equal",
             column_A="l_returnflag", column_B="l_linestatus")
    )
    res = Validator(li).validate(suite).results
    rows = [(r.constraint_type, r.element_count, r.unexpected_count) for r in res]
    return local_frame(
        spark, rows, "ctype string, element_count long, unexpected_count long"
    )


@register_query(
    "row_count_vs_other_table",
    """
SELECT (SELECT COUNT(*) FROM orders) AS self_rows,
       (SELECT COUNT(*) FROM customer) AS other_rows,
       (SELECT COUNT(*) FROM orders) = (SELECT COUNT(*) FROM customer) AS success
""",
)
def q_row_count_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expect_table_row_count_to_equal_other_table via the engine's
    cross-table context (ref
    expect_table_row_count_to_equal_other_table.py:130-166)."""
    from data_profiler_spark.core.suite import ConstraintSuite
    from data_profiler_spark.validator import Validator

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    suite = ConstraintSuite("rc").add(
        "expect_table_row_count_to_equal_other_table", other_table_name="customer"
    )
    r = Validator(orders, tables={"customer": cust}).validate(suite).results[0]
    rows = [
        (int(r.observed_value["self"]), int(r.observed_value["other"]),
         bool(r.success))
    ]
    return local_frame(
        spark, rows, "self_rows long, other_rows long, success boolean"
    )


@register_query(
    "kl_divergence_lang",
    """
WITH c AS (
  SELECT lang, CAST(COUNT(*) AS DOUBLE) AS o FROM documents
  WHERE lang IN ('de','en','es','fr','zh') GROUP BY 1
), n AS (SELECT CAST(COUNT(lang) AS DOUBLE) AS nn FROM documents)
SELECT ROUND(SUM((o / nn) * LN((o / nn) / 0.19)), 6) AS kl_divergence,
       SUM((o / nn) * LN((o / nn) / 0.19)) < 1.0 AS success
FROM c, n
""",
)
def q_kl_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical KL divergence vs a uniform expected partition with 5%
    tail holdout, via the engine's fused value-count terms (ref V2
    dataset/dataset.py:3916-4366): qk = 0.2 * 0.95 per listed value +
    0.05 tail; the observed tail weight is 0, so its term vanishes and
    the oracle sums only the listed values."""
    from data_profiler_spark.core.suite import ConstraintSuite
    from data_profiler_spark.validator import Validator

    docs = _t(spark, sf_dir, "documents")
    po = {"values": ["de", "en", "es", "fr", "zh"], "weights": [0.2] * 5}
    suite = ConstraintSuite("kl").add(
        "expect_column_kl_divergence_to_be_less_than",
        column="lang", partition_object=po, threshold=1.0,
        tail_weight_holdout=0.05,
    )
    r = Validator(docs).validate(suite).results[0]
    rows = [(round(float(r.observed_value), 6), bool(r.success))]
    return local_frame(spark, rows, "kl_divergence double, success boolean")


@register_query(
    "drift_chi2_lang",
    """
WITH obs AS (
  SELECT lang, CAST(COUNT(*) AS DOUBLE) AS o FROM documents
  WHERE lang IS NOT NULL GROUP BY 1
),
base(lang, b) AS (
  VALUES ('de', 250.0), ('en', 250.0), ('es', 200.0), ('fr', 150.0), ('zh', 150.0)
),
j AS (
  SELECT COALESCE(obs.o, 0) AS o, COALESCE(base.b, 0) AS b
  FROM obs FULL OUTER JOIN base ON obs.lang = base.lang
),
t AS (SELECT SUM(o) AS r1, SUM(b) AS r2 FROM j)
SELECT ROUND(SUM(
         POW(o - r1 * (o + b) / (r1 + r2), 2) / (r1 * (o + b) / (r1 + r2))
       + POW(b - r2 * (o + b) / (r1 + r2), 2) / (r2 * (o + b) / (r1 + r2))
       ), 6) AS chi2_stat,
       CAST(5 AS BIGINT) AS dof
FROM j, t
""",
)
def q_drift_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift vs a stored categorical baseline — the engine's
    two-sample chi-square over fused value counts (the north-rule drift
    check; functions/stats.py chi2_contingency). The oracle recomputes
    the 2 x (k+1) contingency statistic; the zero observed/baseline tail
    column contributes 0 to the stat and 1 to dof, matching numpy's
    (r-1)(c-1) with the tail column included (dof = 5)."""
    from data_profiler_spark.core.suite import ConstraintSuite
    from data_profiler_spark.validator import Validator

    docs = _t(spark, sf_dir, "documents")
    baseline = {
        "values": ["de", "en", "es", "fr", "zh"],
        "weights": [0.25, 0.25, 0.2, 0.15, 0.15],
        "n": 1000,
    }
    suite = ConstraintSuite("drift").add(
        "expect_column_distribution_to_match_baseline",
        column="lang", baseline=baseline, p=0.05,
    )
    r = Validator(docs).validate(suite).results[0]
    rows = [(round(float(r.details["chi2"]), 6), int(r.details["dof"]))]
    return local_frame(spark, rows, "chi2_stat double, dof long")


@register_query(
    "splitter_counts",
    """
SELECT 'mod_orderkey_8_3' AS split, COUNT(*) AS n FROM orders WHERE o_orderkey % 8 = 3
UNION ALL
SELECT 'div_orderkey_1000_2', COUNT(*) FROM orders
WHERE CAST(FLOOR(o_orderkey / 1000) AS INT) = 2
UNION ALL
SELECT 'status_F', COUNT(*) FROM orders WHERE o_orderstatus = 'F'
UNION ALL
SELECT 'multi_status_priority', COUNT(*) FROM orders
WHERE o_orderstatus = 'O' AND o_orderpriority = '1-URGENT'
UNION ALL
SELECT 'month_1996_03', COUNT(*) FROM orders
WHERE strftime(o_orderdate, '%Y-%m') = '1996-03'
UNION ALL
SELECT 'sample_mod_custkey_10_7', COUNT(*) FROM orders WHERE o_custkey % 10 = 7
UNION ALL
SELECT 'sample_list_priority', COUNT(*) FROM orders
WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
""",
)
def q_splitter_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch splitters + samplers (sources/splitters.py; ref
    sparkdf_execution_engine.py:698-864) — one count per split predicate,
    all UNIONed into one DataFrame. The hash splitters (xxhash64) have no
    DuckDB analogue and are pytest-covered instead."""
    from data_profiler_spark.sources import splitters as sp

    o = _t(spark, sf_dir, "orders")
    parts = [
        ("mod_orderkey_8_3", sp.split_on_mod_integer(o, "o_orderkey", 8, 3)),
        ("div_orderkey_1000_2", sp.split_on_divided_integer(o, "o_orderkey", 1000, 2)),
        ("status_F", sp.split_on_column_value(o, "o_orderstatus", "F")),
        ("multi_status_priority", sp.split_on_multi_column_values(
            o, {"o_orderstatus": "O", "o_orderpriority": "1-URGENT"})),
        ("month_1996_03", sp.split_on_converted_datetime(
            o, "o_orderdate", "yyyy-MM", "1996-03")),
        ("sample_mod_custkey_10_7", sp.sample_using_mod(o, "o_custkey", 10, 7)),
        ("sample_list_priority", sp.sample_using_a_list(
            o, "o_orderpriority", ["1-URGENT", "5-LOW"])),
    ]
    counted = [
        df.agg(F.lit(name).alias("split"), F.count(F.lit(1)).alias("n"))
        for name, df in parts
    ]
    out = counted[0]
    for c in counted[1:]:
        out = out.unionByName(c)
    return out


_EMB_CLUSTERS_ORACLE = """
WITH RECURSIVE nc AS (
  SELECT GREATEST(8, CAST(CEIL(COUNT(*) / 500.0) AS BIGINT)) AS c FROM embeddings
), ranked_vecs AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id,
         CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings
), cents AS (
  SELECT centroid_id, cvec FROM ranked_vecs, nc WHERE centroid_id < nc.c
), scored AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.centroid_id,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) AS csim
  FROM embeddings e, cents c
), assigned AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT vec_id, v, centroid_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, centroid_id) AS rn
    FROM scored
  ) WHERE rn = 1
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM assigned a JOIN assigned b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.3
),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b WHERE e.b <> r.a
)
SELECT a AS vec_id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
"""


@register_query("embedding_dedup_clusters", _EMB_CLUSTERS_ORACLE)
def q_embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup end-to-end: IVF-bucketed cosine near-dup pairs ->
    connected components -> (vec_id, cluster_id = component min). The two
    stages compose without materialization barriers; the oracle closes
    the same deterministic pair set with a recursive CTE."""
    from data_profiler_spark.operators.dedup import connected_components
    from data_profiler_spark.operators.similarity import (
        adaptive_n_centroids,
        embedding_near_dup_pairs,
        kmeans_like_centroids,
    )

    e = _embs(spark, sf_dir)
    meta = _input_meta(sf_dir, "embeddings")
    cents = None
    if meta:
        cents = kmeans_like_centroids(
            _t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
            adaptive_n_centroids(meta["rows"], 500),
        )
    pairs = embedding_near_dup_pairs(
        e, "vec_id", "embedding", threshold=0.3, target_bucket=500,
        centroids=cents,
    )
    cc = connected_components(pairs, "id_a", "id_b")
    return cc.select(
        F.col("node").alias("vec_id"), F.col("component").alias("cluster_id")
    )


@register_query(
    "stratified_sample_counts",
    """
WITH sampled AS (
  SELECT lang FROM documents
  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000
        < CASE lang WHEN 'en' THEN 0.25 WHEN 'zh' THEN 0.5 WHEN 'de' THEN 1.0
                    ELSE 0.75 END * 10000
)
SELECT lang, COUNT(*) AS kept FROM sampled GROUP BY lang
""",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for corpus rebalancing
    (sources/splitters.py sample_stratified_by_hash): downsample dominant
    languages by an md5-keyed Bernoulli that is bit-identical across
    engines and runs — kept counts per language prove the exact survivor
    set, not just the rate."""
    from data_profiler_spark.sources.splitters import sample_stratified_by_hash

    d = _t(spark, sf_dir, "documents")
    kept = sample_stratified_by_hash(
        d, "lang", "doc_id",
        fractions={"en": 0.25, "zh": 0.5, "de": 1.0},
        default_fraction=0.75,
    )
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("kept"))


@register_query(
    "json_parseable_counts",
    """
WITH derived AS (
  SELECT CASE WHEN event_id % 7 = 0
              THEN substr(props, 1, LENGTH(props) - 1)  -- drop '}' -> invalid
              ELSE props END AS p
  FROM events
)
SELECT COUNT(*) AS element_count,
       CAST(SUM(CASE WHEN p IS NOT NULL AND NOT json_valid(p) THEN 1 ELSE 0 END)
            AS BIGINT) AS unexpected_count,
       SUM(CASE WHEN p IS NOT NULL AND NOT json_valid(p) THEN 1 ELSE 0 END) = 0
         AS success
FROM derived
""",
)
def q_json_parseable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expect_column_values_to_be_json_parseable via the engine's
    Arrow-batched pandas_udf (ref column_values_json_parseable.py:29-39) —
    every 7th props string is deterministically truncated so the check
    discriminates; the oracle reproduces the corruption and counts with
    DuckDB's json_valid."""
    from data_profiler_spark.core.suite import ConstraintSuite
    from data_profiler_spark.validator import Validator

    ev = _t(spark, sf_dir, "events").withColumn(
        "p",
        F.when(
            F.col("event_id") % 7 == 0,
            F.expr("substring(props, 1, length(props) - 1)"),
        ).otherwise(F.col("props")),
    )
    suite = ConstraintSuite("json").add(
        "expect_column_values_to_be_json_parseable", column="p"
    )
    r = Validator(ev).validate(suite).results[0]
    rows = [(r.element_count, r.unexpected_count, bool(r.success))]
    return local_frame(
        spark, rows, "element_count long, unexpected_count long, success boolean"
    )


@register_query(
    "strftime_match_counts",
    """
WITH derived AS (
  SELECT CASE WHEN event_id % 11 = 0 THEN strftime(ts, '%Y-%m-%d') || '-x'
              WHEN event_id % 13 = 0 THEN strftime(ts, '%Y-13-%d')
              ELSE strftime(ts, '%Y-%m-%d') END AS s
  FROM events
),
checked AS (
  SELECT s,
         TRY_STRPTIME(s, '%Y-%m-%d') IS NOT NULL
         AND LENGTH(s) = LENGTH(STRFTIME(TRY_STRPTIME(s, '%Y-%m-%d'), '%Y-%m-%d'))
           AS ok
  FROM derived
)
SELECT COUNT(*) AS element_count,
       CAST(SUM(CASE WHEN s IS NOT NULL AND NOT ok THEN 1 ELSE 0 END) AS BIGINT)
         AS unexpected_count,
       SUM(CASE WHEN s IS NOT NULL AND NOT ok THEN 1 ELSE 0 END) = 0 AS success
FROM checked
""",
)
def q_strftime_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expect_column_values_to_match_strftime_format via the engine's
    native try_to_timestamp + round-trip-length path (ref
    column_values_match_strftime_format.py:34-58): date strings derived
    from events.ts with every 11th given trailing garbage and every 13th
    an out-of-range month, so both failure modes (unparseable suffix,
    invalid calendar value) are counted; the oracle mirrors with DuckDB
    TRY_STRPTIME + the same round-trip guard."""
    from data_profiler_spark.core.suite import ConstraintSuite
    from data_profiler_spark.validator import Validator

    ev = _t(spark, sf_dir, "events").withColumn(
        "s",
        F.when(
            F.col("event_id") % 11 == 0,
            F.concat(F.date_format("ts", "yyyy-MM-dd"), F.lit("-x")),
        )
        .when(
            F.col("event_id") % 13 == 0,
            F.concat(
                F.date_format("ts", "yyyy"), F.lit("-13-"), F.date_format("ts", "dd")
            ),
        )
        .otherwise(F.date_format("ts", "yyyy-MM-dd")),
    )
    suite = ConstraintSuite("strf").add(
        "expect_column_values_to_match_strftime_format",
        column="s", strftime_format="%Y-%m-%d",
    )
    r = Validator(ev).validate(suite).results[0]
    rows = [(r.element_count, r.unexpected_count, bool(r.success))]
    return local_frame(
        spark, rows, "element_count long, unexpected_count long, success boolean"
    )


@register_query(
    "table_schema_checks",
    """
WITH sch AS (
  SELECT column_name,
         CASE column_type
           WHEN 'BIGINT' THEN 'bigint' WHEN 'INTEGER' THEN 'int'
           WHEN 'DOUBLE' THEN 'double' WHEN 'VARCHAR' THEN 'string'
           WHEN 'TIMESTAMP' THEN 'timestamp_ntz'
           ELSE lower(column_type) END AS t
  FROM (DESCRIBE lineitem)
)
SELECT 'column_count' AS metric,
       CAST((SELECT COUNT(*) FROM sch) AS VARCHAR) AS observed,
       (SELECT COUNT(*) FROM sch) = 11 AS success
UNION ALL
SELECT 'ordered_columns', (SELECT string_agg(column_name, ',') FROM sch),
       (SELECT string_agg(column_name, ',') FROM sch) =
       'l_orderkey,l_partkey,l_suppkey,l_linenumber,l_quantity,'
       || 'l_extendedprice,l_discount,l_tax,l_returnflag,l_linestatus,'
       || 'l_shipdate'
UNION ALL
SELECT 'quantity_exists', 'True',
       (SELECT COUNT(*) FROM sch WHERE column_name = 'l_quantity') = 1
UNION ALL
SELECT 'quantity_type',
       (SELECT t FROM sch WHERE column_name = 'l_quantity'),
       (SELECT t FROM sch WHERE column_name = 'l_quantity') = 'double'
UNION ALL
SELECT 'orderkey_type',
       (SELECT t FROM sch WHERE column_name = 'l_orderkey'),
       (SELECT t FROM sch WHERE column_name = 'l_orderkey') = 'bigint'
""",
)
def q_table_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-shape constraint family via the engine (ref
    table_column_count.py:20-57, table_columns.py:25-62,
    expect_column_values_to_be_of_type.py:311-332): column count, ordered
    column list, column existence, and dtype checks — the oracle reads
    DuckDB's DESCRIBE with a type-name normalization map (parquet
    unadjusted timestamps read as timestamp_ntz in Spark 4, TIMESTAMP in
    DuckDB)."""
    from data_profiler_spark.core.suite import ConstraintSuite
    from data_profiler_spark.validator import Validator

    li = _t(spark, sf_dir, "lineitem")
    cols = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    ]
    suite = (
        ConstraintSuite("schema")
        .add("expect_table_column_count_to_equal", value=11)
        .add("expect_table_columns_to_match_ordered_list", column_list=cols)
        .add("expect_column_to_exist", column="l_quantity")
        .add("expect_column_values_to_be_of_type",
             column="l_quantity", type_="DoubleType")
        .add("expect_column_values_to_be_of_type",
             column="l_orderkey", type_="LongType")
    )
    res = Validator(li).validate(suite).results
    rows = [
        ("column_count", str(res[0].observed_value), bool(res[0].success)),
        ("ordered_columns", ",".join(res[1].observed_value), bool(res[1].success)),
        ("quantity_exists", str(res[2].observed_value), bool(res[2].success)),
        ("quantity_type", str(res[3].observed_value), bool(res[3].success)),
        ("orderkey_type", str(res[4].observed_value), bool(res[4].success)),
    ]
    return local_frame(
        spark, rows, "metric string, observed string, success boolean"
    )


_QUALITY_FILTER_ORACLE = r"""
WITH feat AS (
  SELECT doc_id,
         len(text) AS nc,
         regexp_split_to_array(trim(lower(text)), '\s+') AS ts,
         list_filter(string_split(text, chr(10)), x -> x <> '') AS ls,
         len(regexp_replace(text, '[a-zA-Z0-9_\s]', '', 'g')) AS np,
         len(regexp_replace(text, '[^0-9]', '', 'g')) AS nd
  FROM documents
), feat2 AS (
  SELECT doc_id, nc, len(ts) AS nt, ls, np, nd,
         len(list_filter(ts, t -> list_contains(
           ['the','and','of','to','in','is','that','for','with','on',
            'der','die','das','und','ist','von','mit','auf','ein','zu',
            'el','la','de','que','y','en','un','por','con','para',
            'le','la','de','et','les','des','un','une','du','pour'], t)))
           AS ns,
         CASE WHEN len(ts) >= 3
              THEN [array_to_string(ts[i:i+2], ' ') for i in range(1, len(ts) - 1)]
              ELSE [array_to_string(ts, ' ')] END AS tri
  FROM feat
), rules AS (
  SELECT doc_id,
         nt BETWEEN 30 AND 50000 AS p_tok,
         (CASE WHEN nt > 0 THEN CAST(nc - (nt - 1) AS DOUBLE) / nt ELSE 0 END)
           BETWEEN 2.0 AND 4.5 AS p_avg,
         (CASE WHEN nc > 0 THEN CAST(np AS DOUBLE) / nc ELSE 0 END) <= 0.2 AS p_punct,
         (CASE WHEN nc > 0 THEN CAST(nd AS DOUBLE) / nc ELSE 0 END) <= 0.2 AS p_digit,
         (CASE WHEN nt > 0 THEN CAST(ns AS DOUBLE) / nt ELSE 0 END) >= 0.01 AS p_stop,
         1.0 - CAST(len(list_distinct(tri)) AS DOUBLE) / len(tri) <= 0.005 AS p_tri,
         (CASE WHEN len(ls) > 0
               THEN 1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls)
               ELSE 0 END) <= 0.5 AS p_line
  FROM feat2
)
SELECT COUNT(*) AS total_docs,
       CAST(SUM(CASE WHEN p_tok AND p_avg AND p_punct AND p_digit AND p_stop
                      AND p_tri AND p_line THEN 1 ELSE 0 END) AS BIGINT) AS kept,
       CAST(SUM(CASE WHEN NOT p_tok THEN 1 ELSE 0 END) AS BIGINT) AS fail_token_count,
       CAST(SUM(CASE WHEN NOT p_avg THEN 1 ELSE 0 END) AS BIGINT) AS fail_avg_token_len,
       CAST(SUM(CASE WHEN NOT p_punct THEN 1 ELSE 0 END) AS BIGINT) AS fail_punct_ratio,
       CAST(SUM(CASE WHEN NOT p_digit THEN 1 ELSE 0 END) AS BIGINT) AS fail_digit_ratio,
       CAST(SUM(CASE WHEN NOT p_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopword_ratio,
       CAST(SUM(CASE WHEN NOT p_tri THEN 1 ELSE 0 END) AS BIGINT) AS fail_dup_trigram,
       CAST(SUM(CASE WHEN NOT p_line THEN 1 ELSE 0 END) AS BIGINT) AS fail_dup_line
FROM rules
"""


@register_query("quality_filter_counts", _QUALITY_FILTER_ORACLE)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style composite document filter (operators/text.py
    gopher_like_filter): per-rule pass flags + keep verdict in ONE
    projection; this query aggregates kept and per-rule failure counts so
    the oracle checks every rule's decision boundary over the corpus."""
    from data_profiler_spark.operators.text import gopher_like_filter

    d = _docs(spark, sf_dir)
    flt = gopher_like_filter(
        d, "text", id_cols=["doc_id"],
        # thresholds chosen to DISCRIMINATE on the synthetic corpus (the
        # operator defaults trivially pass its clean text): ~25% fail the
        # token floor, ~25% the avg-token-length cap, ~5% the trigram cap,
        # ~24% the stopword floor (zh + code-like docs)
        min_tokens=30, max_avg_token_len=4.5, max_dup_trigram_frac=0.005,
    )
    fails = [
        ("fail_token_count", "pass_token_count"),
        ("fail_avg_token_len", "pass_avg_token_len"),
        ("fail_punct_ratio", "pass_punct_ratio"),
        ("fail_digit_ratio", "pass_digit_ratio"),
        ("fail_stopword_ratio", "pass_stopword_ratio"),
        ("fail_dup_trigram", "pass_dup_trigram"),
        ("fail_dup_line", "pass_dup_line"),
    ]
    return flt.agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("kept"),
        *[
            F.sum(F.when(~F.col(p), 1).otherwise(0)).alias(name)
            for name, p in fails
        ],
    )


# ===========================================================================
# 17. URN cross-suite evaluation parameters (NEW r6): suite A's verdicts
#     land in the REAL results store, suite B pins its thresholds to A's
#     stored observed values via urn:validations $PARAMETERs — the
#     reference's cross-suite story (core/evaluation_parameters.py:30-227,
#     core/urn.py) proven end-to-end on the store, not a dict fixture.
# ===========================================================================

_URN_ORACLE = """
WITH m AS (
  SELECT AVG(l_quantity) AS mean_q, COUNT(l_quantity) AS n_q,
         COUNT(*) AS n FROM lineitem
)
SELECT 'above_prior_mean' AS metric,
       (SELECT COUNT(*) FROM lineitem, m WHERE l_quantity > mean_q) = 0
         AS success,
       (SELECT CAST(COUNT(*) AS DOUBLE) FROM lineitem, m
         WHERE l_quantity > mean_q) AS value
UNION ALL
SELECT 'row_count_equals_prior_element_count',
       TRUE, (SELECT CAST(n AS DOUBLE) FROM m)
UNION ALL
SELECT 'prior_run_was_successful', TRUE, 1.0
"""


def _urn_store_path(sf_dir: str) -> str:
    return _fixture_path(sf_dir, "urn_results_store.parquet")


@register_query("urn_cross_suite_verdicts", _URN_ORACLE)
def q_urn_cross_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sources/results_store.py evaluation_parameters (ref
    core/evaluation_parameters.py:98-132, core/urn.py): suite A observes
    the mean of l_quantity and a between-count; its verdict rows are
    APPENDED to a ResultsStore (per-sf path; re-runs append a new run_id
    and resolution picks the latest by started_at_ms). Suite B then pins
    a max_value to ``urn:validations:<cid>:observed_value`` and a row
    count to ``:element_count``, resolved from the store — so the oracle
    independently recomputes B's verdicts from lineitem alone: count
    above the prior mean, row count equal to the prior element count,
    and the prior run's stored success bit."""
    import time as _time
    import uuid as _uuid

    from data_profiler_spark.core.suite import ConstraintSuite
    from data_profiler_spark.sources.results_store import ResultsStore
    from data_profiler_spark.validator import Validator

    li = _t(spark, sf_dir, "lineitem")
    store = ResultsStore(spark, _urn_store_path(sf_dir))

    # --- run A: observe, then persist the verdict rows ------------------
    suite_a = (
        ConstraintSuite("urn_upstream")
        .add("expect_column_mean_to_be_between",
             column="l_quantity", min_value=0)
        .add("expect_column_values_to_be_between",
             column="l_quantity", min_value=0, max_value=10**9)
    )
    res_a = Validator(li).validate(suite_a)
    now = int(_time.time() * 1000)
    run_id = _uuid.uuid4().hex[:12]
    store.append_rows(
        [
            {
                **r.to_row(),
                "run_id": run_id,
                "suite_fingerprint": suite_a.fingerprint,
                "snapshot_id": "",
                "partition_id": "all",
                "started_at_ms": now,
                "finished_at_ms": now,
                "duration_ms": 0,
            }
            for r in res_a.results
        ]
    )

    # --- resolve URNs from the store, pin suite B to them ----------------
    params = store.evaluation_parameters(suite_a.fingerprint)
    cid_mean = suite_a.constraints[0].id
    cid_between = suite_a.constraints[1].id
    suite_b = (
        ConstraintSuite("urn_downstream")
        .add(
            "expect_column_values_to_be_between",
            column="l_quantity",
            max_value={
                "$PARAMETER": f"urn:validations:{cid_mean}:observed_value"
            },
        )
        .add(
            "expect_table_row_count_to_equal",
            value={
                "$PARAMETER": f"urn:validations:{cid_between}:element_count"
            },
        )
    )
    res_b = Validator(li, evaluation_parameters=params).validate(suite_b)
    b1, b2 = res_b.results
    prior_ok = bool(
        params[f"urn:validations:{cid_mean}:success"]
        and params[f"urn:validations:{cid_between}:success"]
    )
    rows = [
        ("above_prior_mean", bool(b1.success), float(b1.unexpected_count)),
        (
            "row_count_equals_prior_element_count",
            bool(b2.success),
            float(b2.observed_value),
        ),
        ("prior_run_was_successful", prior_ok, 1.0),
    ]
    return local_frame(
        spark, rows, "metric string, success boolean, value double"
    )


# ===========================================================================
# 18. Multi-run profile diffing (NEW r6): two profile runs' STORED sketches
#     -> per-column drift verdicts, no re-scan of the baseline data
# ===========================================================================

def _chi2_crit_2x6() -> float:
    # plan-time constant: critical value for the 2 x (5 values + tail)
    # event_type contingency at alpha 0.05 -> dof (2-1)(6-1) = 5
    from data_profiler_spark.functions.stats import chi2_critical

    return float(chi2_critical(5, 0.05))


_PROFILE_DIFF_ORACLE = f"""
WITH a AS (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-16'),
     b AS (SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-16'),
     na AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(COUNT(*) FILTER (event_type IS NULL) AS DOUBLE) AS z_et,
                   CAST(COUNT(*) FILTER (value IS NULL) AS DOUBLE) AS z_v,
                   CAST(COUNT(DISTINCT event_type) AS DOUBLE) AS d_et,
                   CAST(COUNT(DISTINCT value) AS DOUBLE) AS d_v,
                   AVG(LENGTH(event_type)) AS m_et, STDDEV_SAMP(LENGTH(event_type)) AS s_et,
                   AVG(value) AS m_v, STDDEV_SAMP(value) AS s_v FROM a),
     nb AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(COUNT(*) FILTER (event_type IS NULL) AS DOUBLE) AS z_et,
                   CAST(COUNT(*) FILTER (value IS NULL) AS DOUBLE) AS z_v,
                   CAST(COUNT(DISTINCT event_type) AS DOUBLE) AS d_et,
                   CAST(COUNT(DISTINCT value) AS DOUBLE) AS d_v,
                   AVG(LENGTH(event_type)) AS m_et, STDDEV_SAMP(LENGTH(event_type)) AS s_et,
                   AVG(value) AS m_v, STDDEV_SAMP(value) AS s_v FROM b),
     ca AS (SELECT event_type AS v, CAST(COUNT(*) AS DOUBLE) AS c FROM a GROUP BY 1),
     cb AS (SELECT event_type AS v, CAST(COUNT(*) AS DOUBLE) AS c FROM b GROUP BY 1),
     cells AS (
       SELECT COALESCE(ca.v, cb.v) AS v,
              COALESCE(ca.c, 0) AS oa, COALESCE(cb.c, 0) AS ob
       FROM ca FULL JOIN cb ON ca.v = cb.v
     ),
     chi2 AS (
       SELECT SUM(CASE WHEN oa + ob > 0 THEN
           pow(oa - (oa + ob) * (SELECT n FROM na) / ((SELECT n FROM na) + (SELECT n FROM nb)), 2)
             / ((oa + ob) * (SELECT n FROM na) / ((SELECT n FROM na) + (SELECT n FROM nb)))
         + pow(ob - (oa + ob) * (SELECT n FROM nb) / ((SELECT n FROM na) + (SELECT n FROM nb)), 2)
             / ((oa + ob) * (SELECT n FROM nb) / ((SELECT n FROM na) + (SELECT n FROM nb)))
         ELSE 0 END) AS stat
       FROM cells
     )
SELECT 'event_type' AS column_name, 'chi2_topk' AS test,
       ROUND((SELECT stat FROM chi2), 6) AS stat,
       (SELECT stat FROM chi2) >= {{crit}} AS drift
UNION ALL
SELECT 'event_type', 'null_fraction',
       ROUND(ABS((SELECT z_et / n FROM na) - (SELECT z_et / n FROM nb)), 6), NULL
UNION ALL
SELECT 'event_type', 'distinct_delta',
       ROUND(ABS((SELECT d_et FROM na) - (SELECT d_et FROM nb))
             / GREATEST((SELECT d_et FROM na), 1), 6), NULL
UNION ALL
SELECT 'event_type', 'mean_shift',
       ROUND(ABS((SELECT m_et FROM na) - (SELECT m_et FROM nb))
             / sqrt((pow((SELECT s_et FROM na), 2) + pow((SELECT s_et FROM nb), 2)) / 2), 6), NULL
UNION ALL
SELECT 'value', 'null_fraction',
       ROUND(ABS((SELECT z_v / n FROM na) - (SELECT z_v / n FROM nb)), 6), NULL
UNION ALL
SELECT 'value', 'distinct_delta',
       ROUND(ABS((SELECT d_v FROM na) - (SELECT d_v FROM nb))
             / GREATEST((SELECT d_v FROM na), 1), 6), NULL
UNION ALL
SELECT 'value', 'mean_shift',
       ROUND(ABS((SELECT m_v FROM na) - (SELECT m_v FROM nb))
             / sqrt((pow((SELECT s_v FROM na), 2) + pow((SELECT s_v FROM nb), 2)) / 2), 6), NULL
"""


def _profile_store_path(sf_dir: str) -> str:
    return _fixture_path(sf_dir, "profile_store.parquet")


@register_query(
    "profile_drift_verdicts",
    _PROFILE_DIFF_ORACLE.replace("{crit}", repr(_chi2_crit_2x6())),
)
def q_profile_drift_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/profile_diff.py (SURVEY §2.9 'baseline profile rows',
    completed): profile the first and second halves of January's events
    as two runs into a ProfileStore, then compare the STORED sketches —
    chi-square over the stored top-k counts (oracle-exact: top_k=8 covers
    all 5 event types, and the drift verdict's critical value is the same
    plan-time constant inlined into the SQL), plus null-fraction /
    exact-distinct / mean-shift deltas recomputed by the oracle from the
    raw halves. The interpolated-KS branch is pinned in
    tests/test_profile.py (bin edges are data-dependent — not portable
    SQL). The baseline half is never re-scanned at compare time."""
    from data_profiler_spark.operators.profile import TableProfile, profile
    from data_profiler_spark.operators.profile_diff import (
        ProfileStore,
        compare_profile_runs,
    )

    ev = _t(spark, sf_dir, "events")
    split = F.to_timestamp(F.lit("2024-01-16"))
    # BOTH halves profiled in ONE grouped pass (group_by the half flag) —
    # one scan instead of two full profile() job chains; the halves then
    # land in the store as two distinct RUNS (group stripped: the run id,
    # not the group key, is the comparison axis)
    halved = ev.withColumn(
        "__half", (F.col("ts") >= split).cast("int")
    )
    tps = profile(
        halved,
        columns=["event_type", "value"],
        group_by=["__half"],
        categorical_columns=["event_type"],
        top_k=8,
        approx_distinct=False,
        # the kept verdicts are chi2_topk / null_fraction / distinct_delta /
        # mean_shift — the quantile sketch and histogram pass would be
        # computed, stored, and never read (ks_hist is filtered out below),
        # so both are skipped (r7; the oracle recomputes from raw halves
        # and does not touch the store)
        quantiles=[],
        hist_bins=0,
    )
    by_half = {tp.group["__half"]: tp for tp in tps}
    pa = [TableProfile(group={}, columns=by_half[0].columns)]
    pb = [TableProfile(group={}, columns=by_half[1].columns)]

    store = ProfileStore(spark, _profile_store_path(sf_dir))
    # ONE overwrite write for the pair per query run: re-runs replace it
    store.append_runs(
        [(pa, "run_a"), (pb, "run_b")], "events_halves", mode="overwrite"
    )

    verdicts = compare_profile_runs(store, "run_a", "run_b")
    keep = {"chi2_topk", "null_fraction", "distinct_delta", "mean_shift"}
    rows = [
        (
            r["column_name"],
            r["test"],
            round(float(r["stat"]), 6) if r["stat"] is not None else None,
            r["drift"],
        )
        for r in verdicts.collect()
        if r["test"] in keep
    ]
    return local_frame(
        spark, rows, "column_name string, test string, stat double, drift boolean"
    )


# ===========================================================================
# 19. Corpus restructuring + LM quality scoring (NEW r6)
# ===========================================================================

_CHUNKS_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') AS ts
  FROM documents
), s AS (
  SELECT doc_id, ts, unnest(range(0, len(ts), 48)) AS start
  FROM t WHERE len(ts) > 0
)
SELECT doc_id, CAST(start // 48 AS BIGINT) AS chunk_index,
       CAST(LEAST(64, len(ts) - start) AS BIGINT) AS n_tokens,
       md5(array_to_string(ts[start + 1 : start + 64], ' ')) AS chunk_md5
FROM s
"""


@register_query("doc_chunks", _CHUNKS_ORACLE)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/text.py chunk_documents: overlapping 64-token chunks
    (stride 48), the embedding/training feed unit. Chunk text is md5'd so
    the oracle compares every chunk byte-exactly without shipping the
    corpus through the compare. No shuffle anywhere — pure projection +
    posexplode."""
    from data_profiler_spark.operators.text import chunk_documents

    d = _docs(spark, sf_dir)
    ch = chunk_documents(d, "text", ["doc_id"], chunk_tokens=64, overlap=16)
    return ch.select(
        "doc_id", "chunk_index", "n_tokens",
        F.md5(F.col("chunk_text")).alias("chunk_md5"),
    )


_UNIGRAM_ORACLE = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), v AS (
  SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c FROM tok GROUP BY 1
), t AS (SELECT SUM(c) AS total FROM v)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(LN(c / total)), 6) AS mean_logprob
FROM tok JOIN v USING (tok), t
GROUP BY doc_id
"""


@register_query("unigram_doc_quality", _UNIGRAM_ORACLE)
def q_unigram_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/text.py unigram_logprob: per-doc mean unigram
    log-probability under a model fitted on the corpus itself (the
    CCNet-style LM quality signal). One token-count agg + one join on the
    token key (AQE broadcasts the small fitted vocab); the oracle refits
    the same model in SQL."""
    from data_profiler_spark.operators.text import unigram_logprob

    d = _docs(spark, sf_dir)
    out = unigram_logprob(d, "text", ["doc_id"])
    return out.select(
        "doc_id", "n_tokens", F.round("mean_logprob", 6).alias("mean_logprob")
    )


# ===========================================================================
# 20. Data-selection operators: CCNet buckets, DSIR weights, KMV overlap
#     (NEW r6)
# ===========================================================================

_PPL_BUCKETS_ORACLE = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), v AS (
  SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c FROM tok GROUP BY 1
), t AS (SELECT SUM(c) AS total FROM v),
scored AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         ROUND(AVG(LN(c / total)), 6) AS s
  FROM tok JOIN v USING (tok), t
  GROUP BY doc_id
), th AS (
  SELECT quantile_cont(s, 1.0 / 3) AS t0, quantile_cont(s, 2.0 / 3) AS t1
  FROM scored
)
SELECT CASE WHEN s <= t0 THEN 0 WHEN s <= t1 THEN 1 ELSE 2 END AS bucket_index,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       ROUND(AVG(s), 6) AS avg_logprob
FROM scored, th
GROUP BY 1
"""


@register_query("perplexity_bucket_stats", _PPL_BUCKETS_ORACLE)
def q_perplexity_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/text.py perplexity_buckets: CCNet-style head/middle/tail
    corpus tiers by exact percentiles of the per-doc unigram LM score
    (bucket 0 = tail). One corpus tokenization, one percentile AGG over
    the reduced per-doc rows (no global sort), thresholds broadcast into
    a when-chain; the oracle recomputes the identical thresholds with
    quantile_cont on the same 6-dp-rounded score grid."""
    from data_profiler_spark.operators.text import perplexity_buckets

    d = _docs(spark, sf_dir)
    b = perplexity_buckets(d, "text", ["doc_id"], n_buckets=3)
    return b.groupBy("bucket_index").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.round(F.avg("mean_logprob"), 6).alias("avg_logprob"),
    )


_DSIR_ORACLE = r"""
WITH tok AS (
  SELECT doc_id, CAST(lang = 'en' AS INT) AS tgt,
         unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), m AS (
  SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c_raw,
         CAST(SUM(CASE WHEN tgt = 1 THEN 1 END) AS DOUBLE) AS c_tgt
  FROM tok GROUP BY 1
), t AS (SELECT SUM(c_raw) AS t_raw, SUM(c_tgt) AS t_tgt FROM m)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(COALESCE(LN(c_tgt / t_tgt), -20.0) - LN(c_raw / t_raw)), 6)
         AS mean_log_ratio
FROM tok JOIN m USING (tok), t
GROUP BY doc_id
ORDER BY mean_log_ratio DESC, doc_id
LIMIT 100
"""


@register_query("dsir_top_selection", _DSIR_ORACLE)
def q_dsir_top_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/text.py dsir_logratio: DSIR-style importance weights
    (target LM = lang='en' docs, raw LM = whole corpus; both fitted from
    ONE tokenization pass) and the top-100 most-in-domain docs by
    (rounded ratio, doc_id) — a deterministic stand-in for DSIR's
    exp(ratio)-proportional resampling. Global orderBy+limit compiles to
    TakeOrdered (map-side partial top-k), not a full sort."""
    from data_profiler_spark.operators.text import dsir_logratio

    d = _docs(spark, sf_dir)
    out = dsir_logratio(d, "text", ["doc_id"], target_cond=F.col("lang") == "en")
    return (
        out.select(
            "doc_id",
            "n_tokens",
            F.round("mean_log_ratio", 6).alias("mean_log_ratio"),
        )
        .orderBy(F.col("mean_log_ratio").desc(), "doc_id")
        .limit(100)
    )


_KMV_ORACLE = r"""
WITH tok_a AS (
  SELECT DISTINCT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                     x -> x <> '')) AS tok
  FROM documents WHERE doc_id % 2 = 0
), tok_b AS (
  SELECT DISTINCT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                     x -> x <> '')) AS tok
  FROM documents WHERE doc_id % 2 = 1
), sk_a AS (
  SELECT DISTINCT ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
  FROM tok_a ORDER BY h LIMIT 256
), sk_b AS (
  SELECT DISTINCT ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
  FROM tok_b ORDER BY h LIMIT 256
), merged AS (
  SELECT h FROM (SELECT h FROM sk_a UNION SELECT h FROM sk_b)
  ORDER BY h LIMIT 256
), parts AS (
  SELECT (SELECT COUNT(*) FROM sk_a) AS n_a,
         (SELECT MAX(h) FROM sk_a) AS hk_a,
         (SELECT COUNT(*) FROM sk_b) AS n_b,
         (SELECT MAX(h) FROM sk_b) AS hk_b,
         (SELECT COUNT(*) FROM merged) AS n_u,
         (SELECT MAX(h) FROM merged) AS hk_u,
         (SELECT COUNT(*) FROM merged
          WHERE h IN (SELECT h FROM sk_a) AND h IN (SELECT h FROM sk_b))
           AS k_int
)
SELECT 256 AS k,
       ROUND(CASE WHEN n_a < 256 THEN CAST(n_a AS DOUBLE)
                  ELSE (CAST(n_a AS DOUBLE) - 1.0)
                       / (CAST(hk_a AS DOUBLE) / 1152921504606846976.0) END, 6)
         AS est_distinct_a,
       ROUND(CASE WHEN n_b < 256 THEN CAST(n_b AS DOUBLE)
                  ELSE (CAST(n_b AS DOUBLE) - 1.0)
                       / (CAST(hk_b AS DOUBLE) / 1152921504606846976.0) END, 6)
         AS est_distinct_b,
       ROUND(CASE WHEN n_u < 256 THEN CAST(n_u AS DOUBLE)
                  ELSE (CAST(n_u AS DOUBLE) - 1.0)
                       / (CAST(hk_u AS DOUBLE) / 1152921504606846976.0) END, 6)
         AS est_distinct_union,
       CAST(k_int AS BIGINT) AS k_intersect,
       ROUND(CAST(k_int AS DOUBLE) / CAST(n_u AS DOUBLE), 6) AS est_jaccard
FROM parts
"""


@register_query("corpus_overlap_kmv", _KMV_ORACLE)
def q_corpus_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/sketches.py kmv_overlap: bottom-k (KMV) sketch overlap of
    the token vocabularies of two corpus snapshots (even vs odd doc_id) —
    distinct-count and Jaccard estimates from k=256 hashes per side.
    Each side reduces to a distinct-agg + TakeOrdered(k); the estimate
    math runs over <= 2k rows. The oracle replays the identical order
    statistics in SQL."""
    from data_profiler_spark.operators.sketches import kmv_overlap
    from data_profiler_spark.operators.text import tokens

    d = _docs(spark, sf_dir)
    vocab_a = d.filter(F.col("doc_id") % 2 == 0).select(
        F.explode(tokens(F.col("text"))).alias("tok")
    )
    vocab_b = d.filter(F.col("doc_id") % 2 == 1).select(
        F.explode(tokens(F.col("text"))).alias("tok")
    )
    return kmv_overlap(vocab_a, vocab_b, "tok", k=256)


_DUP_SPANS_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts FROM documents
), wins AS (
  SELECT doc_id, i AS pos, md5(array_to_string(ts[i:i+7], ' ')) AS ph
  FROM toks, UNNEST(range(1, len(ts) - 8 + 2)) AS t(i)
  WHERE len(ts) >= 8
), marked AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY ph) AS c,
         ROW_NUMBER() OVER (PARTITION BY ph ORDER BY doc_id, pos) AS rn
  FROM wins
), removable AS (
  SELECT doc_id, pos FROM marked WHERE c > 1 AND rn > 1
), isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos > COALESCE(MAX(pos + 7) OVER (
                  PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
              THEN 1 ELSE 0 END AS newi
  FROM removable
), grp AS (
  SELECT doc_id, pos,
         SUM(newi) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl
), spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + 7 AS e
  FROM grp GROUP BY doc_id, island
), posd AS (
  SELECT t.doc_id, u.i AS pos, ts[u.i] AS tok
  FROM toks t, UNNEST(range(1, len(ts) + 1)) AS u(i)
), kept AS (
  SELECT p.doc_id, string_agg(p.tok, ' ' ORDER BY p.pos) AS clean_text,
         COUNT(*) AS n_kept
  FROM posd p
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = p.doc_id AND p.pos BETWEEN s.s AND s.e)
  GROUP BY p.doc_id
), nsp AS (SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY doc_id)
SELECT t.doc_id,
       CAST(COALESCE(nsp.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(len(t.ts) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed_tokens,
       md5(COALESCE(k.clean_text, '')) AS clean_md5
FROM toks t
LEFT JOIN nsp USING (doc_id)
LEFT JOIN kept k USING (doc_id)
"""


@register_query("dup_span_removal", _DUP_SPANS_ORACLE)
def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/text.py dup_spans/remove_dup_spans: ExactSubstr-style
    duplicated-span removal (Lee et al. 2022) on an 8-token window grid,
    keep-first occurrence. One hash shuffle marks removable windows
    (count + keep-first rank in the same window spec), per-doc
    gaps-and-islands merges them into maximal spans, and the cleaned
    text is rebuilt natively (no UDF). Clean text is md5'd so the oracle
    compares every reconstruction byte-exactly."""
    from data_profiler_spark.operators.text import remove_dup_spans

    d = _docs(spark, sf_dir)
    out = remove_dup_spans(d, "doc_id", "text", window=8)
    return out.select(
        "doc_id",
        "n_spans",
        "n_removed_tokens",
        F.md5(F.col("clean_text")).alias("clean_md5"),
    )


# ===========================================================================
# 19. Corpus composition (NEW r6): per-source caps, temperature mixing,
#     contamination scoring, sequence packing (operators/mixing.py,
#     operators/dedup.py ngram_overlap_fraction)
# ===========================================================================


@register_query(
    "source_cap_counts",
    """
WITH ranked AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
)
SELECT source, COUNT(*) AS kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM ranked WHERE rn <= 10
GROUP BY source
""",
)
def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/mixing.py cap_per_group: RefinedWeb-style "at most N docs
    per domain", survivors = the N smallest (md5(id), id) per source — a
    deterministic uniform sample, proven exactly by per-source kept count
    + id-sum fingerprint. Runs the two-stage skew-proof shape (salted
    local top-cap, then a final window over <= cap*salts survivors); the
    oracle is the textbook single window, so a pass also re-proves the
    two-stage == one-stage equivalence on real data."""
    from data_profiler_spark.operators.mixing import cap_per_group

    d = _t(spark, sf_dir, "documents").select("source", "doc_id")
    kept = cap_per_group(d, "source", "doc_id", cap=10, salt_partitions=8)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("kept"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@register_query(
    "temperature_mixture_counts",
    """
WITH c AS (
  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
), tot AS (
  SELECT COUNT(*) // 2 AS t FROM documents
), z AS (
  SELECT SUM(sqrt(CAST(n AS DOUBLE))) AS z FROM c
), thr AS (
  SELECT lang,
         CAST(FLOOR(LEAST(1.0,
              ((SELECT t FROM tot)
               * (sqrt(CAST(n AS DOUBLE)) / (SELECT z FROM z)))
              / CAST(n AS DOUBLE)) * 10000) AS BIGINT) AS th
  FROM c
)
SELECT d.lang, COUNT(*) AS kept, CAST(SUM(d.doc_id) AS BIGINT) AS id_sum
FROM documents d JOIN thr USING (lang)
WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000
      < thr.th
GROUP BY d.lang
""",
)
def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/mixing.py temperature_sample: mT5/XLM-R temperature
    rebalance at alpha=0.5 targeting half the corpus — keep fractions
    proportional to sqrt(n_lang)/n_lang, keep decision an integer-exact
    md5-Bernoulli. kept + id_sum per language prove the exact survivor
    set; the oracle rederives the sqrt-weighted thresholds in SQL
    (sqrt is IEEE-correctly-rounded on both engines, which is why the
    canonical temperature is the gated one)."""
    from data_profiler_spark.operators.mixing import temperature_sample

    d = _t(spark, sf_dir, "documents").select("lang", "doc_id")
    total = d.count()
    kept = temperature_sample(
        d, "lang", "doc_id", alpha=0.5, total_target=total // 2
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("kept"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@register_query(
    "contamination_fraction",
    r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
  FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(ts) >= 3
         THEN [array_to_string(ts[i:i+2], ' ') for i in range(1, len(ts) - 1)]
         ELSE [array_to_string(ts, ' ')] END)) AS s
  FROM toks
), probe AS (
  SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0
)
SELECT c.doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN p.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       ROUND(CAST(SUM(CASE WHEN p.s IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS dirty_frac
FROM sh c LEFT JOIN probe p ON c.s = p.s
GROUP BY c.doc_id
""",
)
def q_contamination_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/dedup.py ngram_overlap_fraction: the GPT-3/PaLM per-doc
    contamination score — for EVERY corpus document, the fraction of its
    distinct trigram shingles found anywhere in the probe set's union
    (probes = every 50th doc standing in for an eval benchmark).
    Complements decontamination_hits (pairwise, thresholded) with the
    per-doc dirtiness a pipeline uses to drop/down-weight documents. The
    probe UNION set is broadcast; one corpus explode, one groupBy."""
    from data_profiler_spark.operators.dedup import ngram_overlap_fraction

    d = _docs(spark, sf_dir)
    probes = _t(spark, sf_dir, "documents").where(
        F.col("doc_id") % 50 == 0
    ).select("text")
    return ngram_overlap_fraction(
        d, probes, corpus_id="doc_id", corpus_text="text",
        probe_text="text", shingle_n=3,
        # bounded eval probe set: skip the estimator job, force broadcast
        # (the union-distinct index is even smaller than containment's)
        broadcast_probes=True,
    )


@register_query(
    "packed_shard_stats",
    r"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tok,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8
           AS stream,
         md5(CAST(doc_id AS VARCHAR)) AS rk
  FROM documents
), packed AS (
  SELECT doc_id, tok, stream,
         SUM(tok) OVER (PARTITION BY stream ORDER BY rk, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - tok AS off
  FROM t
)
SELECT stream, CAST(off // 2048 AS BIGINT) AS shard,
       COUNT(*) AS docs,
       CAST(SUM(tok) AS BIGINT) AS tokens,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM packed GROUP BY stream, shard
""",
)
def q_packed_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/mixing.py pack_sequences: concat-then-split packing of
    the corpus onto 8 independent token tapes cut every 2048 tokens
    (GPT-style pretraining shards; a doc belongs to the shard where it
    starts). Integer-exact throughout — stream/offset/shard replay
    bit-identically in the oracle's window. Per-(stream, shard) doc and
    token totals + id-sum prove the exact assignment."""
    from data_profiler_spark.operators.mixing import pack_sequences
    from data_profiler_spark.operators.text import token_count

    d = _docs(spark, sf_dir).select(
        "doc_id", token_count(F.col("text")).alias("tok")
    )
    out = pack_sequences(d, "doc_id", "tok", budget=2048, n_streams=8)
    return out.groupBy("stream", "shard").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("tok").cast("long").alias("tokens"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@register_query(
    "dedup_survivors",
    r"""
WITH g AS (
  SELECT doc_id, md5(text) AS h,
         CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS score
  FROM documents
), comp AS (
  SELECT h, MIN(doc_id) AS component FROM g GROUP BY h
), j AS (
  SELECT g.doc_id, g.score, comp.component FROM g JOIN comp USING (h)
), r AS (
  SELECT component, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY component
                            ORDER BY score DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY component) AS n_docs
  FROM j
)
SELECT component, n_docs, doc_id AS keep_id, CAST(score AS BIGINT) AS keep_score
FROM r WHERE rn = 1
""",
)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/dedup.py cluster_survivors: quality-aware survivor
    selection — per cluster keep the HIGHEST-scoring member (token count
    here; ties to min id) instead of exact_dup_groups' blind min-id. Clusters
    = exact content groups (md5), the deterministic cluster input that
    DuckDB can rebuild; near-dup cluster inputs (connected_components
    output) flow through the identical code path. One broadcast-eligible
    join + one struct-argmax groupBy; no window on the Spark side."""
    from data_profiler_spark.operators.dedup import cluster_survivors
    from data_profiler_spark.operators.text import token_count

    d = _docs(spark, sf_dir)
    g = d.select("doc_id", F.md5("text").alias("h"),
                 token_count(F.col("text")).alias("score"))
    # g feeds three plan branches (comp, clusters, scored) — without a
    # materialization barrier each branch re-tokenizes and re-hashes the
    # full text column. A LAZY localCheckpoint persists the narrow
    # (id, h, score) rows when the single downstream action first
    # computes them — the other branches then read ~24 B/doc from the
    # persisted blocks (r7: 3 text passes -> 1, no extra job)
    g = g.localCheckpoint(eager=False)
    comp = g.groupBy("h").agg(F.min("doc_id").alias("component"))
    clusters = g.join(comp, "h").select(
        F.col("doc_id").alias("node"), "component"
    )
    scored = g.select("doc_id", "score")
    out = cluster_survivors(scored, clusters, "doc_id", "score")
    return out.withColumn("keep_score", F.col("keep_score").cast("long"))


_CODE_BLOB_ORACLE = f"""
WITH f AS (
  SELECT lang, content, sha256(content) AS digest
  FROM read_parquet('{_NORTH_FIXTURE}/*.parquet')
)
SELECT lang,
       COUNT(*) AS n_files,
       CAST(SUM(CASE WHEN content IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_files,
       COUNT(DISTINCT digest) AS n_blobs,
       CAST(COUNT(digest) - COUNT(DISTINCT digest) AS BIGINT) AS dup_files,
       ROUND(CAST(COUNT(digest) - COUNT(DISTINCT digest) AS DOUBLE)
             / COUNT(digest), 6) AS dup_ratio,
       MIN(digest) AS min_digest
FROM f GROUP BY lang
"""


@register_query("code_blob_dedup_stats", _CODE_BLOB_ORACLE)
def q_code_blob_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Git-style blob dedup stats on the north-rule code table: per lang,
    files vs distinct sha256(content) blobs — the injected verbatim
    duplicates (sources/code_table.py DUP_FRACTION) surface as dup_files.
    This is BASELINE.json input_hint's per-row invariant (content sha256
    equality) exercised as a first-class query: min_digest pins at least
    one full digest per lang byte-for-byte against the oracle's sha256.
    Scale: one scan, map-side-combinable agg; distinct-count of digests
    shuffles (digest, lang) pairs only — at 100 TB swap in
    approx_count_distinct like the fused profile does."""
    f = _north_files(spark).select(
        "lang", "content", F.sha2(F.col("content"), 256).alias("digest")
    )
    return f.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.when(F.col("content").isNull(), 1).otherwise(0)).alias(
            "null_files"
        ),
        F.count_distinct(F.col("digest")).alias("n_blobs"),
        (F.count("digest") - F.count_distinct(F.col("digest")))
        .cast("long")
        .alias("dup_files"),
        F.round(
            (F.count("digest") - F.count_distinct(F.col("digest"))).cast(
                "double"
            )
            / F.count("digest"),
            6,
        ).alias("dup_ratio"),
        F.min("digest").alias("min_digest"),
    )


_CMS_ORACLE = r"""
WITH tok AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> x <> '')) AS t
  FROM documents
), rows_d AS (
  SELECT * FROM (VALUES (0), (1), (2), (3)) r(r)
), cells AS (
  SELECT r.r AS row,
         ('0x' || substr(md5('cms' || r.r || ':' || t), 1, 15))::BIGINT % 1024
           AS bucket,
         COUNT(*) AS cnt
  FROM tok, rows_d r
  GROUP BY 1, 2
), exact AS (
  SELECT t, COUNT(*) AS c FROM tok GROUP BY t
), probes AS (
  SELECT t, c FROM exact ORDER BY c DESC, t LIMIT 5
)
SELECT p.t AS probe,
       CAST(MIN(COALESCE(cells.cnt, 0)) AS BIGINT) AS est_count,
       CAST(MIN(p.c) AS BIGINT) AS exact_count
FROM probes p
CROSS JOIN rows_d r
LEFT JOIN cells
  ON cells.row = r.r
 AND cells.bucket =
     ('0x' || substr(md5('cms' || r.r || ':' || p.t), 1, 15))::BIGINT % 1024
GROUP BY p.t
"""


@register_query("cms_heavy_hitter_counts", _CMS_ORACLE)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/sketches.py cms_sketch/cms_estimate: Count-Min sketch of
    the corpus token stream (4 x 1024 cells — FIXED size vs the unbounded
    state of an exact groupBy over 10^12 tokens), probed at the top-5
    exact heavy hitters; est >= exact by construction and the oracle
    replays every salted md5 bucket bit-exactly. The sketch groupBy is
    map-side-combinable into <= 4096 cells; the probe join broadcasts the
    sketch."""
    from data_profiler_spark.operators.sketches import cms_estimate, cms_sketch
    from data_profiler_spark.operators.text import tokens

    d = _docs(spark, sf_dir)
    tok = d.select(F.explode(tokens(F.col("text"))).alias("t"))
    sk = cms_sketch(tok, "t", depth=4, width=1024)
    exact = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    probes = exact.orderBy(F.col("c").desc(), F.col("t").asc()).limit(5)
    est = cms_estimate(sk, probes.select("t"), "t", depth=4, width=1024)
    return (
        est.join(probes, est["probe"] == probes["t"])
        .select(
            "probe",
            F.col("est_count").cast("long").alias("est_count"),
            F.col("c").cast("long").alias("exact_count"),
        )
    )


@register_query(
    "top_fraction_counts",
    r"""
WITH scored AS (
  SELECT doc_id, lang, n_chars FROM documents
), k AS (
  SELECT CAST(CEIL(COUNT(*) * 0.2) AS BIGINT) AS k FROM scored
), cum AS (
  SELECT n_chars AS s, SUM(COUNT(*)) OVER (ORDER BY n_chars DESC) AS c
  FROM scored GROUP BY n_chars
), thr AS (
  SELECT s FROM cum WHERE c >= (SELECT k FROM k) ORDER BY s DESC LIMIT 1
)
SELECT lang, COUNT(*) AS kept, CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM scored WHERE n_chars >= (SELECT s FROM thr)
GROUP BY lang
""",
)
def q_top_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/mixing.py select_top_fraction (exact mode): keep the top
    20% of documents by n_chars, threshold-based with ties included —
    membership is a pure function of the row's own score, so the survivor
    set replays exactly (kept + id_sum per lang prove it). The exact
    threshold comes from cumulative counts over DISTINCT scores, never a
    corpus sort; the approx (percentile_approx) mode is the 100-TB path
    and is pytest-asserted to bracket this exact answer."""
    from data_profiler_spark.operators.mixing import select_top_fraction

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    kept = select_top_fraction(d, "n_chars", 0.2, approx=False)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("kept"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@register_query(
    "mixture_packed_stats",
    r"""
WITH c AS (
  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
), tot AS (
  SELECT COUNT(*) // 2 AS t FROM documents
), z AS (
  SELECT SUM(sqrt(CAST(n AS DOUBLE))) AS z FROM c
), thr AS (
  SELECT lang,
         CAST(FLOOR(LEAST(1.0,
              ((SELECT t FROM tot)
               * (sqrt(CAST(n AS DOUBLE)) / (SELECT z FROM z)))
              / CAST(n AS DOUBLE)) * 10000) AS BIGINT) AS th
  FROM c
), sampled AS (
  SELECT d.doc_id,
         CASE WHEN len(trim(d.text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(d.text), '\s+')) END AS tok,
         ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 4
           AS stream,
         md5(CAST(d.doc_id AS VARCHAR)) AS rk
  FROM documents d JOIN thr USING (lang)
  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000
        < thr.th
), packed AS (
  SELECT tok, stream,
         SUM(tok) OVER (PARTITION BY stream ORDER BY rk, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - tok AS off
  FROM sampled
)
SELECT stream, COUNT(*) AS docs, CAST(SUM(tok) AS BIGINT) AS tokens,
       CAST(MAX(off // 4096) + 1 AS BIGINT) AS n_shards
FROM packed GROUP BY stream
""",
)
def q_mixture_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus composition: temperature_sample (alpha=0.5, half
    the corpus) CHAINED into pack_sequences (4 streams, 4096-token
    budget) — the recipe -> shards pipeline as one lazy plan: the
    sampling filter fuses into the packing window's scan, so the whole
    composition is one corpus pass + one stream-keyed shuffle. Per-stream
    doc/token/shard totals replay bit-exactly in the oracle."""
    from data_profiler_spark.operators.mixing import (
        pack_sequences,
        temperature_sample,
    )
    from data_profiler_spark.operators.text import token_count

    d = _t(spark, sf_dir, "documents")
    total = d.count()
    kept = temperature_sample(
        d.select("lang", "doc_id", "text"), "lang", "doc_id",
        alpha=0.5, total_target=total // 2,
    ).select("doc_id", token_count(F.col("text")).alias("tok"))
    packed = pack_sequences(kept, "doc_id", "tok", budget=4096, n_streams=4)
    return packed.groupBy("stream").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("tok").cast("long").alias("tokens"),
        (F.max(F.expr("offset DIV 4096")) + 1).cast("long").alias("n_shards"),
    )


_PQ_ORACLE = r"""
WITH cb AS (
  SELECT list(v ORDER BY vec_id) AS cbl
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings ORDER BY vec_id LIMIT 16)
), ev AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), enc AS (
  SELECT ev.vec_id,
         [CAST(list_position(ds, list_min(ds)) - 1 AS INT)
          for ds in [[list_sum([pow(v[j*8+t] - cbl[c+1][j*8+t], 2)
                                for t in range(1, 9)])
                      for c in range(0, 16)]
                     for j in range(0, 8)]] AS codes
  FROM ev, cb
), q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, enc.vec_id,
         ROUND(list_sum([list_sum([pow(q.qv[j*8+t]
                                       - cbl[enc.codes[j+1]+1][j*8+t], 2)
                                   for t in range(1, 9)])
                         for j in range(0, 8)]), 6) AS adist
  FROM enc, q, cb
), ranked AS (
  SELECT query_id, vec_id, adist,
         row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id)
           AS rank
  FROM scored
)
SELECT query_id, vec_id, adist, rank FROM ranked WHERE rank <= 5
"""


@register_query("embedding_topk_pq", _PQ_ORACLE)
def q_embedding_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/similarity.py pq_encode/pq_topk: product-quantization ANN
    — vectors compress to m=8 one-byte codes against a 16-entry
    deterministic codebook (lowest-id seeds, so the WHOLE pipeline —
    train, encode, asymmetric top-k — replays bit-exactly in SQL), then
    top-5 per query by asymmetric distance. The memory step for
    billion-vector ANN: the scan ships codes, never vectors. Encode is
    one shuffle-free pass (codebook in the task closure); top-k is a
    WindowGroupLimit rank."""
    from data_profiler_spark.operators.similarity import (
        kmeans_like_centroids,
        pq_encode,
        pq_topk,
    )

    e = _t(spark, sf_dir, "embeddings")
    cents = kmeans_like_centroids(e, "vec_id", "embedding", 16)
    # encode is CPU-bound per row and the fixture is a single row group
    # -> one task; spread it like _docs does for text
    enc = pq_encode(
        _embs(spark, sf_dir), cents, "vec_id", "embedding", m=8,
    )
    queries = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return pq_topk(
        enc, queries, "query_id", "qvec", "vec_id", k_top=5,
        query_rows=_emb_query_rows(sf_dir),
    )


@register_query(
    "upsample_epoch_counts",
    r"""
WITH t AS (
  SELECT doc_id, lang,
         CASE lang WHEN 'en' THEN 2 WHEN 'de' THEN 1 ELSE 0 END
         + CASE WHEN ('0x' || substr(md5('up:' || CAST(doc_id AS VARCHAR)),
                                     1, 15))::BIGINT % 10000
                     < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 0
                                 ELSE 3000 END
                THEN 1 ELSE 0 END AS copies
  FROM documents
)
SELECT lang,
       CAST(SUM(copies) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN copies > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id * copies) AS BIGINT) AS id_sum
FROM t GROUP BY lang
HAVING SUM(copies) > 0
""",
)
def q_upsample_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/mixing.py upsample_by_fractions: weight -> multiplicity
    for mixture recipes with fractions above 1 (en 2.5 epochs, de 1.0,
    rest 0.3): floor(f) copies plus an md5-Bernoulli extra, salted
    independently of the down-samplers. The oracle computes expected
    multiplicities WITHOUT the explode; the Spark side aggregates the
    exploded rows — equality proves the explode emitted exactly the
    ordered copies."""
    from data_profiler_spark.operators.mixing import upsample_by_fractions

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    up = upsample_by_fractions(
        d, "lang", "doc_id", {"en": 2.5, "de": 1.0}, default_fraction=0.3
    )
    return up.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.col("doc_id")).alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@register_query(
    "cluster_split_counts",
    r"""
WITH g AS (
  SELECT doc_id, md5(text) AS h FROM documents
), comp AS (
  SELECT h, MIN(doc_id) AS c FROM g GROUP BY h
), a AS (
  SELECT g.doc_id, comp.c FROM g JOIN comp USING (h)
)
SELECT CASE WHEN ('0x' || substr(md5(CAST(c AS VARCHAR)), 1, 15))::BIGINT
            % 10000 < 1000
       THEN 'test' ELSE 'train' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM a GROUP BY 1
""",
)
def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/mixing.py split_by_cluster: leakage-free train/test split
    — the Bernoulli is drawn on the doc's CLUSTER representative, so a
    near-dup cluster never straddles the split (the leak decontamination
    exists to prevent). Clusters here = exact content groups (the
    deterministic input DuckDB can rebuild); connected_components output
    flows through the identical code path, invariant pytest-asserted."""
    from data_profiler_spark.operators.mixing import split_by_cluster

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    g = d.select("doc_id", F.md5("text").alias("h"))
    comp = g.groupBy("h").agg(F.min("doc_id").alias("component"))
    clusters = g.join(comp, "h").select(
        F.col("doc_id").alias("node"), "component"
    )
    out = split_by_cluster(
        d.select("doc_id"), clusters, "doc_id", test_frac=0.1
    )
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


_IVFPQ_ORACLE = r"""
WITH ev AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), coarse AS (
  SELECT list(v ORDER BY vec_id) AS cl
  FROM (SELECT vec_id, v FROM ev ORDER BY vec_id LIMIT 4)
), asg AS (
  SELECT vec_id, v, CAST(list_position(sims, list_max(sims)) - 1 AS INT) AS cid
  FROM (SELECT ev.vec_id, ev.v,
               [list_sum([v[t] * cl[c+1][t] for t in range(1, 65)])
                / sqrt(list_sum([cl[c+1][t] * cl[c+1][t]
                                 for t in range(1, 65)]))
                for c in range(0, 4)] AS sims
        FROM ev, coarse)
), resid AS (
  SELECT vec_id, cid,
         [v[t] - cl[cid+1][t] for t in range(1, 65)] AS rv
  FROM asg, coarse
), rcb AS (
  SELECT list(rv ORDER BY vec_id) AS rl
  FROM (SELECT vec_id, rv FROM resid ORDER BY vec_id LIMIT 16)
), enc AS (
  SELECT resid.vec_id, resid.cid,
         [CAST(list_position(ds, list_min(ds)) - 1 AS INT)
          for ds in [[list_sum([pow(rv[j*8+t] - rl[c+1][j*8+t], 2)
                                for t in range(1, 9)])
                      for c in range(0, 16)]
                     for j in range(0, 8)]] AS codes
  FROM resid, rcb
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM ev WHERE vec_id < 5
), qsims AS (
  SELECT q.query_id, q.qv, c.c AS cid,
         list_sum([q.qv[t] * cl[c.c+1][t] for t in range(1, 65)])
         / sqrt(list_sum([cl[c.c+1][t] * cl[c.c+1][t] for t in range(1, 65)]))
           AS csim
  FROM q, coarse, (SELECT UNNEST(range(0, 4)) AS c) c
), probes AS (
  SELECT query_id, cid,
         [qv[t] - cl[cid+1][t] for t in range(1, 65)] AS qres
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY csim DESC, cid) AS rn
        FROM qsims) s, coarse
  WHERE rn <= 2
), scored AS (
  SELECT p.query_id, e.vec_id,
         ROUND(list_sum([list_sum([pow(p.qres[j*8+t]
                                       - rl[e.codes[j+1]+1][j*8+t], 2)
                                   for t in range(1, 9)])
                         for j in range(0, 8)]), 6) AS adist
  FROM enc e JOIN probes p ON e.cid = p.cid, rcb
), ranked AS (
  SELECT query_id, vec_id, adist,
         row_number() OVER (PARTITION BY query_id ORDER BY adist, vec_id)
           AS rank
  FROM scored
)
SELECT query_id, vec_id, adist, rank FROM ranked WHERE rank <= 5
"""


@register_query("embedding_topk_ivfpq", _IVFPQ_ORACLE)
def q_embedding_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/similarity.py ivfpq_topk: the FAISS-IVFADC architecture —
    coarse quantizer (4 lists, dot/|c| assignment) + product-quantized
    RESIDUALS (m=8 codes vs a 16-entry residual codebook) + nprobe=2
    asymmetric-distance search. The billion-vector shape: a query scans
    nprobe/n_coarse of the corpus and each candidate costs m byte
    lookups, never a full vector. Every stage is deterministic
    (lowest-id seeds), so the three-stage pipeline replays bit-exactly
    in the oracle's SQL."""
    from data_profiler_spark.operators.similarity import ivfpq_topk

    e = _t(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return ivfpq_topk(
        _embs(spark, sf_dir),
        queries, "vec_id", "embedding", "query_id", "qvec",
        n_coarse=4, nprobe=2, m=8, n_codes=16, k_top=5,
        # seeds off the RAW scan: same lowest-id rows, no repartition
        # exchange in the seed-collect job
        seed_source=e,
        query_rows=_emb_query_rows(sf_dir),
    )
