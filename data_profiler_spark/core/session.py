"""SparkSession factory.

Mirrors the intent of the reference's ``get_or_create_spark_application``
(/root/reference/src/data_profiler/core/util.py:549-608) but tuned for an
analytics engine: Arrow on, a fixed UTC session time zone, shuffle
partitions sized to the master's threads, and a driver JVM that promotes
methods to C2 later (``DRIVER_JIT_OPTIONS``). Adaptive query execution is
Spark's default and is left to it.
"""

from __future__ import annotations

import logging
import os
import re
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Driver JVM JIT policy. All four HotSpot tiers stay; only the point at
# which a method is promoted to C2 (tier 4) moves, to 10x the JDK 17
# defaults. The driver plans every query, and planner code that runs
# briefly per query otherwise pays for full C2 compiles it never earns
# back (JIT was 44% of a cold operator pass). Measured on 4 cores
# (CHANGES.md): perfbench operator_suite run_cpu_s fell 17% at x3, 27% at
# x10 and 24% at x30. The cost: in local mode the driver also runs the
# tasks, and at x10 their steady-state CPU on a 2M-row run rose about
# 11% (x3: about 5%). Executor JVMs keep the defaults. spark-submit users
# pass the same string with --driver-java-options (README).
DRIVER_JIT_OPTIONS = " ".join(
    f"-XX:{flag}={default * 10}"
    for flag, default in (
        ("Tier4InvocationThreshold", 5000),
        ("Tier4MinInvocationThreshold", 600),
        ("Tier4CompileThreshold", 15000),
        ("Tier4BackEdgeThreshold", 40000),
    )
)

_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"),
    # guide §3.1/§9: let the planner pick shuffled-hash over sort-merge
    # when a build side fits per-partition (no sort, no spill for the
    # mid-size dims this engine joins); sort-merge still chosen when
    # neither side fits.
    "spark.sql.join.preferSortMergeJoin": "false",
    # guide §3.1: 10 MB default is sized for ~1 GB executors; dims that
    # this engine broadcasts (probe indexes, centroid tables, store
    # slices) are safe well above it on any modern executor. A
    # small-memory cluster lowers it through ``extra_conf``.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
}


# ``local``, ``local[N]``, ``local[*]`` and ``local[N,F]`` / ``local[*,F]``
# (F is the task retry count): every task runs in the driver JVM.
_LOCAL_MASTER = re.compile(r"local(?:\[(\d+|\*)(?:,\d+)?\])?")


def _master_threads(master: str) -> int:
    """The thread count a master asks for: N of ``local[N]`` or
    ``local[N,F]``. Any other master, ``local[*]``, ``local-cluster[...]``
    or a cluster URL included, gets the host's core count."""
    m = _LOCAL_MASTER.fullmatch(master)
    n = m.group(1) if m else None
    return int(n) if n and n.isdigit() else os.cpu_count() or 8


def _is_local(master: str) -> bool:
    """Whether ``master`` runs every task in the driver JVM.
    ``local-cluster[...]`` does not: it starts executor JVMs."""
    return _LOCAL_MASTER.fullmatch(master) is not None


def get_spark_session(
    app_name: str = "data_profiler_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``.
    Shuffle partitions follow the master's thread count
    (:func:`_master_threads`): Spark's default 200 over-parallelizes local
    mode and under-parallelizes a real cluster, where AQE coalesces.
    ``extra_conf`` overrides any key.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    threads = str(_master_threads(master))

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = threads
    conf["spark.default.parallelism"] = threads
    # File scans bin-pack by COMPRESSED bytes; highly compressible text
    # (source code) otherwise collapses to 1-2 scan partitions and serializes
    # every aggregate. Force at least one split per core.
    conf["spark.sql.files.minPartitionNum"] = threads
    if extra_conf:
        conf.update(extra_conf)
    # The caller's options go after ours: HotSpot keeps the last value of
    # a repeated flag, so a caller can still override a threshold.
    conf["spark.driver.extraJavaOptions"] = " ".join(
        filter(None, [DRIVER_JIT_OPTIONS, conf.get("spark.driver.extraJavaOptions")])
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if _is_local(spark.sparkContext.master):
        _warm_session(spark)
    return spark


def arrow_table(rows: Iterable, schema: T.StructType):
    """Driver-side rows (tuples or Rows in ``schema``'s field order) as one
    ``pyarrow.Table`` in the Arrow form Spark itself uses for ``schema``,
    nullability included. Values go through the schema's ``toInternal``
    first, so a naive ``datetime`` reads as local time, as ``collect()``
    returns it. A field type Arrow does not map raises ``TypeError``, and
    a ``None`` in a non-nullable field ``ValueError``, each naming the
    field."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    fields = []
    for f in schema.fields:
        try:
            fields.append(pa.field(f.name, to_arrow_type(f.dataType), f.nullable))
        except TypeError as exc:
            raise TypeError(
                f"field {f.name!r} has type {f.dataType.simpleString()}, "
                "which Arrow does not map"
            ) from exc
    cols = list(zip(*(schema.toInternal(r) for r in rows))) or [()] * len(fields)
    arrays = [pa.array(c, type=f.type) for c, f in zip(cols, fields)]
    for a, f in zip(arrays, fields):
        if a.null_count and not f.nullable:
            raise ValueError(f"field {f.name!r} is not nullable, but got None")
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields))


def local_frame(
    spark: SparkSession, rows: Iterable, schema: T.StructType | str
) -> DataFrame:
    """Driver-side rows as a DataFrame planned as a ``LocalRelation``.

    The rows travel to the JVM as one Arrow table (:func:`arrow_table`), so
    collecting the frame runs no Spark job, no action on it starts a
    Python worker, and the planner knows its exact size when it picks a
    join strategy. (``createDataFrame`` on a Python list plans a Python
    RDD instead: every action on it runs a Python-worker stage.)
    ``schema`` is a ``StructType`` or a DDL string; the frame has exactly
    that schema, nullability included."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    return spark.createDataFrame(arrow_table(rows, schema), schema=schema)


_WARMED: set[str] = set()


def _warm_session(spark: SparkSession) -> None:
    """One-time, data-independent session initialization, run on local
    masters only: a parquet write, read and aggregate over a temp dir
    (scan, HashAggregate and codegen paths), so that this first-use cost
    does not land on whichever query touches them first. Synthetic input
    only: no engine table is touched, nothing is cached or reused by
    queries. If the step fails, a warning names it with its traceback; it
    never blocks session creation.

    Measured on 4 cores (perfbench ``--seconds 10``, medians [quartiles]),
    against the earlier three steps, which added a rank window and a
    ``mapInPandas`` over one batch per core to start the Python worker
    pool (no perfbench pass starts a Python worker):
    operator_suite ``setup_s`` 19.7 [19.1-20.5] -> 15.8 [15.2-16.6] s,
    ``run_cpu_s`` 42.6 [41.9-45.8] -> 44.0 [43.1-46.5] s; north_resume
    ``setup_s`` 19.9 [19.4-21.3] -> 15.6-15.7 s; the warm-up's jobs
    11 -> 5. With no warm-up at all ``setup_s`` is 7.9 s, but
    operator_suite ``run_cpu_s`` rises to 54.4 [53.9-55.6] s: the first
    parquet aggregate of a session pays about 2 s of class load and
    codegen."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    key = spark.sparkContext.applicationId
    if key in _WARMED:
        return
    _WARMED.add(key)
    tmp = tempfile.mkdtemp(prefix="dps_warm_")
    path = os.path.join(tmp, "w.parquet")
    try:
        spark.range(1000).selectExpr(
            "id", "id % 7 AS k", "CAST(id AS DOUBLE) AS x"
        ).write.mode("overwrite").parquet(path)
        spark.read.parquet(path).groupBy("k").agg(
            F.count(F.lit(1)), F.sum("x"), F.min("x"), F.max("x"),
            F.count_distinct("id"),
        ).collect()
    except Exception:  # best-effort: a cold query is slower, not wrong
        logging.getLogger(__name__).warning(
            "session warm-up step 'parquet_aggregate' failed", exc_info=True
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
