"""The session factory: the driver JVM's JIT options, the master's thread
count and the local warm-up."""

from __future__ import annotations

import json
import logging
import os
import subprocess
import sys
from pathlib import Path

import pytest

from data_profiler_spark.core.session import (
    DRIVER_JIT_OPTIONS,
    _master_threads,
    _warm_session,
)

REPO = Path(__file__).resolve().parents[1]


def _vm_option(jvm, name: str) -> str:
    """The value HotSpot runs with for ``-XX:<name>``."""
    mx = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return mx.getVMOption(name).getValue()


def test_driver_jvm_runs_with_tier4_thresholds(spark):
    flags = DRIVER_JIT_OPTIONS.split()
    assert len(flags) == 4 and all(f.startswith("-XX:Tier4") for f in flags)
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
                .getInputArguments())
    assert set(flags) <= set(args)
    for f in flags:
        name, value = f[len("-XX:"):].split("=")
        assert _vm_option(jvm, name) == value


_PROBE = """
import json, sys
from data_profiler_spark.core.session import get_spark_session
s = get_spark_session(master="local[1]", extra_conf={
    "spark.driver.memory": "512m",
    "spark.driver.extraJavaOptions": sys.argv[1],
})
mx = s.sparkContext._jvm.java.lang.management.ManagementFactory
print(json.dumps(list(mx.getRuntimeMXBean().getInputArguments())))
s.stop()
"""


def test_caller_java_options_kept_next_to_tier4_thresholds():
    """A caller's ``spark.driver.extraJavaOptions`` reaches a fresh driver
    JVM together with the tier-4 flags, after them, so a flag the caller
    repeats is the one HotSpot keeps."""
    caller = "-Ddps.caller=1 -XX:Tier4InvocationThreshold=7000"
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE, caller],
        capture_output=True, text=True, cwd=REPO, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    args = json.loads(proc.stdout.strip().splitlines()[-1])
    ours = DRIVER_JIT_OPTIONS.split()
    assert set(ours) <= set(args)
    assert "-Ddps.caller=1" in args
    assert args.index("-XX:Tier4InvocationThreshold=7000") > args.index(ours[0])


class _NoExecutors:
    """A session whose every job fails."""

    class sparkContext:
        applicationId = "no-executors"

    def range(self, *a):
        raise RuntimeError("no executors")


def test_warm_up_warns_with_the_failing_step(caplog):
    with caplog.at_level(logging.WARNING, logger="data_profiler_spark.core.session"):
        _warm_session(_NoExecutors())
    warned = [(r.getMessage(), r.exc_info[1]) for r in caplog.records]
    assert [m for m, _ in warned] == ["session warm-up step 'parquet_aggregate' failed"]
    assert str(warned[0][1]) == "no executors"


# Jobs one warm-up submits, measured on Spark 4.1.2 at local[4]: its parquet
# write, read and aggregate.
WARM_UP_JOBS = 5


def test_warm_up_job_count(spark, monkeypatch):
    """The warm-up submits at most ``WARM_UP_JOBS`` jobs, so a step added
    back without a measurement fails here."""
    from data_profiler_spark.core import session

    monkeypatch.setattr(session, "_WARMED", set())
    sc = spark.sparkContext
    sc.setJobGroup("test_warm_up_job_count", "warm-up")
    try:
        _warm_session(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("test_warm_up_job_count")
    assert 0 < len(jobs) <= WARM_UP_JOBS


@pytest.mark.parametrize(
    "master, threads",
    [
        ("local[3]", 3),
        ("local[4,2]", 4),
        ("local[*]", None),
        ("local[*,3]", None),
        ("local-cluster[2,1,1024]", None),
        ("local", None),
        ("spark://host:7077", None),
    ],
)
def test_master_thread_count(master, threads):
    """Shuffle partitions follow the master's thread count: the number
    before the comma of ``local[N,F]``; any other master gets the host's
    core count. No session starts here."""
    assert _master_threads(master) == (threads or os.cpu_count())


@pytest.mark.parametrize(
    "master, local",
    [
        ("local[3]", True),
        ("local[4,2]", True),
        ("local[*]", True),
        ("local[*,3]", True),
        ("local-cluster[2,1,1024]", False),
        ("local", True),
        ("spark://host:7077", False),
    ],
)
def test_warm_up_only_on_local_masters(monkeypatch, master, local):
    """``get_spark_session`` warms local masters only, whose tasks run in
    the driver JVM; ``local-cluster[...]`` starts executor JVMs. The
    builder is a stand-in, so no session starts here."""
    from types import SimpleNamespace

    from data_profiler_spark.core import session

    class Builder:
        def appName(self, name):
            return self

        def master(self, m):
            self.m = m
            return self

        def config(self, key, value):
            return self

        def getOrCreate(self):
            ctx = SimpleNamespace(master=self.m, setLogLevel=lambda level: None)
            return SimpleNamespace(sparkContext=ctx)

    warmed = []
    monkeypatch.setattr(session.SparkSession, "builder", Builder())
    monkeypatch.setattr(session, "_warm_session", warmed.append)
    spark = session.get_spark_session(master=master)
    assert warmed == ([spark] if local else [])
