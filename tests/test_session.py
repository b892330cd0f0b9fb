"""``plans.session.get_spark``: how it sizes local mode, the heap
policy the driver JVM of the test session runs with, and its
generated-class cache."""

import os

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from duckdb_gsheets_spark.plans import session


def stub_builder(monkeypatch):
    """``get_spark`` returns its builder's options instead of a session,
    as if this process had a driver JVM."""
    monkeypatch.setattr(SparkContext, "_gateway", object())
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda b: b._options)


@pytest.mark.parametrize("cpus, expected", [(None, "3"), ("2", "2")])
def test_local_mode_uses_spark_graft_cpus_else_the_cpus_this_process_may_use(
    monkeypatch, cpus, expected
):
    if cpus is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5})
    stub_builder(monkeypatch)
    options = session.get_spark()
    assert options["spark.master"] == f"local[{expected}]"
    assert options["spark.sql.shuffle.partitions"] == expected


@pytest.fixture()
def management(spark):
    """The test session's driver JVM ``ManagementFactory``, when
    ``get_spark`` chose that JVM's options."""
    if not spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions"):
        pytest.skip("get_spark left the driver JVM's options to the launcher")
    return spark.sparkContext._jvm.java.lang.management.ManagementFactory


def test_the_driver_jvm_runs_the_parallel_collector(management):
    collectors = {bean.getName() for bean in management.getGarbageCollectorMXBeans()}
    assert collectors == {"PS Scavenge", "PS MarkSweep"}


def test_the_driver_jvm_young_generation_is_at_most_512_mb(spark, management):
    hotspot = management.getPlatformMXBean(
        spark.sparkContext._jvm.java.lang.Class.forName(
            "com.sun.management.HotSpotDiagnosticMXBean"
        )
    )
    assert int(hotspot.getVMOption("MaxNewSize").getValue()) <= 512 * 1024**2


def test_a_repeated_round_of_statements_compiles_no_class(spark):
    """Statements that compile more distinct classes than Spark's
    default cache of 100 holds, run twice in the same order: the second
    round finds every class in the cache. A cache smaller than the
    round evicts each class before its next use and compiles the round
    again."""
    assert (
        int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
        == session.CODEGEN_CACHE_ENTRIES
    )
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def round_():
        # A literal is compiled into the classes, so each one is
        # distinct; a statement compiles two.
        for i in range(60):
            spark.range(1).select((F.col("id") * 31 + i).alias("x")).collect()

    start = compiles.getCount()
    round_()
    first = compiles.getCount()
    assert first - start > 100
    round_()
    assert compiles.getCount() == first
