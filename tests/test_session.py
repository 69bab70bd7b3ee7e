"""Session factory defaults that reach the driver JVM."""

from __future__ import annotations

import pytest

from slow_tortoise_spark.session import YOUNG_GEN_HEAP_FRACTION, _memory_mb


@pytest.mark.parametrize("size, mb", [
    ("8g", 8192), ("2048m", 2048), ("2048", 2048), ("2G", 2048),
    ("2gb", 2048), ("1t", 1024 * 1024), ("1.5g", None), ("lots", None),
])
def test_memory_mb_reads_spark_memory_strings(size, mb):
    assert _memory_mb(size) == mb


def test_driver_young_generation_is_capped(spark):
    """The driver JVM runs with G1's young generation capped at a fixed
    share of its heap, so its resident memory does not follow G1's
    timing-driven young sizing."""
    heap_mb = _memory_mb(spark.sparkContext.getConf().get("spark.driver.memory"))
    flag = f"-XX:MaxNewSize={heap_mb // YOUNG_GEN_HEAP_FRACTION}m"
    runtime = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    assert flag in list(runtime.getInputArguments())


def test_generated_code_is_cached_whatever_its_stage_id(spark):
    """A pipeline compiled once is reused when a later plan numbers its
    codegen stage differently: ``a ∪ b`` then ``b ∪ a`` compiles nothing
    the second time, though ``a`` and ``b`` swap stage ids."""
    import time

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    n = time.time_ns()  # plans no earlier test compiled
    a = spark.range(5).selectExpr(f"id * {n} AS x")
    b = spark.range(5).selectExpr(f"id + {n} AS x")
    a.union(b).collect()
    before = metrics.METRIC_SOURCE_CODE_SIZE().getCount()
    assert sorted(b.union(a).collect()) == sorted(a.union(b).collect())
    assert metrics.METRIC_SOURCE_CODE_SIZE().getCount() == before
