"""SparkSession factory tuned for the datacube engine.

Defaults follow public Spark tuning guidance: AQE on (runtime coalescing,
skew-join splitting), UTC session timezone (temporal truncation must be
UTC — the reference truncates epoch-ms timestamps in UTC), Arrow enabled
for the few Pandas-UDF paths (tile protobuf serialization, grouped sinks).

The whole-stage codegen cache is sized to the engine's working set of
generated classes. Spark's default keeps 100 compiled classes, but one
datacube ``run_pipeline`` (the benchmark's ``datacube_artifacts`` op)
cycles through 204 of them (217 in a session's first op), and one pass
over the 18 headline queries through 257 (305 in a first pass that
collects). An LRU cache that small evicts each class before its next
use, so every repeated op Janino-compiled all of them again, and HotSpot
then JIT-compiled the new classes too: sizing the cache alone cut a
headline pass from 26.9 to 20.1 CPU-seconds on 4 vCPUs. With 1024
entries a repeated op compiles zero new classes: 204/257 -> 0 per op,
counted with Spark's ``CodegenMetrics`` source-size counter in a 4-vCPU
``local[4]`` session. Entries scale with distinct plan shapes, not with
rows.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession

#: compiled whole-stage codegen classes the session keeps (see the module
#: docstring for how the size was chosen)
CODEGEN_CACHE_ENTRIES = 1024


def pin_process_utc() -> None:
    """Pin the *driver process* timezone to UTC (Unix tzset).

    PySpark converts collected TimestampType values through the driver
    process timezone (``datetime.fromtimestamp``), not the session tz —
    on a non-UTC host, collected rows would shift vs the DuckDB oracle.
    This engine's artifact and oracle parity is defined in UTC, so the
    pin happens ONCE at session bootstrap (here) and at the harness
    entry boundary (``__spark_entry__`` import), never as a side effect
    of per-table reads: ``time.tzset`` mutates process-global state and
    is not thread-safe, so it belongs at process setup only.
    """
    if time.strftime("%z") not in ("+0000", "-0000"):
        os.environ["TZ"] = "UTC"
        time.tzset()


def get_spark(
    app_name: str = "slow_tortoise_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[N]`` with N from $SPARK_GRAFT_CPUS (fallback: all cores).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        # Some producers write TIMESTAMP(NANOS) parquet, which Spark rejects
        # by default; read them as long (ns) and re-type at the source layer.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # Plan strings are diagnostics, but Spark builds one for EVERY
        # action (SparkListenerSQLExecutionStart carries the full
        # explain string even with the UI off).  The default cap is
        # ~Int.MaxValue, so a deep plan — a 200-way staging union
        # multiplied through self-referencing stages — can OOM the
        # driver inside generateTreeString before a single task runs
        # (observed: 1M-doc soak, 8g heap).  16 MB keeps every sane
        # plan readable and bounds the pathological ones; lineage
        # truncation at stage boundaries remains the real fix, this is
        # the engine-wide safety net.
        .config("spark.sql.maxPlanStringLength", str(16 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # static: compiled classes kept across actions (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    pin_process_utc()
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
