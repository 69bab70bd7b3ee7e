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

Generated class names leave out the whole-stage codegen stage id
(``spark.sql.codegen.useIdInClassName=false``).  The cache is keyed by
source text, and with the id in the class name the same pipeline
compiled under a different id is a new class.  Adaptive execution
numbers a query's stages in the order they are planned, and that order
follows which shuffles finish first, so under CPU contention a repeated
``run_pipeline`` compiled 1-4 classes again whose code differed only in
that id (seen with the ``CodegenMetrics`` counter and the generated
sources, 4 vCPUs busy with other processes).  Without the id such
classes share one cache entry.

The driver JVM caps G1's young generation at a quarter of its heap.
Uncapped, G1 grows the young generation adaptively up to 60% of the
heap, and how far it gets depends on measured pause times, so the same
run touched a different share of the heap each time: one datacube
``run_pipeline`` repeated in fresh ``local[4]`` sessions with a fixed
2 GB heap (the benchmark's ``datacube_artifacts`` run, 4 vCPUs) left
the driver's peak resident memory anywhere between 2,055 and 2,468 MB
(8 runs).  Capped, 8 runs stayed between 1,513 and 1,590 MB, and op
time stayed within its run-to-run noise.  The cap goes into
``spark.driver.defaultJavaOptions``, so ``spark.driver.extraJavaOptions``
still applies and a ``-XX:MaxNewSize`` there overrides it.
"""

from __future__ import annotations

import os
import re
import time

from pyspark.sql import SparkSession

#: compiled whole-stage codegen classes the session keeps (see the module
#: docstring for how the size was chosen)
CODEGEN_CACHE_ENTRIES = 1024
#: the driver's young generation may use at most 1/N of its heap (module
#: docstring)
YOUNG_GEN_HEAP_FRACTION = 4

_MEMORY_UNITS_MB = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def _memory_mb(size: str) -> int | None:
    """MiB in a Spark memory string (``8g``, ``2048m``, ``2048`` = MiB),
    or None when it does not parse."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", size.strip().lower())
    return int(int(m.group(1)) * _MEMORY_UNITS_MB[m.group(2) or "m"]) if m else None


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
    extra_conf = extra_conf or {}
    driver_memory = extra_conf.get(
        "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
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
        .config("spark.driver.memory", driver_memory)
        # static: compiled classes kept across actions (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # cache generated code by what it does, not by its stage number
        # (module docstring)
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    heap_mb = _memory_mb(driver_memory)
    if heap_mb:
        # young-generation cap (module docstring); extra_conf may replace it
        builder = builder.config(
            "spark.driver.defaultJavaOptions",
            f"-XX:MaxNewSize={heap_mb // YOUNG_GEN_HEAP_FRACTION}m")
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    pin_process_utc()
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
