"""Datacube parquet ingestion (reference ops S1–S3, P13).

The reference reads one-or-many parquet shards whose schemas drift: later
shards may add qualifier columns, and some shards are "string duplicates"
(``*_str[.N].parquet.gzip``) that must be skipped
(/root/reference/flows/data_pipeline.py:149-236). This module re-expresses
that as:

* a single ``spark.read.parquet`` over many paths when schemas agree
  (Catalyst schema merge), or
* per-file reads harmonized with ``unionByName(allowMissingColumns=True)``
  when they don't — missing string columns become empty strings, region
  columns unify to string with ``"None"`` fills.

At scale this is a plain distributed parquet scan: predicate pushdown and
column pruning are Catalyst's job; we only normalize the logical schema.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from slow_tortoise_spark.memo import remembered
from slow_tortoise_spark.schema import NULL_TOKEN, REGION_LEVELS

#: Shards that duplicate numeric data with stringified values; skipped on read.
STRING_SHARD_RE = re.compile(r".*_str(\.[0-9]+)?\.parquet(\.gzip)?$")


def filter_string_shards(paths: list[str]) -> list[str]:
    """Drop '*_str*.parquet[.gzip]' duplicate shards (reference P13)."""
    return [p for p in paths if not STRING_SHARD_RE.match(p)]


def read_datacube(
    spark: SparkSession,
    paths: str | list[str],
    harmonize: bool = True,
) -> DataFrame:
    """Read one or more datacube parquet files into a single DataFrame.

    With ``harmonize=True`` each file is read separately and the union is
    taken by column name, padding columns a file lacks. String-typed shard
    duplicates are excluded by filename. Raises ``ValueError`` on an empty
    result (reference S3 fails the run on 0 rows).
    """
    if isinstance(paths, str):
        paths = [paths]
    paths = filter_string_shards(paths)
    if not paths:
        raise ValueError("no datacube files to read after shard filtering")

    if not harmonize or len(paths) == 1:
        df = spark.read.parquet(*paths)
    else:
        frames = [spark.read.parquet(p) for p in paths]
        all_cols: dict[str, None] = {}  # ordered set of all column names
        for f in frames:
            for c in f.columns:
                all_cols.setdefault(c)
        harmonized = []
        for f in frames:
            missing = [c for c in all_cols if c not in f.columns]
            # Reference pads missing columns with empty strings and forces
            # 'feature' + added columns to string dtype.
            f = f.select(
                *f.columns, *[F.lit("").alias(c) for c in missing]
            )
            harmonized.append(f)
        df = harmonized[0]
        for f in harmonized[1:]:
            df = df.unionByName(f, allowMissingColumns=True)

    # Region columns: unify to string; null → "None" (matches the
    # reference's dtype unification for multi-file reads).
    for c in REGION_LEVELS:
        if c in df.columns:
            df = df.withColumn(c, F.coalesce(F.col(c).cast("string"), F.lit(NULL_TOKEN)))
    if "feature" in df.columns:
        df = df.withColumn("feature", F.col("feature").cast("string"))
    return df


# ---------------------------------------------------------------------------
# Star-schema convenience loader for the ad-hoc query surface
# ---------------------------------------------------------------------------

STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _probe_parquet_file(path: str) -> str:
    """A footer-probe-able part file: ``path`` itself, or — for a
    multi-file parquet DIRECTORY (the layout every cluster writer
    produces) — its first ``*.parquet`` part.  All parts of one table
    share a schema, so one footer speaks for the directory."""
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            if name.endswith(".parquet"):
                return os.path.join(path, name)
    return path


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) (footer-only inspection).

    NANOS means the INT64 logical type — the encoding
    ``spark.sql.legacy.parquet.nanosAsLong`` applies to.  Arrow ALSO
    reports legacy INT96 timestamps (Spark's default
    ``outputTimestampType``) as ``timestamp[ns]``, but those decode as
    plain TimestampType regardless of the flag, so the physical type
    must gate the answer — classifying INT96 as "nanos" would send the
    caller down the long+DIV re-typing path against a timestamp column.
    Directories are probed via their first part file.
    """
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa

        probe = _probe_parquet_file(path)
        schema = pq.read_schema(probe)
        pq_schema = pq.ParquetFile(probe).schema
        int64_cols = {
            pq_schema.column(i).name
            for i in range(len(pq_schema))
            if pq_schema.column(i).physical_type == "INT64"
        }
        return [
            f.name
            for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
            and f.name in int64_cols
        ]
    except Exception:
        return []


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet table, re-typing TIMESTAMP(NANOS) columns to timestamps.

    With ``spark.sql.legacy.parquet.nanosAsLong`` the scan surfaces nanos as
    long; we truncate to microseconds (integer DIV, matching how micro-
    precision engines read the same files) and cast to TimestampType.
    Building the re-typed frame costs ~100 ms of driver round trips
    (parquet relation + withColumns over every field), paid per call by
    query functions that take (spark, sf_dir), so the frame is
    remembered while the path's stat signature holds (see
    :mod:`slow_tortoise_spark.memo`).
    """
    return remembered(spark, "read_table",
                      lambda: _read_table(spark, path), (path,))


def _read_table(spark: SparkSession, path: str) -> DataFrame:
    # Runtime-settable SESSION confs; done here so callers with a vanilla
    # session (e.g. the external driver) can still read TIMESTAMP(NANOS)
    # files, and so calendar truncation is UTC regardless of the host
    # timezone.  The PROCESS-global UTC pin (os.environ['TZ'] + tzset)
    # deliberately does NOT live here — mutating host state as a side
    # effect of reading a table is wrong; it happens once at session
    # bootstrap (session.pin_process_utc) and at __spark_entry__ import.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(path)
    # One select for all re-typed columns (a withColumn loop would stack
    # one Project node per column and deepen the plan for no reason):
    # TIMESTAMP(NANOS) → truncate to micros; naive NTZ → session-UTC
    # TimestampType, so the query surface sees ONE timestamp type
    # regardless of which encoding the data generator used. Session tz is
    # UTC above, so the NTZ cast is value-identity on the underlying
    # micros, and collected rows stay naive-UTC datetimes — hash-stable
    # vs the DuckDB oracle either way.
    from pyspark.sql import types as T

    casts = {
        c: F.timestamp_micros(F.expr(f"`{c}` DIV 1000"))
        for c in _nanos_timestamp_columns(path)
    }
    casts.update(
        {
            f.name: F.col(f.name).cast("timestamp")
            for f in df.schema.fields
            if isinstance(f.dataType, T.TimestampNTZType)
        }
    )
    if casts:
        df = df.withColumns(casts)
    return df


def read_star_schema(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the TPC-H-ish test tables from ``sf_dir`` and register temp views."""
    out = {}
    for name in STAR_TABLES:
        df = read_table(spark, f"{sf_dir}/{name}.parquet")
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
