"""Datacube validation & normalization (reference ops P1–P9, P11).

Re-expresses the reference's ``validate_and_fix``
(/root/reference/flows/data_pipeline.py:315-374) as a pure
DataFrame → (DataFrame, stats) function built from native Column
expressions, so the whole cleansing pass stays inside whole-stage codegen:

P1  all-null/whitespace column detection   → one single-pass agg
P2  drop those columns (except protected)  → df.drop
P3  value/lat/lng numeric coercion         → cast('double') (null on failure)
P4  qualifier null fill + string cast      → na.fill('None')
P5  timestamp fill + missing counts        → count(when(isnull)) + na.fill
P6  weight coercion, nulls → 0             → cast + na.fill(0.0)
P7  ±inf value → null                      → when(isin(±inf), null)
P8  region '//' sanitization               → regexp_replace
P9  out-of-range timestamp drop            → filter(ts < MAX_TIMESTAMP_MS)

One extra full pass serves both the column-level null scan (P1) and the
missing/invalid counts (P5): a single aggregation over the scan, so the
cost at 100 TB is one map-side-combined pass, no shuffles.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from slow_tortoise_spark.schema import (
    MAX_TIMESTAMP_MS,
    NULL_TOKEN,
    PROTECTED_COLS,
    REGION_LEVELS,
    REQUIRED_COLS,
)


@dataclass
class ValidationStats:
    """Counts surfaced to results.json (reference records these per run)."""

    missing_timestamp: int = 0
    missing_value: int = 0
    invalid_timestamp: int = 0
    dropped_columns: list[str] = field(default_factory=list)
    weight_column: str = ""


def _non_empty_counts(df: DataFrame) -> list:
    """P1 probes: per column, the number of non-(null|blank) values."""
    probes = []
    for c in df.columns:
        col = F.col(c)
        is_empty = col.isNull() | col.cast("string").rlike(r"^\s*$")
        probes.append(F.sum(F.when(is_empty, 0).otherwise(1)).alias(c))
    return probes


def get_null_or_empty_cols(df: DataFrame) -> list[str]:
    """P1: columns whose every value is null or whitespace-only.

    Single aggregation pass: for each column count non-(null|blank) values.
    """
    counts = df.agg(*_non_empty_counts(df)).first()
    return [c for c, n in zip(df.columns, counts) if (n or 0) == 0]


def get_qualifier_columns(df: DataFrame, weight_column: str = "") -> list[str]:
    """P11: qualifier columns = everything minus required minus weight."""
    skip = set(REQUIRED_COLS) | ({weight_column} if weight_column else set())
    return [c for c in df.columns if c not in skip]


def validate_and_fix(
    df: DataFrame,
    weight_column: str = "",
    fill_timestamp: int = 0,
) -> tuple[DataFrame, ValidationStats]:
    """Normalize a raw datacube into the canonical schema.

    Returns the cleaned DataFrame plus counters for the run summary. The
    returned plan is lazy; one counting action (null scan + missing and
    invalid counts) executes eagerly because the reference reports them
    up front.
    """
    stats = ValidationStats(weight_column=weight_column)

    # P1 + P5 counts — one eager aggregate over the raw scan: the null
    # scan of every column, then the missing/invalid counts.  P5 reads the
    # raw timestamp (P2-P4 leave it as is) and the P3-coerced value.
    row = df.agg(
        *_non_empty_counts(df),
        F.sum(F.when(F.col("timestamp").isNull(), 1).otherwise(0)),
        F.sum(F.when(F.col("value").try_cast("double").isNull(), 1).otherwise(0)),
        F.sum(
            F.when(F.col("timestamp") >= F.lit(MAX_TIMESTAMP_MS), 1).otherwise(0)
        ),
    ).first()
    non_empty = row[:len(df.columns)]
    missing_ts, missing_value, invalid_ts = row[len(df.columns):]
    stats.missing_timestamp = int(missing_ts or 0)
    stats.missing_value = int(missing_value or 0)
    stats.invalid_timestamp = int(invalid_ts or 0)

    # P2 — drop fully-empty columns (never the protected trio).
    null_cols = [c for c, n in zip(df.columns, non_empty)
                 if (n or 0) == 0 and c not in PROTECTED_COLS]
    if null_cols:
        df = df.drop(*null_cols)
        stats.dropped_columns = null_cols
    if weight_column and weight_column not in df.columns:
        stats.weight_column = weight_column = ""

    # P3 — numeric coercion; try_cast matches pandas to_numeric(coerce):
    # unparseable strings become null (plain cast throws under ANSI mode).
    df = df.withColumn("value", F.col("value").try_cast("double"))
    for c in ("lat", "lng"):
        if c in df.columns:
            df = df.withColumn(c, F.col(c).try_cast("double"))

    # P4 — qualifier + region columns: cast to string, null → "None".
    # (Groups must keep null keys; the reference pre-fills so pandas groupby
    # doesn't drop them. We fill identically so region_id concat and pivots
    # render missing levels as the literal "None".)
    qualifiers = [
        c
        for c in get_qualifier_columns(df, weight_column)
        if c not in ("timestamp", "value", "lat", "lng")
    ]
    for c in qualifiers + [r for r in REGION_LEVELS if r in df.columns]:
        df = df.withColumn(c, F.coalesce(F.col(c).cast("string"), F.lit(NULL_TOKEN)))

    # P5 — timestamp fill (the counts came with the P1 scan).
    df = df.withColumn(
        "timestamp",
        F.coalesce(F.col("timestamp").try_cast("long"), F.lit(int(fill_timestamp))),
    )

    # P6 — weight column: numeric, null → 0.
    if weight_column:
        df = df.withColumn(
            weight_column,
            F.coalesce(F.col(weight_column).try_cast("double"), F.lit(0.0)),
        )

    # P7 — ±inf breaks mean(); null them out.
    df = df.withColumn(
        "value",
        F.when(F.col("value").isin(float("inf"), float("-inf")), None).otherwise(
            F.col("value")
        ),
    )

    # P8 — '//' inside region names would corrupt output paths.
    for c in REGION_LEVELS:
        if c in df.columns:
            df = df.withColumn(c, F.regexp_replace(F.col(c), "//", ""))

    # P9 — drop rows whose timestamp can't round-trip through ns precision.
    df = df.filter(F.col("timestamp") < F.lit(MAX_TIMESTAMP_MS))

    return df, stats


def mad_outliers(
    df,
    group_cols: list[str],
    value_col: str,
    k: float = 3.0,
):
    """Robust per-group outlier detection via the median absolute
    deviation: a row is an outlier when |x - median| > k * MAD.  Unlike
    mean/stddev z-scores, both statistics are themselves outlier-immune
    — the estimator a data-quality gate wants on heavy-tailed measures
    (value drift, corrupt sensors, price glitches).

    Two grouped aggregations (median, then median of |x - med|), each
    one shuffle at (group) grain with the deviation join flowing
    through the same hash partitioning — Catalyst reuses the
    partitioning, so the second agg does not reshuffle.  Exact
    interpolated ``percentile(0.5)`` keeps the statistic deterministic
    and SQL-replayable (same convention as the percentiles query).

    Returns the input plus (med double, mad double, is_outlier int).
    """
    from pyspark.sql import functions as F

    med = df.groupBy(*group_cols).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("med")
    )
    with_med = df.join(med, group_cols)
    mad = with_med.groupBy(*group_cols).agg(
        F.expr(f"percentile(abs({value_col} - med), 0.5)").alias("mad")
    )
    out = with_med.join(mad, group_cols)
    flag = (
        F.abs(F.col(value_col) - F.col("med")) > F.lit(k) * F.col("mad")
    )
    return out.withColumn("is_outlier", flag.cast("int"))
