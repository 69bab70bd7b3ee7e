"""Run-summary aggregates (reference ops A6–A9, R4).

Small driver-facing aggregations: per-feature output summary, distinct
region/qualifier inventories with counts, rows-per-feature counts, and the
qualifier cardinality gate. All single ``groupBy().agg()`` passes; the
distinct-list variants use ``collect_set`` (bounded by the same thresholds
the reference applies — R4 prunes qualifiers whose cardinality exceeds the
cap, so the collected lists stay small by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from slow_tortoise_spark.operators.regional import (
    extract_region_columns,
    join_region_columns,
)


def output_summary(df_temporal_all: DataFrame) -> DataFrame:
    """A6: per-feature min/max/sum/mean of t_sum and t_mean.

    Input is the "all"-resolution temporal aggregation (timestamp == 0).
    Output: feature, s_min_t_sum, s_max_t_sum, s_sum_t_sum, s_mean_t_sum,
    and the same four over t_mean.
    """
    exprs = []
    for g, fn in (("min", F.min), ("max", F.max), ("sum", F.sum), ("mean", F.avg)):
        for t in ("t_sum", "t_mean"):
            exprs.append(fn(t).alias(f"s_{g}_{t}"))
    return df_temporal_all.groupBy("feature").agg(*exprs)


def region_lists(df: DataFrame, level: int) -> DataFrame:
    """A7: per feature, the sorted distinct region_ids at ``level``.

    Sorted for deterministic output; the reference emits JSON arrays of
    unique ids. At very high cardinality swap for a distinct+groupBy
    two-step — the list artifact itself is capped by product semantics.
    """
    df = join_region_columns(df, level)
    return df.groupBy("feature").agg(
        F.array_sort(F.collect_set("region_id")).alias("regions"),
        F.countDistinct("region_id").alias("region_count"),
    )


def qualifier_counts(df: DataFrame, qualifier_columns: list[str]) -> DataFrame:
    """A8: distinct-value counts per qualifier column, per feature.

    One pass: countDistinct for every qualifier in a single agg.
    """
    exprs = [F.countDistinct(c).alias(f"{c}_count") for c in qualifier_columns]
    return df.groupBy("feature").agg(*exprs)


def rows_per_feature(df: DataFrame) -> DataFrame:
    """A9: row counts per feature (gates the raw-CSV passthrough)."""
    return df.groupBy("feature").agg(F.count("*").alias("n_rows"))


def apply_qualifier_count_limit(
    counts: dict[str, int], max_count: int
) -> list[str]:
    """R4 (global form): qualifiers whose distinct-value count is within
    the cap."""
    return [q for q, n in counts.items() if n <= max_count]


def apply_qualifier_thresholds(
    qualifier_map: dict[str, list[str]],
    counts: dict[str, dict[str, int]],
    max_count: int,
) -> tuple[dict[str, list[str]], list[str]]:
    """R4 (per-feature form, the reference's semantics): a qualifier stays
    active for a feature iff that feature's distinct-value count fits the
    cap — so the same qualifier can be broken out for one feature and
    suppressed for another (/root/reference/flows/common.py:218-236,
    pinned by tests/unit/test_apply_qualifier_thresholds.py).

    Returns (per-feature map, list of qualifiers active for ≥1 feature).
    Features absent from ``counts`` are dropped from the map.
    """
    new_map: dict[str, list[str]] = {}
    active: set[str] = set()
    for feature, quals in qualifier_map.items():
        if feature not in counts:
            continue
        cf = counts[feature]
        new_map[feature] = [q for q in quals if q in cf and cf[q] <= max_count]
        active.update(new_map[feature])
    return new_map, sorted(active)


def profile_table(
    df, cols: list[str] | None = None, exact_distinct: bool = True
):
    """ANALYZE-style per-column profile: one output row per column with
    (col_name, n_rows, n_null, n_distinct, min_value, max_value) —
    the stats a warehouse keeps per table, computed in ONE aggregate
    pass and melted via ``stack`` (values stringified so mixed column
    types share a schema).

    ``exact_distinct=True`` uses COUNT(DISTINCT …) — Spark plans the
    multi-distinct aggregate with an Expand (rows × columns), exact but
    heavy at corpus scale; ``False`` swaps in HyperLogLog
    ``approx_count_distinct`` (one pass, mergeable sketches — the
    100 TB default, at the price of losing SQL-oracle value parity).
    """
    from pyspark.sql import functions as F

    cols = list(cols or df.columns)
    aggs = []
    for i, c in enumerate(cols):
        nd = (
            F.countDistinct(F.col(c)) if exact_distinct
            else F.approx_count_distinct(F.col(c))
        )
        aggs += [
            F.count(F.col(c)).alias(f"_nn_{i}"),
            nd.alias(f"_nd_{i}"),
            F.min(F.col(c)).cast("string").alias(f"_mn_{i}"),
            F.max(F.col(c)).cast("string").alias(f"_mx_{i}"),
        ]
    row = df.agg(F.count(F.lit(1)).alias("_rows"), *aggs)
    stacked = ", ".join(
        f"'{c}', _rows, _rows - `_nn_{i}`, `_nd_{i}`, `_mn_{i}`, `_mx_{i}`"
        for i, c in enumerate(cols)
    )
    return row.selectExpr(
        f"stack({len(cols)}, {stacked}) as "
        "(col_name, n_rows, n_null, n_distinct, min_value, max_value)"
    )
