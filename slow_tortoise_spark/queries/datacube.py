"""Datacube operator family (A1-A9, R1-R3, V1, P-series) on the events
cube."""
from __future__ import annotations

from slow_tortoise_spark.queries._shared import (
    Callable,
    EVENT_TYPES,
    F,
    _DSUM,
    _EVENTS_CUBE_SQL,
    _dsum,
    _events_cube,
    _t,
    qualifier_timeseries_pivot,
    regional_aggregation_all_levels,
    regional_extrema,
    temporal_aggregation,
)

# ---------------------------------------------------------------------------
# Datacube operator family (A1–A9, R1–R3, V1, P-series) on the events cube
# ---------------------------------------------------------------------------


def q_temporal_agg_month(spark, sf_dir):
    """A1+A2: month truncation + groupby-all-but-value (library operator)."""
    cube = _events_cube(spark, sf_dir)
    t = temporal_aggregation(cube, "month")
    return t.select(
        "feature",
        "country",
        "timestamp",
        F.round("t_sum", 4).alias("t_sum"),
        F.round("t_mean", 6).alias("t_mean"),
    ).orderBy("feature", "country", "timestamp")


_Q_TEMPORAL_AGG_MONTH = f"""
  WITH cube AS ({_EVENTS_CUBE_SQL})
  SELECT feature, country,
         epoch_ms(date_trunc('month', epoch_ms(timestamp))) AS timestamp,
         round(SUM(value), 4) AS t_sum,
         round(AVG(value), 6) AS t_mean
  FROM cube GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def q_temporal_agg_year(spark, sf_dir):
    """A2 year resolution."""
    cube = _events_cube(spark, sf_dir)
    t = temporal_aggregation(cube, "year")
    return t.select(
        "feature", "country", "timestamp",
        F.round("t_sum", 4).alias("t_sum"),
        F.round("t_mean", 6).alias("t_mean"),
    ).orderBy("feature", "country", "timestamp")


_Q_TEMPORAL_AGG_YEAR = f"""
  WITH cube AS ({_EVENTS_CUBE_SQL})
  SELECT feature, country,
         epoch_ms(date_trunc('year', epoch_ms(timestamp))) AS timestamp,
         round(SUM(value), 4) AS t_sum,
         round(AVG(value), 6) AS t_mean
  FROM cube GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def q_temporal_agg_all(spark, sf_dir):
    """A2 'all' resolution: every timestamp collapses to 0."""
    cube = _events_cube(spark, sf_dir)
    t = temporal_aggregation(cube, "all")
    return t.select(
        "feature", "country", "timestamp",
        F.round("t_sum", 4).alias("t_sum"),
        F.round("t_mean", 6).alias("t_mean"),
    ).orderBy("feature", "country")


_Q_TEMPORAL_AGG_ALL = f"""
  WITH cube AS ({_EVENTS_CUBE_SQL})
  SELECT feature, country, CAST(0 AS BIGINT) AS timestamp,
         round(SUM(value), 4) AS t_sum,
         round(AVG(value), 6) AS t_mean
  FROM cube GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_global_timeseries(spark, sf_dir):
    """A4: spatial agg of temporal agg — the flagship datacube artifact."""
    cube = _events_cube(spark, sf_dir)
    t = temporal_aggregation(cube, "month")
    s = t.groupBy("feature", "timestamp").agg(
        F.round(F.sum("t_sum"), 4).alias("s_sum_t_sum"),
        F.round(F.avg("t_sum"), 6).alias("s_mean_t_sum"),
        F.round(F.sum("t_mean"), 4).alias("s_sum_t_mean"),
        F.round(F.avg("t_mean"), 6).alias("s_mean_t_mean"),
        F.count("t_mean").alias("s_count"),
    )
    return s.orderBy("feature", "timestamp")


_Q_GLOBAL_TIMESERIES = f"""
  WITH cube AS ({_EVENTS_CUBE_SQL}),
  t AS (
    SELECT feature, country,
           epoch_ms(date_trunc('month', epoch_ms(timestamp))) AS timestamp,
           SUM(value) AS t_sum, AVG(value) AS t_mean
    FROM cube GROUP BY 1, 2, 3
  )
  SELECT feature, timestamp,
         round(SUM(t_sum), 4) AS s_sum_t_sum,
         round(AVG(t_sum), 6) AS s_mean_t_sum,
         round(SUM(t_mean), 4) AS s_sum_t_mean,
         round(AVG(t_mean), 6) AS s_mean_t_mean,
         COUNT(t_mean) AS s_count
  FROM t GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_weighted_agg(spark, sf_dir):
    """A3/A5: weighted average — price weighted by quantity per flag."""
    li = _t(spark, sf_dir, "lineitem")
    wsum = F.sum(
        (F.col("l_extendedprice") * F.col("l_quantity")).cast("decimal(25,6)")
    ).cast("double")
    qsum = _dsum(F.col("l_quantity"))
    return (
        li.groupBy("l_returnflag")
        .agg(
            (wsum / qsum).alias("t_wavg"),
            qsum.alias("weight_sum"),
        )
        .orderBy("l_returnflag")
    )


_Q_WEIGHTED_AGG = f"""
  SELECT l_returnflag,
         {_DSUM.format(x='l_extendedprice * l_quantity')}
           / {_DSUM.format(x='l_quantity')} AS t_wavg,
         {_DSUM.format(x='l_quantity')} AS weight_sum
  FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_output_summary(spark, sf_dir):
    """A6: per-feature 8-column summary over the all-time temporal agg."""
    cube = _events_cube(spark, sf_dir)
    t = temporal_aggregation(cube, "all")
    exprs = []
    for g, fn in (("min", F.min), ("max", F.max)):
        for tc in ("t_sum", "t_mean"):
            exprs.append(F.round(fn(tc), 4).alias(f"s_{g}_{tc}"))
    exprs.append(F.round(F.sum("t_sum"), 4).alias("s_sum_t_sum"))
    exprs.append(F.round(F.avg("t_sum"), 6).alias("s_mean_t_sum"))
    exprs.append(F.round(F.sum("t_mean"), 4).alias("s_sum_t_mean"))
    exprs.append(F.round(F.avg("t_mean"), 6).alias("s_mean_t_mean"))
    return t.groupBy("feature").agg(*exprs).orderBy("feature")


_Q_OUTPUT_SUMMARY = f"""
  WITH cube AS ({_EVENTS_CUBE_SQL}),
  t AS (
    SELECT feature, country, SUM(value) AS t_sum, AVG(value) AS t_mean
    FROM cube GROUP BY 1, 2
  )
  SELECT feature,
         round(MIN(t_sum), 4) AS s_min_t_sum,
         round(MIN(t_mean), 4) AS s_min_t_mean,
         round(MAX(t_sum), 4) AS s_max_t_sum,
         round(MAX(t_mean), 4) AS s_max_t_mean,
         round(SUM(t_sum), 4) AS s_sum_t_sum,
         round(AVG(t_sum), 6) AS s_mean_t_sum,
         round(SUM(t_mean), 4) AS s_sum_t_mean,
         round(AVG(t_mean), 6) AS s_mean_t_mean
  FROM t GROUP BY feature ORDER BY feature
"""


def q_region_id(spark, sf_dir):
    """P12: region_id concat with '__' delimiter over joined dims."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "c_custkey",
            F.concat_ws("__", F.col("r_name"), F.col("n_name")).alias("region_id"),
        )
        .orderBy("c_custkey")
    )


_Q_REGION_ID = """
  SELECT c_custkey, r_name || '__' || n_name AS region_id
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  ORDER BY c_custkey
"""


def q_regional_rollup(spark, sf_dir):
    """R1: all admin levels in one ROLLUP pass (library operator).

    Hierarchy: region (level 0) → nation (level 1); measure o_totalprice.
    Only the genuinely tiny dims (nation: 25 rows, region: 5 rows — fixed
    size at every sf) are broadcast-hinted; customer scales with the fact
    data, so its join strategy is left to AQE.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    cube = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            F.lit("orders").alias("feature"),
            F.lit(0).cast("long").alias("timestamp"),
            F.col("r_name").alias("country"),
            F.col("n_name").alias("admin1"),
            F.col("o_totalprice").cast("decimal(25,6)").alias("t_sum"),
            F.col("o_totalprice").alias("t_mean"),
        )
    )
    rolled = regional_aggregation_all_levels(cube, aggs=["sum"], max_level=1)
    return rolled.select(
        "level",
        "region_id",
        F.col("s_sum_t_sum").cast("double").alias("total"),
        F.col("s_count").alias("n_orders"),
    ).orderBy("level", "region_id")


_Q_REGIONAL_ROLLUP = f"""
  WITH cube AS (
    SELECT r_name AS country, n_name AS admin1, o_totalprice
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
  )
  SELECT 0 AS level, country AS region_id,
         {_DSUM.format(x='o_totalprice')} AS total, COUNT(*) AS n_orders
  FROM cube GROUP BY country
  UNION ALL
  SELECT 1 AS level, country || '__' || admin1 AS region_id,
         {_DSUM.format(x='o_totalprice')} AS total, COUNT(*) AS n_orders
  FROM cube GROUP BY country, admin1
  ORDER BY level, region_id
"""


def q_regional_timeseries(spark, sf_dir):
    """R2: per-region monthly timeseries (nation × order month).

    nation (25 rows, fixed) is broadcast; customer scales with sf so its
    join is left to AQE (broadcast when it fits, shuffle when it won't).
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("region_id"),
            F.unix_millis(F.date_trunc("month", F.col("o_orderdate"))).alias(
                "timestamp"
            ),
        )
        .agg(
            _dsum(F.col("o_totalprice")).alias("s_sum_t_sum"),
            F.count("*").alias("s_count"),
        )
        .orderBy("region_id", "timestamp")
    )


_Q_REGIONAL_TIMESERIES = f"""
  SELECT n_name AS region_id,
         epoch_ms(date_trunc('month', o_orderdate)) AS timestamp,
         {_DSUM.format(x='o_totalprice')} AS s_sum_t_sum,
         COUNT(*) AS s_count
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_regional_extrema(spark, sf_dir):
    """R3+T1: global min/max rows with ties, capped at 20 (library op)."""
    cube = _events_cube(spark, sf_dir)
    regional = (
        cube.groupBy(
            "feature",
            F.col("country").alias("region_id"),
            (F.col("timestamp") - F.col("timestamp") % 86400000).alias("timestamp"),
        )
        .agg(F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("s_sum_t_sum"))
    )
    ex = regional_extrema(regional, ["s_sum_t_sum"], tie_cap=20)
    return ex.select("feature", "kind", "region_id", "timestamp", "value").orderBy(
        "feature", "kind", "timestamp", "region_id"
    )


_Q_REGIONAL_EXTREMA = f"""
  WITH cube AS ({_EVENTS_CUBE_SQL}),
  regional AS (
    SELECT feature, country AS region_id,
           timestamp - timestamp % 86400000 AS timestamp,
           {_DSUM.format(x='value')} AS value
    FROM cube GROUP BY 1, 2, 3
  ),
  flagged AS (
    SELECT *,
           MIN(value) OVER (PARTITION BY feature) AS _min,
           MAX(value) OVER (PARTITION BY feature) AS _max
    FROM regional
  ),
  hits AS (
    -- independent min/max selections: a value equal to both bounds
    -- (all-equal group) appears under BOTH kinds
    SELECT feature, 'min' AS kind, region_id, timestamp, value
    FROM flagged WHERE value = _min
    UNION ALL
    SELECT feature, 'max' AS kind, region_id, timestamp, value
    FROM flagged WHERE value = _max
  ),
  capped AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY feature, kind
                                 ORDER BY timestamp DESC, region_id) AS _rn
    FROM hits
  )
  SELECT feature, kind, region_id, timestamp, value
  FROM capped WHERE _rn <= 20
  ORDER BY feature, kind, timestamp, region_id
"""


def q_qualifier_pivot(spark, sf_dir):
    """V1: qualifier pivot — event_type values become columns."""
    ev = _t(spark, sf_dir, "events")
    day = (F.unix_millis("ts") - F.unix_millis("ts") % 86400000).alias("timestamp")
    base = ev.select(day, "event_type", "value")
    wide = qualifier_timeseries_pivot(
        base.withColumn("feature", F.lit("events")),
        "event_type",
        "value",
        values=EVENT_TYPES,
        keys=["timestamp"],
    )
    cols = [F.round(F.col(c), 4).alias(c) for c in EVENT_TYPES]
    return wide.select("timestamp", *cols).orderBy("timestamp")


_Q_QUALIFIER_PIVOT = """
  SELECT epoch_ms(ts) - epoch_ms(ts) % 86400000 AS timestamp,
         round(SUM(CASE WHEN event_type = 'click' THEN value END), 4) AS click,
         round(SUM(CASE WHEN event_type = 'error' THEN value END), 4) AS error,
         round(SUM(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase,
         round(SUM(CASE WHEN event_type = 'signup' THEN value END), 4) AS signup,
         round(SUM(CASE WHEN event_type = 'view' THEN value END), 4) AS view
  FROM events GROUP BY 1 ORDER BY 1
"""


def q_qualifier_counts(spark, sf_dir):
    """A8: distinct qualifier-value counts per feature."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.col("event_type").alias("feature"))
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct("props").alias("n_props"),
        )
        .orderBy("feature")
    )


_Q_QUALIFIER_COUNTS = """
  SELECT event_type AS feature,
         COUNT(DISTINCT user_id) AS n_users,
         COUNT(DISTINCT props) AS n_props
  FROM events GROUP BY 1 ORDER BY 1
"""


def q_region_lists(spark, sf_dir):
    """A7: sorted distinct region inventory per feature (as joined string)."""
    cube = _events_cube(spark, sf_dir)
    return (
        cube.groupBy("feature")
        .agg(
            F.array_join(F.array_sort(F.collect_set("country")), ",").alias("regions"),
            F.countDistinct("country").alias("region_count"),
        )
        .orderBy("feature")
    )


_Q_REGION_LISTS = f"""
  WITH cube AS ({_EVENTS_CUBE_SQL})
  SELECT feature,
         string_agg(DISTINCT country, ',' ORDER BY country) AS regions,
         COUNT(DISTINCT country) AS region_count
  FROM cube GROUP BY feature ORDER BY feature
"""


def q_rows_per_feature(spark, sf_dir):
    """A9/S3: row counts per feature."""
    cube = _events_cube(spark, sf_dir)
    return cube.groupBy("feature").agg(F.count("*").alias("n_rows")).orderBy("feature")


_Q_ROWS_PER_FEATURE = f"""
  WITH cube AS ({_EVENTS_CUBE_SQL})
  SELECT feature, COUNT(*) AS n_rows FROM cube GROUP BY feature ORDER BY feature
"""


def q_validate_coercion(spark, sf_dir):
    """P3/P4/P5: try_cast coercion, null fill with 'None', regexp cleanup."""
    ev = _t(spark, sf_dir, "events")
    k_num = F.regexp_extract("props", r"(\d+)", 1).try_cast("double")
    dirty_country = F.when(F.col("user_id") % 7 == 0, None).otherwise(
        F.concat(F.lit("c//"), (F.col("user_id") % 3).cast("string"))
    )
    return ev.select(
        "event_id",
        k_num.alias("k_num"),
        F.coalesce(F.regexp_replace(dirty_country, "//", ""), F.lit("None")).alias(
            "country"
        ),
        F.coalesce(F.col("value").try_cast("double"), F.lit(0.0)).alias("value_filled"),
    ).orderBy("event_id")


_Q_VALIDATE_COERCION = """
  SELECT event_id,
         TRY_CAST(regexp_extract(props, '(\\d+)', 1) AS DOUBLE) AS k_num,
         COALESCE(regexp_replace(
           CASE WHEN user_id % 7 = 0 THEN NULL
                ELSE 'c//' || CAST(user_id % 3 AS VARCHAR) END, '//', '', 'g'),
           'None') AS country,
         COALESCE(TRY_CAST(value AS DOUBLE), 0.0) AS value_filled
  FROM events ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# Catalog entries, merged by catalog.py: name -> (Spark callable, oracle SQL)
# ---------------------------------------------------------------------------

ENTRIES: dict[str, tuple[Callable, str]] = {
    "temporal_agg_month": (q_temporal_agg_month, _Q_TEMPORAL_AGG_MONTH),
    "temporal_agg_year": (q_temporal_agg_year, _Q_TEMPORAL_AGG_YEAR),
    "temporal_agg_all": (q_temporal_agg_all, _Q_TEMPORAL_AGG_ALL),
    "global_timeseries": (q_global_timeseries, _Q_GLOBAL_TIMESERIES),
    "weighted_agg": (q_weighted_agg, _Q_WEIGHTED_AGG),
    "output_summary": (q_output_summary, _Q_OUTPUT_SUMMARY),
    "region_id": (q_region_id, _Q_REGION_ID),
    "regional_rollup": (q_regional_rollup, _Q_REGIONAL_ROLLUP),
    "regional_timeseries": (q_regional_timeseries, _Q_REGIONAL_TIMESERIES),
    "regional_extrema": (q_regional_extrema, _Q_REGIONAL_EXTREMA),
    "qualifier_pivot": (q_qualifier_pivot, _Q_QUALIFIER_PIVOT),
    "qualifier_counts": (q_qualifier_counts, _Q_QUALIFIER_COUNTS),
    "region_lists": (q_region_lists, _Q_REGION_LISTS),
    "rows_per_feature": (q_rows_per_feature, _Q_ROWS_PER_FEATURE),
    "validate_coercion": (q_validate_coercion, _Q_VALIDATE_COERCION),
}
