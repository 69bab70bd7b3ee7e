"""Query catalog: every operator from SURVEY.md §2 (plus the training-data
extensions) expressed as a (spark_query, oracle_sql) pair over the
synthetic star-schema tables in /root/testdata.

Each ``q_*`` function takes (spark, sf_dir) and returns a DataFrame; the
matching SQL string in ``ORACLE_SQL`` computes the same result in DuckDB
(tables pre-registered as views). Column names are aliased identically on
both sides.

Float determinism rules (sum order differs between engines, so raw
double sums can differ in the low bits):

* money-scale sums (lineitem/orders) → ``SUM(CAST(x AS DECIMAL(25,6)))``
  then one cast to double: decimal addition is exact, hence
  order-independent and bit-identical across engines;
* small/bounded sums (events values, 64-dim dot products) → double math
  plus ``round(…, 4..6)``: the attainable error (≲1e-10) is many orders
  below the rounding grid;
* min/max/count → naturally exact.

The datacube-operator queries (temporal/spatial/regional/tiles) map the
``events`` table onto the datacube shape: ts→timestamp (epoch ms),
event_type→feature, a user_id bucket→country, value→value.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from slow_tortoise_spark.operators.dedup import (
    jaccard_pairs,
    minhash_lsh_candidates,
    minhash_signature,
    simhash16,
)
from slow_tortoise_spark.operators.extrema import regional_extrema
from slow_tortoise_spark.operators.pivot import qualifier_timeseries_pivot
from slow_tortoise_spark.operators.regional import regional_aggregation_all_levels
from slow_tortoise_spark.operators.similarity import (
    brute_force_topk,
    build_ivf_index,
    ivf_topk,
)
from slow_tortoise_spark.operators.temporal import temporal_aggregation
from slow_tortoise_spark.operators.text import language_id, fingerprint
from slow_tortoise_spark.sources.reader import read_table

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, f"{sf_dir}/{name}.parquet")


def _events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → datacube mapping shared by the datacube-operator queries."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.unix_millis("ts").alias("timestamp"),
        F.concat(F.lit("u"), (F.col("user_id") % 10).cast("string")).alias("country"),
        F.col("event_type").alias("feature"),
        F.col("value"),
    )


_EVENTS_CUBE_SQL = """
  SELECT epoch_ms(ts) AS timestamp,
         'u' || CAST(user_id % 10 AS VARCHAR) AS country,
         event_type AS feature, value
  FROM events
"""

# Exact decimal sum, then a single deterministic conversion to double.
_DSUM = "CAST(SUM(CAST({x} AS DECIMAL(25,6))) AS DOUBLE)"


def _dsum(col):
    return F.sum(col.cast("decimal(25,6)")).cast("double")


