"""Datacube data model: the column contract and engine-wide constants.

Semantics derived from the reference's REQUIRED_COLS / REGION_LEVELS
(/root/reference/flows/common.py:20-31) and pipeline constants
(/root/reference/flows/data_pipeline.py:109-134). This module is the single
source of truth for column names and the t_*/s_*_t_* naming convention.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Column contract
# ---------------------------------------------------------------------------

#: Admin region hierarchy, coarsest → finest.
REGION_LEVELS: list[str] = ["country", "admin1", "admin2", "admin3"]

#: Columns every datacube must have after validation.
REQUIRED_COLS: list[str] = [
    "timestamp",
    *REGION_LEVELS,
    "lat",
    "lng",
    "feature",
    "value",
]

#: Columns that survive even when entirely null.
PROTECTED_COLS: list[str] = ["timestamp", "feature", "value"]

#: Spark schema of the canonical (validated) datacube.
DATACUBE_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.LongType(), True),  # epoch milliseconds, UTC
        T.StructField("country", T.StringType(), True),
        T.StructField("admin1", T.StringType(), True),
        T.StructField("admin2", T.StringType(), True),
        T.StructField("admin3", T.StringType(), True),
        T.StructField("lat", T.DoubleType(), True),  # WGS84
        T.StructField("lng", T.DoubleType(), True),
        T.StructField("feature", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
    ]
)

#: Struct type used for slippy-map tile coordinates (z, x, y).
TILE_COORD_TYPE = T.StructType(
    [
        T.StructField("z", T.IntegerType(), False),
        T.StructField("x", T.IntegerType(), False),
        T.StructField("y", T.IntegerType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Engine constants
# ---------------------------------------------------------------------------

#: Fill token for null region / qualifier values. The reference fills nulls
#: with the literal string "None" before grouping so groups keep null keys.
NULL_TOKEN = "None"

#: Delimiter used when concatenating region levels into a region_id.
REGION_ID_DELIMITER = "__"

#: Timestamps at or above this (epoch ms) are invalid and dropped:
#: int64 can't survive a ms→ns conversion beyond this point.
MAX_TIMESTAMP_MS = (2**63 - 1) // 1_000_000

#: Web-mercator tiling geometry (see operators/tiles.py).
MIN_SUBTILE_PRECISION = 6  # the minimum zoom level a subtile can be aggregated to
MAX_SUBTILE_PRECISION = 14  # zoom level at which points are binned into subtiles
LEVEL_DIFF = 6  # zoom difference between a main tile and its grid of bins
MAX_ZOOM = MAX_SUBTILE_PRECISION - LEVEL_DIFF  # coarsest main-tile zoom = 8

#: Supported temporal resolutions.
TIME_RESOLUTIONS = ("month", "year", "all")

#: Supported spatial aggregation functions (A4).
SPATIAL_AGGS = ("sum", "mean", "min", "max", "count")


def temporal_agg_columns(weight_column: str = "") -> list[str]:
    """Names of the value columns produced by temporal aggregation (A1/A3)."""
    cols = ["t_sum", "t_mean"]
    if weight_column:
        cols.append("t_wavg")
    return cols
