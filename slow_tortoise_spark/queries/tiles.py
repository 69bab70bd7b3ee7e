"""Tiling family (G1-G7) on synthesized coordinates."""
from __future__ import annotations

from slow_tortoise_spark.queries._shared import (
    Callable,
    F,
    _DSUM,
    _dsum,
    _t,
)

# Tiling family (G1–G7) on synthesized coordinates
# ---------------------------------------------------------------------------

# Deterministic synthetic coordinates from c_custkey (same formula both
# engines; +0.37 keeps points off tile boundaries).
_LAT_SQL = "(c_custkey % 160) - 80 + 0.37"
_LNG_SQL = "((c_custkey * 7) % 360) - 180 + 0.37"
# ln(tan+sec) form of the mercator y — used verbatim on both sides so the
# floating-point path is identical before the floor.
_TILE_SQL = f"""
  SELECT c_custkey, c_acctbal,
         CAST(floor(({_LNG_SQL} + 180.0) / 360.0 * 16384.0) AS INT) AS x14,
         CAST(floor((1.0 - ln(tan(radians({_LAT_SQL}))
                              + 1.0 / cos(radians({_LAT_SQL}))) / pi())
                    / 2.0 * 16384.0) AS INT) AS y14
  FROM customer
"""


def _tiles14(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    cust.createOrReplaceTempView("customer")
    return spark.sql(_TILE_SQL)


def q_tile_binning(spark, sf_dir):
    """G1: deg2num at zoom 14 as pure column math."""
    return _tiles14(spark, sf_dir).select("c_custkey", "x14", "y14").orderBy(
        "c_custkey"
    )


_Q_TILE_BINNING = f"""
  SELECT c_custkey, x14, y14 FROM ({_TILE_SQL}) ORDER BY c_custkey
"""


def q_tile_rollup(spark, sf_dir):
    """G2–G4: coarsen to zoom 8, owning tile at zoom 2, flat bin index."""
    t = _tiles14(spark, sf_dir)
    out = t.select(
        "c_acctbal",
        F.shiftright("x14", 6).alias("x8"),
        F.shiftright("y14", 6).alias("y8"),
    ).select(
        "c_acctbal",
        F.shiftright("x8", 6).alias("tx"),
        F.shiftright("y8", 6).alias("ty"),
        (
            (F.col("x8") - F.shiftright("x8", 6) * 64)
            + (F.col("y8") - F.shiftright("y8", 6) * 64) * 64
        ).alias("bin"),
    )
    return (
        out.groupBy("tx", "ty", "bin")
        .agg(
            F.count("*").alias("n"),
            _dsum(F.col("c_acctbal")).alias("sum_bal"),
        )
        .orderBy("tx", "ty", "bin")
    )


_Q_TILE_ROLLUP = f"""
  WITH t14 AS ({_TILE_SQL}),
  t8 AS (SELECT c_acctbal, x14 // 64 AS x8, y14 // 64 AS y8 FROM t14)
  SELECT x8 // 64 AS tx, y8 // 64 AS ty,
         (x8 - (x8 // 64) * 64) + (y8 - (y8 // 64) * 64) * 64 AS bin,
         COUNT(*) AS n,
         {_DSUM.format(x='c_acctbal')} AS sum_bal
  FROM t8 GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def q_grid_stats(spark, sf_dir):
    """G7: per-zoom min/max of per-cell aggregates (exploded zooms)."""
    t = _tiles14(spark, sf_dir)
    df = t.withColumn("zoom", F.explode(F.sequence(F.lit(6), F.lit(8))))
    cells = (
        df.select(
            "zoom",
            F.expr("shiftright(x14, 14 - zoom)").alias("cx"),
            F.expr("shiftright(y14, 14 - zoom)").alias("cy"),
            "c_acctbal",
        )
        .groupBy("zoom", "cx", "cy")
        .agg(F.count("*").alias("n"), _dsum(F.col("c_acctbal")).alias("bal"))
    )
    return (
        cells.groupBy("zoom")
        .agg(
            F.min("n").alias("min_n"),
            F.max("n").alias("max_n"),
            F.min("bal").alias("min_bal"),
            F.max("bal").alias("max_bal"),
        )
        .orderBy("zoom")
    )


_Q_GRID_STATS = f"""
  WITH t14 AS ({_TILE_SQL}),
  cells AS (
    SELECT z.zoom,
           x14 // CAST(pow(2, 14 - z.zoom) AS INT) AS cx,
           y14 // CAST(pow(2, 14 - z.zoom) AS INT) AS cy,
           COUNT(*) AS n,
           {_DSUM.format(x='c_acctbal')} AS bal
    FROM t14, (SELECT unnest(generate_series(6, 8)) AS zoom) z
    GROUP BY 1, 2, 3
  )
  SELECT zoom, MIN(n) AS min_n, MAX(n) AS max_n,
         MIN(bal) AS min_bal, MAX(bal) AS max_bal
  FROM cells GROUP BY zoom ORDER BY zoom
"""


# ---------------------------------------------------------------------------
# Catalog entries, merged by catalog.py: name -> (Spark callable, oracle SQL)
# ---------------------------------------------------------------------------

ENTRIES: dict[str, tuple[Callable, str]] = {
    "tile_binning": (q_tile_binning, _Q_TILE_BINNING),
    "tile_rollup": (q_tile_rollup, _Q_TILE_ROLLUP),
    "grid_stats": (q_grid_stats, _Q_GRID_STATS),
}
