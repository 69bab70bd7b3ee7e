"""Query catalog package: one Spark callable + one DuckDB oracle per
operator (SURVEY.md section 2 plus the training-data extensions).

The queries live in per-family modules (star, datacube, tiles, training,
extended, snapshot and the verifier_* modules); each declares its
queries once in a module-level ``ENTRIES`` dict.  ``catalog`` merges
them and builds the four public dicts; which queries form the 50-entry
driver tier is the one tuple ``catalog.DRIVER_CATALOG``.  To add a
query, add one ``ENTRIES`` line in its family module; to change tiers,
edit ``DRIVER_CATALOG`` (see the ``catalog`` docstring).

This package exports the four dicts plus the few query callables and
helpers the driver entry point and the tests import by name.
"""

from __future__ import annotations

from slow_tortoise_spark.queries.catalog import (
    ORACLE_SQL,
    QUERIES,
    VERIFIER_ORACLE_SQL,
    VERIFIER_QUERIES,
)
from slow_tortoise_spark.queries.datacube import (
    q_global_timeseries,
    q_regional_rollup,
    q_temporal_agg_month,
)
from slow_tortoise_spark.queries.star import (
    q_pricing_summary,
    q_semi_join,
    q_top_orders,
)
from slow_tortoise_spark.queries.tiles import q_tile_rollup
from slow_tortoise_spark.queries.training import (
    _hyperplanes,
    q_embedding_near_dups,
)

__all__ = [
    "ORACLE_SQL",
    "QUERIES",
    "VERIFIER_ORACLE_SQL",
    "VERIFIER_QUERIES",
    "_hyperplanes",
    "q_embedding_near_dups",
    "q_global_timeseries",
    "q_pricing_summary",
    "q_regional_rollup",
    "q_semi_join",
    "q_temporal_agg_month",
    "q_tile_rollup",
    "q_top_orders",
]
