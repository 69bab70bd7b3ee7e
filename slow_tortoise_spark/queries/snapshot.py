"""Snapshot time travel, incremental aggregate snapshots and the
bucketed merge upsert."""
from __future__ import annotations

from slow_tortoise_spark.operators.cachectl import tracked_local_checkpoint
from slow_tortoise_spark.queries._shared import (
    Callable,
    F,
    _t,
)

# Snapshot time travel, driver-checked (round-5 verdict item 7: the
# merge-on-write layer was only ever tested against itself; this gives the
# commit protocol an INDEPENDENT-engine witness).  Two batch commits run
# through the exact foreachBatch merge streaming_upsert uses
# (streaming/pipeline.py _upsert_merge_fn — the streaming wrapper adds only
# the trigger); the query then time-travel-reads version 0 AFTER commit 1
# has rewritten the snapshot and flipped the manifest.  The oracle replays
# commit 0's change set in SQL — so a hash match proves the older version
# is byte-equivalent to an independent replay, i.e. commit 1 touched
# nothing it shouldn't have.
# ---------------------------------------------------------------------------


def q_snapshot_time_travel(spark, sf_dir):
    """Stage a two-commit upsert under a fresh temp root, then read the
    COMMIT-0 snapshot via read_snapshot_at.  Commit 0 inserts every
    third order (version 1); commit 1 updates every sixth (version 2,
    price zeroed) and tombstones every twelfth — so the live view and
    v0 genuinely diverge, and only time travel can reproduce v0.  The
    result is localCheckpoint-ed so the temp root can be removed before
    the driver evaluates the frame."""
    import shutil
    import tempfile

    from slow_tortoise_spark.streaming.pipeline import (
        _upsert_merge_fn,
        read_snapshot_at,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    b0 = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "*", F.lit(1).alias("ver"), F.lit(False).alias("deleted")
    )
    b1 = (
        orders.filter(F.col("o_orderkey") % 6 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.lit(0.0).alias("o_totalprice"),
            F.lit(2).alias("ver"),
            (F.col("o_orderkey") % 12 == 0).alias("deleted"),
        )
    )
    root = tempfile.mkdtemp(prefix="snap_tt_")
    try:
        merge = _upsert_merge_fn(
            spark, root, ["o_orderkey"], ["ver"], "deleted"
        )
        merge(b0, 0)
        merge(b1, 1)
        v0 = read_snapshot_at(spark, root, "v0000000000")
        out = tracked_local_checkpoint(
            v0.select("o_orderkey", "o_custkey", "o_orderstatus",
                      "o_totalprice")
            .orderBy("o_orderkey")
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


_Q_SNAPSHOT_TIME_TRAVEL = """
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 3 = 0
  ORDER BY o_orderkey
"""


# Incremental aggregate snapshot, driver-checked (round-7 verdict item
# 6: the algebraic-state maintenance layer — streaming_agg_snapshot —
# was only ever tested against itself).  Three micro-batch commits,
# each a disjoint third of `orders`, run through the exact foreachBatch
# merge the stream uses (_agg_merge_fn; the streaming wrapper adds only
# the trigger), with one batch REPLAYED mid-sequence to exercise the
# no-double-count contract.  The oracle is DuckDB's one-shot aggregate
# over all of `orders` — a hash match proves three incremental
# (previous snapshot + batch partial) merges plus a replay are
# byte-equivalent to aggregating the whole table at once.  Sums run in
# integer cents: float addition is order-sensitive, bigint addition is
# exact in any merge order, so the equivalence is bit-level.
# ---------------------------------------------------------------------------


def q_agg_snapshot_incremental(spark, sf_dir):
    """Stage three agg-snapshot commits (orders thirds by o_orderkey%3,
    batch 1 replayed once after commit) under a fresh temp root, then
    read the final snapshot: per-status lifetime totals in cents plus
    the maintained _n row count.  localCheckpoint-ed so the temp root
    can be removed before the driver evaluates the frame."""
    import shutil
    import tempfile

    from slow_tortoise_spark.streaming.pipeline import (
        _agg_merge_fn,
        read_snapshot,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    root = tempfile.mkdtemp(prefix="snap_agg_")
    try:
        merge = _agg_merge_fn(spark, root, ["o_orderstatus"], ["cents"])
        for b in range(3):
            merge(orders.filter(F.col("o_orderkey") % 3 == b), b)
            if b == 1:
                # committed replay — must no-op, not double-count
                merge(orders.filter(F.col("o_orderkey") % 3 == 1), 1)
        snap = read_snapshot(spark, root, live_only=False)
        out = tracked_local_checkpoint(
            snap.select(
                "o_orderstatus",
                F.col("cents").alias("total_cents"),
                F.col("_n").alias("n_orders"),
            )
            .orderBy("o_orderstatus")
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


_Q_AGG_SNAPSHOT_INCREMENTAL = """
  SELECT o_orderstatus,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS total_cents,
         COUNT(*) AS n_orders
  FROM orders
  GROUP BY o_orderstatus
  ORDER BY o_orderstatus
"""


# Bucketed merge-on-write, oracle-checked (round-8; closes the last
# snapshot layer that was only ever tested against itself).  Three
# commits run through the exact foreachBatch merge
# streaming_upsert_bucketed uses (_bucketed_merge_fn — the streaming
# wrapper adds only the trigger), with batch 1 REPLAYED after commit to
# exercise the manifest's no-double-apply contract.  Batch 2 is a
# deliberately NARROW change set (keys ≡ 1 mod 100) over 64 buckets, so
# the final read must union rows served by DIFFERENT version
# directories — the bucket-level manifest resolution, not just the
# latest full rewrite.  The oracle replays all three change sets in
# SQL; a hash match proves pruned per-bucket merges + a replay are
# equivalent to the one-shot result.  (No batch-1/batch-2 key overlap
# by construction: k ≡ 1 (mod 100) ∧ k ≡ 0 (mod 6) has no solution —
# 4a+1 ≡ 0 (mod 6) requires an odd multiple of 4.)
# ---------------------------------------------------------------------------


def q_bucketed_merge_upsert(spark, sf_dir):
    """Stage three bucketed-merge commits under a fresh temp root
    (insert thirds → price-zeroing update with tombstones → narrow
    ver-3 price negation, batch 1 replayed once), then read the live
    view via read_bucketed_snapshot.  localCheckpoint-ed so the temp
    root can be removed before the driver evaluates the frame."""
    import shutil
    import tempfile

    from slow_tortoise_spark.streaming.pipeline import (
        _bucketed_merge_fn,
        read_bucketed_snapshot,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    b0 = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "*", F.lit(1).alias("ver"), F.lit(False).alias("deleted")
    )
    b1 = orders.filter(F.col("o_orderkey") % 6 == 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.lit(0.0).alias("o_totalprice"),
        F.lit(2).alias("ver"),
        (F.col("o_orderkey") % 12 == 0).alias("deleted"),
    )
    b2 = orders.filter(F.col("o_orderkey") % 100 == 1).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        (-F.col("o_totalprice")).alias("o_totalprice"),
        F.lit(3).alias("ver"),
        F.lit(False).alias("deleted"),
    )
    root = tempfile.mkdtemp(prefix="snap_bkt_")
    try:
        merge = _bucketed_merge_fn(
            spark, root, ["o_orderkey"], ["ver"], 64, "deleted"
        )
        merge(b0, 0)
        merge(b1, 1)
        merge(b1, 1)  # committed replay — must no-op, not re-merge
        merge(b2, 2)
        live = read_bucketed_snapshot(spark, root, live_only=True)
        out = tracked_local_checkpoint(
            live.select("o_orderkey", "o_custkey", "o_orderstatus",
                        "o_totalprice")
            .orderBy("o_orderkey")
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


_Q_BUCKETED_MERGE_UPSERT = """
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 100 = 1 THEN -o_totalprice
              WHEN o_orderkey % 6 = 0 THEN 0.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders
  WHERE (o_orderkey % 3 = 0 OR o_orderkey % 100 = 1)
    AND o_orderkey % 12 <> 0
  ORDER BY o_orderkey
"""


# ---------------------------------------------------------------------------
# Catalog entries, merged by catalog.py: name -> (Spark callable, oracle SQL)
# ---------------------------------------------------------------------------

ENTRIES: dict[str, tuple[Callable, str]] = {
    "snapshot_time_travel": (q_snapshot_time_travel, _Q_SNAPSHOT_TIME_TRAVEL),
    "agg_snapshot_incremental": (
        q_agg_snapshot_incremental, _Q_AGG_SNAPSHOT_INCREMENTAL,
    ),
    "bucketed_merge_upsert": (q_bucketed_merge_upsert, _Q_BUCKETED_MERGE_UPSERT),
}
