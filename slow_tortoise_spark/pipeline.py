"""Batch pipeline orchestrator — the reference's Prefect DAG collapsed
into one plain Python driver function (SURVEY.md §3: the whole Prefect
layer is replaced by Catalyst planning + explicit cache()/unpersist()).

Dataflow spine (matches /root/reference/flows/data_pipeline.py:977-1137):

    read → validate_and_fix → one per-feature count action (row guard,
      rows per feature, qualifier counts)
    → [all-time summary, raw passthrough, region/qualifier lists]
    → for time_res in (month, year):
        temporal_aggregation → tiles + grid stats, global timeseries,
        regional rollups, extrema, qualifier pivots
    → output summary → results.json

Caching policy: the validated cube feeds every branch → cache it; each
temporal aggregate feeds 4+ branches → cache. Artifact sinks do not run
one after another on the driver thread: each is queued on a driver pool
of ``defaultParallelism`` threads, so their Spark jobs overlap with one
another and with the eager decision actions (the per-feature counts, the
approximate group count, extrema collects) that stay on the driver
thread.  The all-time summary (temporal_aggregation("all") → output
summary) is queued on the same pool before any sink, so it overlaps
the whole run instead of running after the last sink; each
resolution queues its tile branch first, so its longest sink starts
earliest.  A resolution's cached frames are released once its queued
sinks have drained.  On every path, errors included, the run cancels or
waits for its queued sinks and releases every frame it cached.  At
100 TB replace cache() with a checkpoint to fast storage if executor
memory can't hold the working set.
"""

from __future__ import annotations

from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from slow_tortoise_spark.operators.extrema import regional_extrema
from slow_tortoise_spark.operators.pivot import qualifier_timeseries_pivot
from slow_tortoise_spark.operators.regional import (
    extract_region_columns,
    regional_aggregation_all_levels,
)
from slow_tortoise_spark.operators.spatial import global_timeseries
from slow_tortoise_spark.operators.summary import (
    apply_qualifier_thresholds,
    output_summary,
    qualifier_counts,
    rows_per_feature,
)
from slow_tortoise_spark.operators.temporal import temporal_aggregation
from slow_tortoise_spark.operators.tiles import (
    grid_stats,
    subtile_aggregation,
    tiles_all_levels,
)
from slow_tortoise_spark.operators.validate import (
    get_qualifier_columns,
    validate_and_fix,
)
from slow_tortoise_spark.sinks.writers import (
    WRITE_TYPES,
    write_grouped_csv,
    write_grouped_json,
    write_json,
    write_tiles,
)
from slow_tortoise_spark.sources.reader import read_datacube


@dataclass
class PipelineParams:
    """Mirrors the reference flow parameters that affect semantics."""

    data_id: str
    run_id: str
    data_paths: list[str]
    dest_root: str = "/tmp/slow_tortoise_out"
    dest_type: str = "file"  # file | s3 | null
    weight_column: str = ""
    fill_timestamp: int = 0
    raw_count_threshold: int = 10_000
    qualifier_max_count: int = 10_000
    # R2 gating: qualifiers join regional timeseries only up to this admin
    # level and only when their cardinality fits the cap.
    regional_timeseries_max_level: int = 1
    regional_timeseries_count: int = 100
    time_resolutions: tuple[str, ...] = ("month", "year")
    compute_tiles: bool = True
    # Reference OutputTasks selection (data_pipeline.py:138-143): None →
    # run every family; otherwise only the named ones run. Valid names:
    # compute_global_timeseries, compute_regional_stats,
    # compute_regional_timeseries, compute_regional_aggregation,
    # compute_tiles. results.json is recorded only on full runs, like the
    # reference's record_results gating (data_pipeline.py:264-276).
    selected_output_tasks: tuple[str, ...] | None = None
    # "files": one protobuf object per tile (reference layout).
    # "bundles": one bundle object + JSON index per partition — the scale
    # path for object stores (the reference's per-tile layout was
    # upload-bound at ~400k objects/precision-15).
    # "auto" (default): bundles when the tile-count estimate exceeds
    # sink_bundle_threshold, reference layout otherwise — small runs keep
    # byte-for-byte reference parity, large runs never hit the
    # object-store upload wall.
    tile_sink: str = "auto"
    # reference save_tile(debug=True): human-readable .txt tiles.
    tile_debug: bool = False
    # "files": one CSV object per group (reference layout). "bundles":
    # pack the per-REGION timeseries family (the many-small-files hot
    # spot: one CSV per (feature, level, region)) into one bundle +
    # JSON index per partition — O(partitions) store objects.
    # "auto" (default): decided per run from an approx distinct-group
    # count against sink_bundle_threshold, like tile_sink.
    csv_sink: str = "auto"
    # group/tile count above which "auto" sinks switch to bundles. The
    # default keeps every reference-scale fixture on the per-file layout
    # while a production-scale run (the reference's ~400k-object tiling
    # anecdote) bundles.
    sink_bundle_threshold: int = 10_000
    # When set, the reused intermediates (validated cube, per-resolution
    # temporal aggregates, regional rollup) are CHECKPOINTED to this
    # directory instead of cache()d: lineage truncates and the working
    # set lives on (fast) storage rather than executor memory — the
    # 100 TB knob SCALE.md describes for when the cube outgrows the
    # cluster's cache capacity. Empty string → plain cache().
    checkpoint_dir: str = ""
    extra_writer_args: dict = field(default_factory=dict)


class _RunScope:
    """One pipeline run's driver-side resources: the thread pool its
    artifact sinks run on and the frames it cached.  ``close`` runs on
    every path, errors included: it cancels queued sinks, waits for
    running ones and unpersists every frame still cached."""

    def __init__(self, spark: SparkSession, checkpoint_dir: str):
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        # Sink jobs are small (per-job overhead, not data, bounds them),
        # and Spark's FIFO scheduler runs jobs from several threads at
        # once while none of them fills the cores: one sink per core.
        self.pool = ThreadPoolExecutor(
            max_workers=spark.sparkContext.defaultParallelism
        )
        self.pending: list[Future] = []
        self.cached: list = []

    def sink(self, fn, *args, **kwargs) -> Future:
        """Queue ``fn(*args, **kwargs)`` on the pool.  The target is
        wrapped here, on the calling thread, so the sink's jobs carry the
        caller's job group, local properties and tags as they are now."""
        future = self.pool.submit(
            inheritable_thread_target(self.spark)(fn), *args, **kwargs
        )
        self.pending.append(future)
        return future

    def drain(self) -> None:
        """Wait for every queued sink; raise the first failure in queue
        order (``close`` then cancels the rest)."""
        while self.pending:
            self.pending.pop(0).result()

    def persist(self, frame):
        """Cache ``frame`` and build the cache now, on the calling thread,
        or checkpoint it eagerly when the run has a checkpoint dir
        (checkpointed frames need no unpersist: nothing is pinned in
        executor memory).  Built here, a cache costs one job: sinks that
        first read it concurrently would each submit a job to build it."""
        if self.checkpoint_dir:
            return frame.checkpoint(eager=True)
        self.cached.append(frame.cache())
        # the job adaptive execution runs for a cache's first reader
        self.spark._jsparkSession.sharedState().cacheManager() \
            .lookupCachedData(frame._jdf).get().cachedRepresentation() \
            .cacheBuilder().cachedColumnBuffers().count()
        return frame

    def release_since(self, mark: int) -> None:
        """Unpersist the frames cached after the first ``mark``."""
        while len(self.cached) > mark:
            self.cached.pop().unpersist()

    def close(self) -> None:
        self.pool.shutdown(wait=True, cancel_futures=True)
        self.release_since(0)


def run_pipeline(spark: SparkSession, params: PipelineParams) -> dict[str, Any]:
    """Execute the full artifact pipeline; returns the run summary dict."""
    run = _RunScope(spark, params.checkpoint_dir)
    try:
        return _run_pipeline(spark, params, run)
    finally:
        run.close()


def _all_time_summary(df, weight_column: str) -> list[dict[str, Any]]:
    """A6: the all-time per-feature summary rows of results.json."""
    t_all = temporal_aggregation(df, "all", weight_column=weight_column)
    return [r.asDict() for r in output_summary(t_all).collect()]


def _run_pipeline(
    spark: SparkSession, params: PipelineParams, run: _RunScope
) -> dict[str, Any]:
    writer = WRITE_TYPES[params.dest_type](
        params.dest_root, **params.extra_writer_args
    )
    prefix = f"{params.data_id}/{params.run_id}"
    results: dict[str, Any] = {"data_id": params.data_id, "run_id": params.run_id}

    all_tasks = (
        "compute_global_timeseries",
        "compute_regional_stats",
        "compute_regional_timeseries",
        "compute_regional_aggregation",
        "compute_tiles",
    )
    selected = set(params.selected_output_tasks or all_tasks)
    unknown = selected - set(all_tasks)
    if unknown:
        raise ValueError(f"unknown output tasks: {sorted(unknown)}")
    full_run = selected == set(all_tasks)

    def task_on(name: str) -> bool:
        return name in selected

    if params.checkpoint_dir:
        spark.sparkContext.setCheckpointDir(params.checkpoint_dir)

    raw = read_datacube(spark, params.data_paths)
    df, stats = validate_and_fix(
        raw, weight_column=params.weight_column, fill_timestamp=params.fill_timestamp
    )
    df = run.persist(df)

    all_qualifiers = [
        c
        for c in get_qualifier_columns(df, stats.weight_column)
        if c not in ("timestamp", "value", "lat", "lng")
        and c not in extract_region_columns(df)
    ]
    # One action answers the row-count guard (S3), the rows per feature
    # (A9) and the per-feature qualifier counts (A8): the two aggregates
    # are unioned, not joined, so each keeps the row order it has alone
    # (results.json lists features in that order) and a union adds no
    # shuffle.
    per_feature = rows_per_feature(df)
    if all_qualifiers:
        counts = qualifier_counts(df, all_qualifiers)
        per_feature = per_feature.unionByName(counts, allowMissingColumns=True)
    per_feature = per_feature.collect()
    feature_rows = {r["feature"]: r["n_rows"] for r in per_feature
                    if r["n_rows"] is not None}
    count_rows = [r for r in per_feature if r["n_rows"] is None]
    if not feature_rows:
        raise ValueError("datacube is empty — nothing to process")
    results["rows"] = sum(feature_rows.values())
    results["validation"] = stats.__dict__
    weight = stats.weight_column
    # All-time summary (A6): queued before any sink, so it overlaps the
    # whole run.  Queued after the per-feature action, not beside it: the
    # row order of an aggregate collected while other jobs run is not
    # stable, and results.json lists features in that order.
    summary = run.sink(_all_time_summary, df, weight)

    qualifiers: list[str] = []
    # Qualifier cardinality gate (R4) — PER FEATURE, matching the
    # reference: a qualifier can stay broken out for one feature while
    # suppressed for another whose cardinality blows the cap. The counts
    # feed the gate and the qualifier_counts.json artifacts below.
    qualifier_map: dict[str, list[str]] = {}
    feature_counts: dict[str, dict[str, int]] = {}
    if all_qualifiers:
        feature_counts = {
            r["feature"]: {
                q: int(r[f"{q}_count"] or 0) for q in all_qualifiers
            }
            for r in count_rows
        }
        qualifier_map, qualifiers = apply_qualifier_thresholds(
            {f: list(all_qualifiers) for f in feature_counts},
            feature_counts,
            params.qualifier_max_count,
        )
        results["qualifier_counts"] = feature_counts

    def _active_features(q: str, extra_cap: int | None = None) -> list[str]:
        """Features for which qualifier ``q`` passed the R4 gate (and,
        when ``extra_cap`` is given, whose count also fits that cap —
        the R2 timeseries gating)."""
        feats = [f for f, qs in qualifier_map.items() if q in qs]
        if extra_cap is not None:
            feats = [f for f in feats if feature_counts[f][q] <= extra_cap]
        return feats

    # Raw passthrough for small features (S7).
    small = [f for f, n in feature_rows.items() if n <= params.raw_count_threshold]
    if small:
        run.sink(
            write_grouped_csv,
            df.filter(F.col("feature").isin(small)),
            group_cols=["feature"],
            path_fn=lambda k: f"{prefix}/raw/{k['feature']}/raw.csv",
            writer=writer,
            sort_cols=["timestamp"],
        )
    results["rows_per_feature"] = feature_rows

    # Region + qualifier inventories (A7/A8) → the reference's raw-info
    # artifact family (flows/data_pipeline.py:761-845:
    # raw/{feature}/info/{region_lists,qualifiers/*,qualifier_counts}.json),
    # written executor-side: a single feature's distinct region set can
    # reach millions of ids at scale, so the lists are never collected to
    # the driver — each feature's distinct rows form one group of the sink's
    # group walker, and the task that holds it writes the JSON directly.
    region_cols = extract_region_columns(df)
    from slow_tortoise_spark.operators.regional import join_region_columns
    from slow_tortoise_spark.schema import REGION_LEVELS

    if region_cols:
        parts = [
            join_region_columns(df, level)
            .select("feature", F.lit(level).alias("level"), "region_id")
            .distinct()
            for level in range(len(region_cols))
        ]
        all_regions = parts[0]
        for p in parts[1:]:
            all_regions = all_regions.unionByName(p)

        def region_payload(pdf):
            lists = {r: [] for r in REGION_LEVELS}
            for lv, g in pdf.groupby("level"):
                lists[REGION_LEVELS[int(lv)]] = sorted(g["region_id"].tolist())
            return lists

        run.sink(
            write_grouped_json,
            all_regions,
            group_cols=["feature"],
            path_fn=lambda k: f"{prefix}/raw/{k['feature']}/info/region_lists.json",
            writer=writer,
            payload_fn=region_payload,
        )
    # Value lists for EVERY detected qualifier (the cardinality cap gates
    # only the aggregation breakouts, not the inventories — reference
    # record_qualifier_lists writes all of them).
    for q in all_qualifiers:
        run.sink(
            write_grouped_json,
            df.select("feature", q).distinct(),
            group_cols=["feature"],
            path_fn=lambda k, qq=q: (
                f"{prefix}/raw/{k['feature']}/info/qualifiers/{qq}.json"
            ),
            writer=writer,
            payload_fn=lambda pdf, qq=q: sorted(
                v for v in pdf[qq].tolist() if v is not None
            ),
        )
    for r in count_rows:
        write_json(
            {
                "thresholds": {
                    "max_count": params.qualifier_max_count,
                    "regional_timeseries_count": params.regional_timeseries_count,
                },
                "counts": {q: int(r[f"{q}_count"] or 0) for q in all_qualifiers},
            },
            f"{prefix}/raw/{r['feature']}/info/qualifier_counts.json",
            writer,
        )

    agg_cols = ["s_sum_t_sum", "s_mean_t_sum", "s_sum_t_mean", "s_mean_t_mean"]

    for time_res in params.time_resolutions:
        mark = len(run.cached)
        n_tiles: Future | None = None
        t = run.persist(temporal_aggregation(df, time_res, weight_column=weight))

        # Tiling family (G5–G8) — only when coordinates exist.  Queued
        # first: the tile sink is the resolution's longest.
        if (task_on("compute_tiles") and params.compute_tiles
                and "lat" in df.columns and "lng" in df.columns):
            sub = run.persist(subtile_aggregation(t))
            n_subtiles = sub.count()
            tile_mode = params.tile_sink
            if tile_mode == "auto":
                # max-precision subtile rows upper-bound the finest
                # level's tile count — the dominant share of the tile
                # tree (each coarser zoom has ~1/4 as many)
                tile_mode = ("bundles"
                             if n_subtiles > params.sink_bundle_threshold
                             else "files")
            if n_subtiles > 0:
                tiles = tiles_all_levels(sub)
                ext = ".txt" if params.tile_debug else ".tile"
                if tile_mode == "bundles":
                    from slow_tortoise_spark.sinks.writers import (
                        write_tile_bundles,
                    )

                    n_tiles = run.sink(
                        write_tile_bundles,
                        tiles,
                        bundle_path_fn=lambda pid, tr=time_res: (
                            f"{prefix}/tiles/{tr}/bundle-{pid:05d}"
                        ),
                        writer=writer,
                    )
                else:
                    n_tiles = run.sink(
                        write_tiles,
                        tiles,
                        path_fn=lambda r, tr=time_res, ex=ext: (
                            f"{prefix}/tiles/{tr}/{r['feature']}/"
                            f"{r['timestamp']}-{r['tile']['z']}-{r['tile']['x']}-"
                            f"{r['tile']['y']}{ex}"
                        ),
                        writer=writer,
                        debug=params.tile_debug,
                    )
                # the key takes its place in results.json now; the count
                # replaces the future once the resolution's sinks drain
                results[f"tiles_{time_res}"] = n_tiles
                gs = grid_stats(sub)
                run.sink(
                    write_grouped_csv,
                    gs,
                    group_cols=["feature", "timestamp"],
                    path_fn=lambda k, tr=time_res: (
                        f"{prefix}/stats/{tr}/{k['feature']}/{k['timestamp']}.csv"
                    ),
                    writer=writer,
                    sort_cols=["zoom"],
                )

        # Global timeseries CSV per feature.
        if task_on("compute_global_timeseries"):
            ts = global_timeseries(t, weight_column=weight)
            run.sink(
                write_grouped_csv,
                ts,
                group_cols=["feature"],
                path_fn=lambda k, tr=time_res: f"{prefix}/timeseries/{tr}/{k['feature']}/global.csv",
                writer=writer,
                sort_cols=["timestamp"],
            )

        # Regional families share the cached all-levels rollup.
        need_regional = region_cols and (
            task_on("compute_regional_aggregation")
            or task_on("compute_regional_timeseries")
            or task_on("compute_regional_stats")
        )
        if need_regional:
            regional = run.persist(regional_aggregation_all_levels(
                t, weight_column=weight
            ))
        if need_regional and task_on("compute_regional_aggregation"):
            # one CSV per (feature, level, timestamp)
            run.sink(
                write_grouped_csv,
                regional.withColumnRenamed("region_id", "id"),
                group_cols=["feature", "level", "timestamp"],
                path_fn=lambda k, tr=time_res: (
                    f"{prefix}/regional/{tr}/{k['feature']}/level-{k['level']}/"
                    f"{k['timestamp']}.csv"
                ),
                writer=writer,
                sort_cols=["id"],
            )
            # R1 per-qualifier breakdowns: one CSV per (feature, level,
            # timestamp, qualifier column) with columns (id, qualifier,
            # aggs) — reference data_pipeline.py:554-586 loops levels ×
            # qualifiers as separate Dask aggregations; here each
            # qualifier is one extra single-shuffle ROLLUP.
            for q in qualifiers:
                feats = _active_features(q)
                if not feats:
                    continue
                # Null-qualifier rows are excluded from the breakout —
                # the reference's pandas groupby(dropna=True) semantics.
                # Post-validate this is a no-op (P4 fills nulls with the
                # string "None"), but the rollup's grouping_id would
                # otherwise keep real-NULL groups for unvalidated input.
                rolled_q = regional_aggregation_all_levels(
                    t.filter(F.col("feature").isin(feats)
                             & F.col(q).isNotNull()),
                    weight_column=weight,
                    qualifier=q,
                )
                run.sink(
                    write_grouped_csv,
                    rolled_q.withColumnRenamed("region_id", "id")
                    .withColumnRenamed(q, "qualifier"),
                    group_cols=["feature", "level", "timestamp"],
                    path_fn=lambda k, tr=time_res, qq=q: (
                        f"{prefix}/regional/{tr}/{k['feature']}/"
                        f"level-{k['level']}/qualifiers/{qq}/"
                        f"{k['timestamp']}.csv"
                    ),
                    writer=writer,
                    sort_cols=["id", "qualifier"],
                )
        if need_regional and task_on("compute_regional_timeseries"):
            # R2: per-region timeseries — one CSV per (feature, level,
            # region), rows over timestamps; qualifier breakdowns only for
            # levels ≤ regional_timeseries_max_level and qualifiers whose
            # cardinality fits regional_timeseries_count.
            csv_mode = params.csv_sink
            if csv_mode == "auto":
                # one cheap pass over the CACHED rollup: HLL distinct of
                # the group key ≈ number of per-region CSV objects the
                # files layout would create
                n_groups = regional.agg(
                    F.approx_count_distinct(
                        F.concat_ws("|", "feature", "level", "region_id")
                    ).alias("n")
                ).first()["n"]
                csv_mode = ("bundles" if n_groups > params.sink_bundle_threshold
                            else "files")
            if csv_mode == "bundles":
                from slow_tortoise_spark.sinks.writers import (
                    write_grouped_csv_bundles,
                )

                run.sink(
                    write_grouped_csv_bundles,
                    regional.withColumnRenamed("region_id", "id"),
                    group_cols=["feature", "level", "id"],
                    key_fn=lambda k, tr=time_res: (
                        f"{prefix}/regional-timeseries/{tr}/{k['feature']}/"
                        f"level-{k['level']}/{k['id']}.csv"
                    ),
                    bundle_path_fn=lambda pid, tr=time_res: (
                        f"{prefix}/regional-timeseries/{tr}/bundle-{pid:05d}"
                    ),
                    writer=writer,
                    sort_cols=["timestamp"],
                )
            else:
                run.sink(
                    write_grouped_csv,
                    regional.withColumnRenamed("region_id", "id"),
                    group_cols=["feature", "level", "id"],
                    path_fn=lambda k, tr=time_res: (
                        f"{prefix}/regional-timeseries/{tr}/{k['feature']}/"
                        f"level-{k['level']}/{k['id']}.csv"
                    ),
                    writer=writer,
                    sort_cols=["timestamp"],
                )
            ts_max_level = min(
                params.regional_timeseries_max_level, len(region_cols) - 1
            )
            for q in qualifiers:
                ts_feats = _active_features(
                    q, extra_cap=params.regional_timeseries_count
                )
                if not ts_feats:
                    continue
                # one qualifier ROLLUP covers every gated level in a
                # single shuffle (the reference loops levels × qualifiers
                # as separate aggregations)
                rq = regional_aggregation_all_levels(
                    t.filter(F.col("feature").isin(ts_feats)
                             & F.col(q).isNotNull()),  # dropna parity, see above
                    weight_column=weight,
                    qualifier=q,
                    max_level=ts_max_level,
                )
                run.sink(
                    write_grouped_csv,
                    rq.withColumnRenamed("region_id", "id"),
                    group_cols=["feature", "level", "id", q],
                    path_fn=lambda k, tr=time_res, qq=q: (
                        f"{prefix}/regional-timeseries/{tr}/{k['feature']}/"
                        f"level-{k['level']}/qualifiers/{qq}/{k[qq]}/"
                        f"{k['id']}.csv"
                    ),
                    writer=writer,
                    sort_cols=["timestamp"],
                )

        if need_regional and task_on("compute_regional_stats"):
            # Extrema per admin level (R3) — the reference emits one stats
            # artifact per (feature, region level), not one across levels
            # (flows/common.py:500-541); level-0 totals would otherwise
            # dominate every max.
            extrema = regional_extrema(
                regional,
                [c for c in agg_cols if c in regional.columns],
                keys=["feature", "level"],
            )
            # ≤ 20 ties × 2 kinds × 4 cols × features × levels — safe to
            # collect.
            ex = extrema.collect()
            by_feat_level: dict[tuple, dict] = {}
            for r in ex:
                node = by_feat_level.setdefault(
                    (r["feature"], r["level"]), {"min": {}, "max": {}}
                )
                node[r["kind"]].setdefault(r["agg_col"], []).append(
                    {"region_id": r["region_id"], "timestamp": r["timestamp"],
                     "value": r["value"]}
                )
            for (feat, level), node in by_feat_level.items():
                write_json(
                    node,
                    f"{prefix}/extrema/{time_res}/{feat}/level-{level}.json",
                    writer,
                )

        # Qualifier timeseries pivots (V1), one CSV per (feature, agg col).
        # Derived from the cached full temporal aggregate so the s_* stats
        # aggregate over the fine (all-column) temporal groups — the
        # reference's semantics — and no extra scan of the raw cube runs.
        # Family-gated with the global timeseries (the reference emits its
        # qualifier timeseries from compute_global_timeseries).
        from slow_tortoise_spark.operators.spatial import spatial_aggregation

        for q in (qualifiers if task_on("compute_global_timeseries") else []):
            feats = _active_features(q)
            if not feats:
                continue
            # cached: the per-agg-column pivot loop below would otherwise
            # recompute this spatial aggregation once per column
            sq = run.persist(spatial_aggregation(
                t.filter(F.col("feature").isin(feats)),
                keys=["feature", "timestamp", q], aggs=["sum", "mean"],
                weight_column=weight,
            ))
            for agg_col in [c for c in sq.columns
                            if c.startswith("s_") and c != "s_count"] + ["s_count"]:
                wide = qualifier_timeseries_pivot(sq, q, agg_col)
                run.sink(
                    write_grouped_csv,
                    wide,
                    group_cols=["feature"],
                    path_fn=lambda k, tr=time_res, qq=q, ac=agg_col: (
                        f"{prefix}/qualifiers/{tr}/{k['feature']}/{qq}/{ac}.csv"
                    ),
                    writer=writer,
                    sort_cols=["timestamp"],
                )

        run.drain()
        if n_tiles is not None:
            results[f"tiles_{time_res}"] = n_tiles.result()
        run.release_since(mark)

    run.drain()
    results["output_agg_values"] = summary.result()
    # results.json only on full runs — partial (selected-task) runs must
    # not clobber a complete run's record (reference record_results
    # gating, data_pipeline.py:264-276, 1140-1141).
    if full_run:
        write_json(results, f"{prefix}/results.json", writer)
    return results
