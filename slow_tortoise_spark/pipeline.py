"""Batch pipeline orchestrator — the reference's Prefect DAG collapsed
into one plain Python driver function (SURVEY.md §3: the whole Prefect
layer is replaced by Catalyst planning + explicit caches that a cachectl
scope releases).

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
another and with the eager decision actions (the per-feature counts,
extrema collects) that stay on the driver thread.  The all-time summary
(temporal_aggregation("all") → output summary) is queued on the same
pool before any sink, so it overlaps the whole run instead of running
after the last sink; each resolution queues its tile branch first, so
its longest sink starts earliest.

The run's frames belong to a cachectl scope, and each resolution's to a
scope nested in it that exits once the resolution's sinks have settled.
On every path, errors included, queued sinks are cancelled or waited
for before a scope releases the frames they read.  When the working set
outgrows executor memory (the 100 TB shape), ``checkpoint_dir`` makes
the same frames parquet checkpoints under that directory, deleted when
their scope exits.

Sink layout: the tile and per-region timeseries families are written
one object per artifact (the reference layout) up to ``BUNDLE_THRESHOLD``
artifacts and bundled above it; the counts come from cache builds the run
makes anyway (the subtile rows, the region inventory), so the choice
costs no job.  The layout is one argument of the sink, and a bundle
entry is the per-file artifact: its index key is the path it would have
had, and its bytes are that file's bytes.
"""

from __future__ import annotations

from concurrent.futures import Future, ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from slow_tortoise_spark.operators.cachectl import (
    Scope,
    row_count,
    tracked_cache,
    tracked_local_checkpoint,
)
from slow_tortoise_spark.operators.extrema import regional_extrema
from slow_tortoise_spark.operators.pivot import qualifier_timeseries_pivot
from slow_tortoise_spark.operators.regional import (
    extract_region_columns,
    join_region_columns,
    regional_aggregation_all_levels,
)
from slow_tortoise_spark.operators.spatial import (
    global_timeseries,
    spatial_aggregation,
)
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
from slow_tortoise_spark.schema import REGION_LEVELS
from slow_tortoise_spark.sinks.writers import (
    WRITE_TYPES,
    write_grouped_csv,
    write_grouped_json,
    write_json,
    write_tiles,
)
from slow_tortoise_spark.sources.reader import read_datacube

#: Past this many artifacts a family is written as one bundle + JSON index
#: per partition, not one object each: the reference's per-tile layout
#: was upload-bound at ~400k objects per precision-15 run.
BUNDLE_THRESHOLD = 10_000


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
    # reference save_tile(debug=True): human-readable .txt tiles.
    tile_debug: bool = False
    # When set, the reused intermediates (validated cube, per-resolution
    # temporal aggregates, regional rollup) are CHECKPOINTED as parquet
    # under this directory instead of cache()d: lineage truncates and
    # the working set lives on (fast) storage rather than executor
    # memory — the 100 TB knob SCALE.md describes for when the cube
    # outgrows the cluster's cache capacity. The checkpoints are deleted
    # as their scope exits. Empty string → plain cache().
    checkpoint_dir: str = ""
    extra_writer_args: dict = field(default_factory=dict)


class _SinkPool:
    """The thread pool one pipeline run's artifact sinks run on."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        # Sink jobs are small (per-job overhead, not data, bounds them),
        # and Spark's FIFO scheduler runs jobs from several threads at
        # once while none of them fills the cores: one sink per core.
        self.pool = ThreadPoolExecutor(
            max_workers=spark.sparkContext.defaultParallelism
        )
        self.pending: list[Future] = []

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
        order."""
        while self.pending:
            self.pending.pop(0).result()

    @contextmanager
    def settled(self):
        """A stretch of the run whose sinks must settle before the frames
        they read are released: on success drain, on any failure cancel
        the queued sinks and wait for the running ones."""
        try:
            yield
            self.drain()
        except BaseException:
            self.pool.shutdown(wait=True, cancel_futures=True)
            raise


def run_pipeline(spark: SparkSession, params: PipelineParams) -> dict[str, Any]:
    """Execute the full artifact pipeline; returns the run summary dict."""
    run = _SinkPool(spark)
    try:
        with Scope(params.checkpoint_dir), run.settled():
            return _run_pipeline(spark, params, run)
    finally:
        run.pool.shutdown()


def _bundle_path_fn(bundle_dir: str | None):
    """The ``bundle_path_fn`` of a family bundled under ``bundle_dir``;
    None (one object per artifact) without one."""
    if bundle_dir is None:
        return None
    return lambda pid: f"{bundle_dir}/bundle-{pid:05d}"


def _by_feature(rows: list) -> list:
    """Collected per-feature rows in feature order, null first as Spark
    sorts it: results.json lists features in the order of its rows, and
    an aggregate's collected row order is not stable."""
    return sorted(rows, key=lambda r: (r["feature"] is not None,
                                       r["feature"] or ""))


def _all_time_summary(df, weight_column: str) -> list[dict[str, Any]]:
    """A6: the all-time per-feature summary rows of results.json."""
    t_all = temporal_aggregation(df, "all", weight_column=weight_column)
    return [r.asDict() for r in _by_feature(output_summary(t_all).collect())]


def _run_pipeline(
    spark: SparkSession, params: PipelineParams, run: _SinkPool
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

    def persist(frame):
        """Build ``frame`` now, in the innermost scope, as a cache or
        (with a checkpoint dir) a parquet checkpoint."""
        if params.checkpoint_dir:
            return tracked_local_checkpoint(frame)
        return tracked_cache(frame, eager=True)

    raw = read_datacube(spark, params.data_paths)
    df, stats = validate_and_fix(
        raw, weight_column=params.weight_column, fill_timestamp=params.fill_timestamp
    )
    df = persist(df)

    all_qualifiers = [
        c
        for c in get_qualifier_columns(df, stats.weight_column)
        if c not in ("timestamp", "value", "lat", "lng")
        and c not in extract_region_columns(df)
    ]
    # One action answers the row-count guard (S3), the rows per feature
    # (A9) and the per-feature qualifier counts (A8): a union of the two
    # aggregates adds no shuffle.
    per_feature = rows_per_feature(df)
    if all_qualifiers:
        counts = qualifier_counts(df, all_qualifiers)
        per_feature = per_feature.unionByName(counts, allowMissingColumns=True)
    per_feature = _by_feature(per_feature.collect())
    feature_rows = {r["feature"]: r["n_rows"] for r in per_feature
                    if r["n_rows"] is not None}
    count_rows = [r for r in per_feature if r["n_rows"] is None]
    if not feature_rows:
        raise ValueError("datacube is empty — nothing to process")
    results["rows"] = sum(feature_rows.values())
    results["validation"] = stats.__dict__
    weight = stats.weight_column
    # All-time summary (A6): queued before any sink, so it overlaps the
    # whole run.
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

    def qualifier_rollups(t, extra_cap: int | None = None,
                          max_level: int | None = None):
        """Yield ``(q, rollup)`` per gated qualifier: one single-shuffle
        regional ROLLUP of ``t`` with ``q`` as an extra key (region ids
        as ``id``), over the features ``_active_features(q, extra_cap)``
        admits."""
        for q in qualifiers:
            feats = _active_features(q, extra_cap)
            if not feats:
                continue
            # Null-qualifier rows are excluded from the breakout — the
            # reference's pandas groupby(dropna=True) semantics.
            # Post-validate this is a no-op (P4 fills nulls with the string
            # "None"), but the rollup's grouping_id would otherwise keep
            # real-NULL groups for unvalidated input.
            yield q, regional_aggregation_all_levels(
                t.filter(F.col("feature").isin(feats) & F.col(q).isNotNull()),
                weight_column=weight,
                qualifier=q,
                max_level=max_level,
            ).withColumnRenamed("region_id", "id")

    def csv(frame, keys, path_fn, sort_cols, bundle_dir=None) -> None:
        """Queue one CSV family: an artifact per group of ``keys`` at
        ``path_fn(key dict)``, rows sorted on ``sort_cols``; with
        ``bundle_dir``, one bundle + index per partition under it."""
        run.sink(write_grouped_csv, frame, group_cols=keys, path_fn=path_fn,
                 writer=writer, sort_cols=sort_cols,
                 bundle_path_fn=_bundle_path_fn(bundle_dir))

    # Raw passthrough for small features (S7).
    small = [f for f, n in feature_rows.items() if n <= params.raw_count_threshold]
    if small:
        csv(df.filter(F.col("feature").isin(small)), ["feature"],
            lambda k: f"{prefix}/raw/{k['feature']}/raw.csv", ["timestamp"])
    results["rows_per_feature"] = feature_rows

    # Region + qualifier inventories (A7/A8) → the reference's raw-info
    # artifact family (flows/data_pipeline.py:761-845:
    # raw/{feature}/info/{region_lists,qualifiers/*,qualifier_counts}.json),
    # written executor-side: a single feature's distinct region set can
    # reach millions of ids at scale, so the lists are never collected to
    # the driver — each feature's distinct rows form one group of the sink's
    # group walker, and the task that holds it writes the JSON directly.
    # The inventory is cached: its rows are the distinct (feature, level,
    # region) groups, one per-region timeseries CSV each, so its build
    # counts them for the sink layout of every resolution.
    region_cols = extract_region_columns(df)
    n_regions = 0
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
        all_regions = persist(all_regions)
        n_regions = row_count(all_regions)

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
        n_tiles: Future | None = None
        # the resolution's frames go once its sinks have settled
        with Scope(), run.settled():
            t = persist(temporal_aggregation(df, time_res, weight_column=weight))

            # Tiling family (G5–G8) — only when coordinates exist.  Queued
            # first: the tile sink is the resolution's longest.
            if (task_on("compute_tiles") and params.compute_tiles
                    and "lat" in df.columns and "lng" in df.columns):
                sub = persist(subtile_aggregation(t))
                # max-precision subtile rows upper-bound the finest level's
                # tile count — the dominant share of the tile tree (each
                # coarser zoom has ~1/4 as many)
                n_subtiles = row_count(sub)
                if n_subtiles > 0:
                    tile_dir = f"{prefix}/tiles/{time_res}"
                    ext = ".txt" if params.tile_debug else ".tile"
                    n_tiles = run.sink(
                        write_tiles,
                        tiles_all_levels(sub),
                        path_fn=lambda r, td=tile_dir: (
                            f"{td}/{r['feature']}/{r['timestamp']}-"
                            f"{r['tile']['z']}-{r['tile']['x']}-{r['tile']['y']}{ext}"
                        ),
                        writer=writer,
                        debug=params.tile_debug,
                        bundle_path_fn=_bundle_path_fn(
                            tile_dir if n_subtiles > BUNDLE_THRESHOLD else None),
                    )
                    # the key takes its place in results.json now; the count
                    # replaces the future once the resolution's sinks drain
                    results[f"tiles_{time_res}"] = n_tiles
                    csv(grid_stats(sub), ["feature", "timestamp"],
                        lambda k, tr=time_res: (
                            f"{prefix}/stats/{tr}/{k['feature']}/{k['timestamp']}.csv"
                        ), ["zoom"])

            # Global timeseries CSV per feature.
            if task_on("compute_global_timeseries"):
                csv(global_timeseries(t, weight_column=weight), ["feature"],
                    lambda k, tr=time_res: (
                        f"{prefix}/timeseries/{tr}/{k['feature']}/global.csv"
                    ), ["timestamp"])

            # Regional families share the cached all-levels rollup.
            need_regional = region_cols and (
                task_on("compute_regional_aggregation")
                or task_on("compute_regional_timeseries")
                or task_on("compute_regional_stats")
            )
            if need_regional:
                regional = persist(regional_aggregation_all_levels(
                    t, weight_column=weight
                ))
                by_id = regional.withColumnRenamed("region_id", "id")
            if need_regional and task_on("compute_regional_aggregation"):
                # one CSV per (feature, level, timestamp)
                csv(by_id, ["feature", "level", "timestamp"],
                    lambda k, tr=time_res: (
                        f"{prefix}/regional/{tr}/{k['feature']}/level-{k['level']}/"
                        f"{k['timestamp']}.csv"
                    ), ["id"])
                # R1 per-qualifier breakdowns: one CSV per (feature, level,
                # timestamp, qualifier column) with columns (id, qualifier,
                # aggs) — reference data_pipeline.py:554-586 loops levels ×
                # qualifiers as separate Dask aggregations; here each
                # qualifier is one extra single-shuffle ROLLUP.
                for q, rolled_q in qualifier_rollups(t):
                    csv(rolled_q.withColumnRenamed(q, "qualifier"),
                        ["feature", "level", "timestamp"],
                        lambda k, tr=time_res, qq=q: (
                            f"{prefix}/regional/{tr}/{k['feature']}/"
                            f"level-{k['level']}/qualifiers/{qq}/"
                            f"{k['timestamp']}.csv"
                        ), ["id", "qualifier"])
            if need_regional and task_on("compute_regional_timeseries"):
                # R2: per-region timeseries — one CSV per (feature, level,
                # region), rows over timestamps, bundled past the threshold;
                # qualifier breakdowns only for levels ≤
                # regional_timeseries_max_level and qualifiers whose
                # cardinality fits regional_timeseries_count.
                rts_dir = f"{prefix}/regional-timeseries/{time_res}"
                csv(by_id, ["feature", "level", "id"],
                    lambda k, rd=rts_dir: (
                        f"{rd}/{k['feature']}/level-{k['level']}/{k['id']}.csv"
                    ), ["timestamp"],
                    bundle_dir=rts_dir if n_regions > BUNDLE_THRESHOLD else None)
                # one qualifier ROLLUP covers every gated level in a single
                # shuffle (the reference loops levels × qualifiers as
                # separate aggregations)
                for q, rq in qualifier_rollups(
                    t,
                    extra_cap=params.regional_timeseries_count,
                    max_level=min(params.regional_timeseries_max_level,
                                  len(region_cols) - 1),
                ):
                    csv(rq, ["feature", "level", "id", q],
                        lambda k, rd=rts_dir, qq=q: (
                            f"{rd}/{k['feature']}/level-{k['level']}/"
                            f"qualifiers/{qq}/{k[qq]}/{k['id']}.csv"
                        ), ["timestamp"])

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
            for q in (qualifiers if task_on("compute_global_timeseries") else []):
                feats = _active_features(q)
                if not feats:
                    continue
                # cached: the per-agg-column pivot loop below would otherwise
                # recompute this spatial aggregation once per column
                sq = persist(spatial_aggregation(
                    t.filter(F.col("feature").isin(feats)),
                    keys=["feature", "timestamp", q], aggs=["sum", "mean"],
                    weight_column=weight,
                ))
                for agg_col in [c for c in sq.columns
                                if c.startswith("s_") and c != "s_count"] + ["s_count"]:
                    csv(qualifier_timeseries_pivot(sq, q, agg_col), ["feature"],
                        lambda k, tr=time_res, qq=q, ac=agg_col: (
                            f"{prefix}/qualifiers/{tr}/{k['feature']}/{qq}/{ac}.csv"
                        ), ["timestamp"])
        if n_tiles is not None:
            results[f"tiles_{time_res}"] = n_tiles.result()

    run.drain()
    results["output_agg_values"] = summary.result()
    # results.json only on full runs — partial (selected-task) runs must
    # not clobber a complete run's record (reference record_results
    # gating, data_pipeline.py:264-276, 1140-1141).
    if full_run:
        write_json(results, f"{prefix}/results.json", writer)
    return results
