"""The workloads.  Each stages seeded inputs, runs one op through
the library's public functions, checks the op's outputs, and names the
library functions its traced run wraps.

Why these two (see README.md for the layer table):

* ``datacube_artifacts`` — the paper's job: one ``run_pipeline`` that
  writes thousands of small artifacts.  Sinks and driver round trips do
  most of the work.
* ``catalog_queries`` — the ad-hoc query side: the 18 headline queries
  with zero artifact sinks.  A sink change must not move it; a change to
  the shared temporal/regional/tiles operators moves both.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import math
import os
import shutil

from gen import (documents_table, embeddings_table, events_table,
                 star_tables, write_tables)

#: The 18 headline queries, pinned here so the benchmark keeps measuring
#: the same set whatever the repository's other harnesses do.
HEADLINE_QUERIES = (
    "pricing_summary", "top_orders", "region_revenue", "window_running",
    "global_timeseries", "regional_rollup", "regional_extrema",
    "qualifier_pivot", "tile_rollup", "grid_stats", "minhash_lsh_pairs",
    "jaccard_pairs", "simhash", "ann_cosine_topk", "token_stats",
    "asof_join", "rolling_window", "salted_agg",
)

_P = "slow_tortoise_spark."


def tree_digest(root: str) -> dict[str, str]:
    """Relative path -> sha256 of every file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def tree_size(root: str) -> tuple[int, int]:
    """(files, bytes) under ``root``."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for f in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return files, size


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def rows_match(expected: dict[tuple, list[float]], actual: dict[tuple, list[float]]) -> bool:
    """Same keys, and every value equal within a relative 1e-9 (the two
    engines sum doubles in different orders)."""
    return expected.keys() == actual.keys() and all(
        len(expected[k]) == len(actual[k])
        and all(_close(x, y) for x, y in zip(expected[k], actual[k]))
        for k in expected)


class Workload:
    name = ""
    #: ops run before timing starts (JIT and codegen warm-up)
    warmup_ops = 2
    #: (module the caller reads the name from, attribute, span name)
    traced: tuple[tuple[str, str, str], ...] = ()

    def __init__(self, spark, rng, work: str):
        self.spark = spark
        self.work = work
        self.out = os.path.join(work, "out")
        self.reference = None
        self.problems: list[str] = []

    def clear(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def run_op(self, call):
        """Run one op; ``call(name, fn, *args)`` invokes ``fn`` (inside
        a root span when traced).  Returns the op's result."""
        raise NotImplementedError

    def first_op(self, call):
        """The first warm-up op, whose outputs ``first_check`` inspects."""
        return self.run_op(call)

    def outputs(self, result):
        """What the checks compare, gathered after the op's timing."""
        return result

    def first_check(self, outputs) -> None:
        """Once per run, on the first op: check the outputs against an
        independent oracle and keep them as the reference.  Problems go
        to ``self.problems``; any problem fails every op of the run."""
        self.reference = outputs

    def check(self, outputs) -> bool:
        """Per op: are this op's outputs the first op's?"""
        return outputs == self.reference

    def sink_size(self) -> tuple[int, int]:
        return tree_size(self.out)


# ---------------------------------------------------------------------------
# datacube_artifacts
# ---------------------------------------------------------------------------

class DatacubeArtifacts(Workload):
    name = "datacube_artifacts"
    #: 20,000 events from 100 users -> a cube of 5 features, 30 regions
    #: (5 countries, 25 admin1) and 100 points
    n_events = 20_000
    n_users = 100
    time_resolutions = ("month",)
    traced = tuple(
        (_P + "pipeline", attr, span) for attr, span in (
            ("read_datacube", "sources.read_datacube"),
            ("validate_and_fix", "operators.validate.validate_and_fix"),
            ("temporal_aggregation", "operators.temporal.temporal_aggregation"),
            ("regional_aggregation_all_levels",
             "operators.regional.regional_aggregation_all_levels"),
            ("regional_extrema", "operators.extrema.regional_extrema"),
            ("subtile_aggregation", "operators.tiles.subtile_aggregation"),
            ("tiles_all_levels", "operators.tiles.tiles_all_levels"),
            ("grid_stats", "operators.tiles.grid_stats"),
            ("qualifier_counts", "operators.summary.qualifier_counts"),
            ("rows_per_feature", "operators.summary.rows_per_feature"),
            ("output_summary", "operators.summary.output_summary"),
            ("write_grouped_csv", "sinks.write_grouped_csv"),
            ("write_grouped_json", "sinks.write_grouped_json"),
            ("write_json", "sinks.write_json"),
            ("write_tiles", "sinks.write_tiles"),
        ))

    def __init__(self, spark, rng, work):
        super().__init__(spark, rng, work)
        from slow_tortoise_spark.run_local import _datacube_from_events

        inputs = write_tables(
            {"events": events_table(rng, self.n_events, self.n_users)},
            os.path.join(work, "inputs"))
        self.cube = _datacube_from_events(
            spark, inputs, os.path.join(work, "cube.parquet"))

    def run_op(self, call):
        from slow_tortoise_spark.pipeline import PipelineParams, run_pipeline

        # Weighted by the staged ``w`` column, with the qualifier gate
        # closed: each open qualifier adds seven sink calls per
        # resolution, and one op with both resolutions and qualifiers
        # takes longer than a whole run may.
        params = PipelineParams(
            data_id="bench", run_id="op", data_paths=[self.cube],
            dest_root=self.out, time_resolutions=self.time_resolutions,
            weight_column="w", qualifier_max_count=0)
        call("pipeline.run_pipeline", run_pipeline, self.spark, params)

    def outputs(self, result):
        return tree_digest(self.out)

    def first_check(self, outputs):
        super().first_check(outputs)
        if not outputs:
            self.problems.append("datacube: no artifacts written")
            return
        import duckdb

        con = duckdb.connect()
        con.execute(f"CREATE VIEW cube AS SELECT * FROM '{self.cube}/*.parquet'")
        base = os.path.join(self.out, "bench", "op")
        aggs = ", ".join(
            [f"{g}({t})" for g in ("SUM", "AVG") for t in _T_COLS]
            + [f"SUM({t} * w) / SUM(w)" for t in _T_COLS]
            + ["CAST(COUNT(t_mean) AS DOUBLE)"])
        for res in self.time_resolutions:
            # the weighted temporal aggregate: every non-value column is a
            # key, the weight is carried forward as its group mean
            temporal = (
                f"SELECT epoch_ms(date_trunc('{res}', epoch_ms(timestamp))) AS ts, "
                "* EXCLUDE (timestamp, value, w), SUM(value) AS t_sum, "
                "AVG(value) AS t_mean, SUM(value * w) / SUM(w) AS t_wavg, "
                "AVG(w) AS w FROM cube GROUP BY ALL")
            expected = {}
            for feat, ts, *vals in con.sql(
                    f"SELECT feature, ts, {aggs} FROM ({temporal}) GROUP BY 1, 2").fetchall():
                expected[(feat, str(ts))] = vals
            actual = {}
            for path in glob.glob(f"{base}/timeseries/{res}/*/global.csv"):
                feat = path.split(os.sep)[-2]
                for row in _read_csv(path):
                    actual[(feat, row["timestamp"])] = _stats(row)
            if not rows_match(expected, actual):
                self.problems.append(f"datacube: global timeseries ({res}) != DuckDB")

            expected = {}
            for level, region in ((0, "country"), (1, "country || '__' || admin1")):
                for feat, ts, rid, *vals in con.sql(
                        f"SELECT feature, ts, {region}, {aggs} FROM ({temporal}) "
                        "GROUP BY 1, 2, 3").fetchall():
                    expected[(feat, str(level), str(ts), rid)] = vals
            actual = {}
            for path in glob.glob(f"{base}/regional/{res}/*/level-*/*.csv"):
                *_, feat, level, name = path.split(os.sep)
                for row in _read_csv(path):
                    actual[(feat, level[len("level-"):], name[:-len(".csv")],
                            row["id"])] = _stats(row)
            if not rows_match(expected, actual):
                self.problems.append(f"datacube: regional aggregation ({res}) != DuckDB")


_T_COLS = ("t_sum", "t_mean", "t_wavg")
_STAT_COLS = (*(f"s_{g}_{t}" for g in ("sum", "mean", "wavg") for t in _T_COLS),
              "s_count")


def _read_csv(path: str) -> list[dict[str, str]]:
    with open(path, newline="") as fh:
        return list(csv.DictReader(fh))


def _stats(row: dict[str, str]) -> list[float]:
    return [float(row[c]) for c in _STAT_COLS]


# ---------------------------------------------------------------------------
# catalog_queries
# ---------------------------------------------------------------------------

class CatalogQueries(Workload):
    name = "catalog_queries"
    scale = 0.02
    n_events = 20_000
    n_users = 1_500
    n_docs = 1_000
    n_vecs = 1_000
    traced = (
        (_P + "queries._shared", "read_table", "sources.read_table"),
        (_P + "queries.extended", "read_table", "sources.read_table"),
        *((_P + "queries.datacube", attr, span) for attr, span in (
            ("temporal_aggregation", "operators.temporal.temporal_aggregation"),
            ("regional_aggregation_all_levels",
             "operators.regional.regional_aggregation_all_levels"),
            ("regional_extrema", "operators.extrema.regional_extrema"),
            ("qualifier_timeseries_pivot", "operators.pivot.qualifier_timeseries_pivot"),
        )),
        (_P + "queries.training", "minhash_lsh_candidates",
         "operators.dedup.minhash_lsh_candidates"),
        (_P + "queries.training", "brute_force_topk",
         "operators.similarity.brute_force_topk"),
        # imported inside the query bodies: patched where they are defined
        (_P + "operators.dedup", "jaccard_pairs_auto", "operators.dedup.jaccard_pairs_auto"),
        (_P + "operators.dedup", "simhash64", "operators.dedup.simhash64"),
        (_P + "operators.skew", "salted_aggregation", "operators.skew.salted_aggregation"),
        (_P + "operators.timejoin", "asof_join", "operators.timejoin.asof_join"),
        (_P + "operators.timejoin", "rolling_time_agg", "operators.timejoin.rolling_time_agg"),
    )

    def __init__(self, spark, rng, work):
        super().__init__(spark, rng, work)
        from slow_tortoise_spark.queries import QUERIES, VERIFIER_QUERIES

        tables = star_tables(rng, self.scale)
        tables["events"] = events_table(rng, self.n_events, self.n_users)
        tables["documents"] = documents_table(rng, self.n_docs)
        tables["embeddings"] = embeddings_table(rng, self.n_vecs)
        self.sf_dir = write_tables(tables, os.path.join(work, "inputs"))
        catalog = {**VERIFIER_QUERIES, **QUERIES}
        self.queries = {name: catalog[name] for name in HEADLINE_QUERIES}

    def first_op(self, call):
        return self.run_op(call, collect=True)

    def run_op(self, call, collect: bool = False):
        """One pass over the headline queries in a fixed order.  Each is
        materialized with a ``noop`` write (every column and row computed,
        nothing shipped to the driver) — or collected, on the pass whose
        rows are checked against the oracles."""
        rows = {}
        for name, fn in self.queries.items():
            df = call(f"queries.{name}.build", fn, self.spark, self.sf_dir)
            if collect:
                rows[name] = (df.columns, call(f"queries.{name}.exec", df.collect))
            else:
                call(f"queries.{name}.exec",
                     lambda d=df: d.write.format("noop").mode("overwrite").save())
        return rows

    def first_check(self, outputs):
        super().first_check(outputs)
        import duckdb
        from oracle_harness import canon

        from slow_tortoise_spark.queries import ORACLE_SQL, VERIFIER_ORACLE_SQL

        oracles = {**VERIFIER_ORACLE_SQL, **ORACLE_SQL}
        con = duckdb.connect()
        for t in ("region nation customer supplier part orders lineitem events "
                  "documents embeddings").split():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        for name, (cols, rows) in outputs.items():
            rel = con.sql(oracles[name])
            ocols, orows = list(rel.columns), rel.fetchall()
            if (sorted(c.lower() for c in cols) != sorted(c.lower() for c in ocols)
                    or canon([tuple(r) for r in rows], cols) != canon(orows, ocols)):
                self.problems.append(f"catalog: {name} != oracle")

    def check(self, outputs):
        # a noop pass returns no rows; its correctness is the once-per-run
        # oracle check of the same plans
        return True


WORKLOADS = {w.name: w for w in (DatacubeArtifacts, CatalogQueries)}
