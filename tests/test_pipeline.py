"""End-to-end pipeline smoke: build a small datacube parquet, run the full
artifact pipeline to a temp dir, assert the artifact families exist
(mirrors the reference's e2e smoke in tests/test_data_pipeline.py)."""

from __future__ import annotations

import datetime as dt
import glob
import json
import os

import pytest

from slow_tortoise_spark.pipeline import PipelineParams, run_pipeline
from slow_tortoise_spark.sinks.tile_proto import decode_tile


def _ms(y, m, d):
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp() * 1000)


# cube_path fixture: shared from conftest.py (session scope).


def test_run_pipeline_artifacts(spark, cube_path, tmp_path):
    out = str(tmp_path / "artifacts")
    params = PipelineParams(
        data_id="d1",
        run_id="r1",
        data_paths=[cube_path],
        dest_root=out,
        time_resolutions=("month",),
    )
    results = run_pipeline(spark, params)

    assert results["rows"] == 40
    root = os.path.join(out, "d1/r1")
    assert glob.glob(f"{root}/timeseries/month/*/global.csv")
    assert glob.glob(f"{root}/regional/month/*/level-0/*.csv")
    assert glob.glob(f"{root}/qualifiers/month/*/qual1/s_sum_t_sum.csv")
    # one extrema artifact per (feature, admin level)
    assert glob.glob(f"{root}/extrema/month/*/level-0.json")
    assert glob.glob(f"{root}/extrema/month/*/level-1.json")
    # per-qualifier regional rollup CSVs exist next to the defaults
    assert glob.glob(
        f"{root}/regional/month/*/level-0/qualifiers/qual1/*.csv"
    )
    assert glob.glob(f"{root}/stats/month/*/*.csv")
    assert glob.glob(f"{root}/raw/*/raw.csv")
    # reference raw-info family: region_lists / qualifiers / counts
    regions_json = glob.glob(f"{root}/raw/*/info/region_lists.json")
    assert regions_json
    with open(regions_json[0]) as f:
        lists = json.load(f)
    assert set(lists) == {"country", "admin1", "admin2", "admin3"}
    assert set(lists["country"]) <= {"Ethiopia", "Kenya"}
    assert lists["country"] == sorted(lists["country"])
    # admin1 ids are full region paths (country__admin1)
    assert all("__" in r for r in lists["admin1"])
    qual_json = glob.glob(f"{root}/raw/*/info/qualifiers/qual1.json")
    assert qual_json
    with open(qual_json[0]) as f:
        qv = json.load(f)
    assert qv == sorted(qv) and set(qv) <= {"qa", "qb"}
    counts_json = glob.glob(f"{root}/raw/*/info/qualifier_counts.json")
    assert counts_json
    with open(counts_json[0]) as f:
        qc = json.load(f)
    assert qc["counts"]["qual1"] == len(qv)
    assert "max_count" in qc["thresholds"]
    tiles = glob.glob(f"{root}/tiles/month/*/*.tile")
    assert tiles
    with open(os.path.join(root, "results.json")) as f:
        rj = json.load(f)
    assert rj["rows"] == 40 and rj["output_agg_values"]

    # A tile parses and its coords match its filename.
    t = decode_tile(open(tiles[0], "rb").read())
    ts, z, x, y = os.path.basename(tiles[0])[: -len(".tile")].split("-")
    assert (t["z"], t["x"], t["y"]) == (int(z), int(x), int(y))
    assert t["total_bins"] == 4096 and t["stats"]


def test_tile_bundle_sink(spark, cube_path, tmp_path):
    """Bundled tile sink: one object per partition + index, tiles
    byte-identical to the per-file sink."""
    from slow_tortoise_spark.operators.temporal import temporal_aggregation
    from slow_tortoise_spark.operators.tiles import (
        subtile_aggregation,
        tiles_for_level,
    )
    from slow_tortoise_spark.sinks.writers import FileWriter, write_tile_bundles

    df = spark.read.parquet(cube_path)
    sub = subtile_aggregation(temporal_aggregation(df, "month"))
    tiles = tiles_for_level(sub, level=8)
    out = str(tmp_path / "bundles")
    n = write_tile_bundles(
        tiles.repartition(2),
        bundle_path_fn=lambda pid: f"tiles/part-{pid:05d}",
        writer=FileWriter(out),
    )
    assert n == tiles.count() and n > 0

    import glob
    import json as _json

    bundles = sorted(glob.glob(f"{out}/tiles/*.bundle"))
    indexes = sorted(glob.glob(f"{out}/tiles/*.idx.json"))
    assert bundles and len(bundles) == len(indexes)
    total_indexed = 0
    for bpath, ipath in zip(bundles, indexes):
        blob = open(bpath, "rb").read()
        index = _json.load(open(ipath))
        total_indexed += len(index)
        for key, (off, ln) in index.items():
            tile = decode_tile(blob[off:off + ln])
            z, x, y = key.rsplit("/", 1)[1].split("-")[1:]
            assert (tile["z"], tile["x"], tile["y"]) == (int(z), int(x), int(y))
            assert tile["stats"]
    assert total_indexed == n


def test_regional_timeseries_artifacts(spark, cube_path, tmp_path):
    out = str(tmp_path / "rts")
    params = PipelineParams(
        data_id="d2", run_id="r2", data_paths=[cube_path],
        dest_root=out, time_resolutions=("month",), compute_tiles=False,
    )
    run_pipeline(spark, params)
    root = os.path.join(out, "d2/r2")
    # per-region timeseries at every level
    assert glob.glob(f"{root}/regional-timeseries/month/*/level-0/*.csv")
    assert glob.glob(f"{root}/regional-timeseries/month/*/level-3/*.csv")
    # qualifier breakdown only for levels <= max_level (default 1)
    quals = glob.glob(f"{root}/regional-timeseries/month/*/level-0/qualifiers/qual1/*/*.csv")
    assert quals
    assert not glob.glob(f"{root}/regional-timeseries/month/*/level-2/qualifiers/**")
    # a per-region file holds a timestamp column plus agg columns
    body = open(quals[0]).read()
    assert body.startswith("timestamp,") or "timestamp" in body.splitlines()[0]


def test_s3_writer_pickles_without_client():
    """S3Writer must pickle with its lazy client dropped (executors build
    their own); no boto3 needed until the first write."""
    import pickle

    from slow_tortoise_spark.sinks.writers import S3Writer

    w = S3Writer("bucket-x", endpoint_url="http://minio:9000")
    w._client = object()  # simulate a live client on the driver
    clone = pickle.loads(pickle.dumps(w))
    assert clone.bucket == "bucket-x"
    assert clone.endpoint_url == "http://minio:9000"
    assert clone._client is None


@pytest.fixture(scope="module")
def weighted_cube_path(tmp_path_factory):
    import pandas as pd

    rows = []
    for i in range(30):
        rows.append(
            {
                "timestamp": _ms(2021, 1 + i % 3, 1 + i % 25),
                "country": "Kenya" if i % 2 else "Ethiopia",
                "admin1": f"adm{i % 2}",
                "lat": 1.0 + i * 0.01,
                "lng": 36.0 + i * 0.01,
                "feature": "acled_count",
                "value": float(i + 1),
                # constant weight → every s_wavg_* must equal the plain
                # mean, which gives golden values without re-deriving the
                # weighted-average algebra in the test
                "w": 2.0,
            }
        )
    path = str(tmp_path_factory.mktemp("wcube") / "cube.parquet")
    pd.DataFrame(rows).to_parquet(path)
    return path


def test_weighted_pipeline_end_to_end(spark, weighted_cube_path, tmp_path):
    """Weighted run (weight_column set, mirroring the reference's
    acled-style weighted param sets in flows/run_flow_local.py): every
    timeseries/regional CSV must carry the s_wavg_t_* columns
    (flows/common.py:118-158), and with constant weights their values
    must equal the corresponding plain means."""
    import csv as _csv

    out = str(tmp_path / "weighted")
    params = PipelineParams(
        data_id="dw", run_id="rw", data_paths=[weighted_cube_path],
        dest_root=out, weight_column="w", time_resolutions=("month",),
        compute_tiles=False,
    )
    results = run_pipeline(spark, params)
    assert results["validation"]["weight_column"] == "w"
    root = os.path.join(out, "dw/rw")

    def read_csv(path):
        with open(path) as f:
            return list(_csv.DictReader(f))

    g = glob.glob(f"{root}/timeseries/month/*/global.csv")
    assert g
    grows = read_csv(g[0])
    assert grows and "s_wavg_t_sum" in grows[0] and "s_wavg_t_wavg" in grows[0]
    for r in grows:
        assert float(r["s_wavg_t_sum"]) == pytest.approx(
            float(r["s_mean_t_sum"]), rel=1e-9
        )

    reg = glob.glob(f"{root}/regional/month/*/level-0/*.csv")
    assert reg
    rrows = read_csv(reg[0])
    assert rrows and "s_wavg_t_sum" in rrows[0]
    for r in rrows:
        assert float(r["s_wavg_t_sum"]) == pytest.approx(
            float(r["s_mean_t_sum"]), rel=1e-9
        )

    rts = glob.glob(f"{root}/regional-timeseries/month/*/level-0/*.csv")
    assert rts and "s_wavg_t_sum" in read_csv(rts[0])[0]


def test_pipeline_bundled_and_debug_tile_sinks(spark, cube_path, tmp_path):
    """tile_sink='bundles' emits bundle+index objects holding every tile;
    tile_debug=True emits human-readable .txt tiles."""
    out = str(tmp_path / "bundled")
    params = PipelineParams(
        data_id="d3", run_id="r3", data_paths=[cube_path],
        dest_root=out, time_resolutions=("month",), tile_sink="bundles",
    )
    results = run_pipeline(spark, params)
    root = os.path.join(out, "d3/r3")
    bundles = glob.glob(f"{root}/tiles/month/bundle-*.bundle")
    indexes = glob.glob(f"{root}/tiles/month/bundle-*.idx.json")
    assert bundles and len(bundles) == len(indexes)
    assert not glob.glob(f"{root}/tiles/month/*/*.tile")
    total = sum(len(json.load(open(i))) for i in indexes)
    assert total == results["tiles_month"] > 0

    out2 = str(tmp_path / "debugtiles")
    params2 = PipelineParams(
        data_id="d4", run_id="r4", data_paths=[cube_path],
        dest_root=out2, time_resolutions=("month",), tile_debug=True,
    )
    run_pipeline(spark, params2)
    txts = glob.glob(f"{out2}/d4/r4/tiles/month/*/*.txt")
    assert txts
    body = open(txts[0]).read()
    assert body.startswith("{'coord':") and "total_bins" in body


def test_auto_sink_selection(spark, cube_path, tmp_path):
    """tile_sink/csv_sink='auto' (the default) picks the per-file
    reference layout under the threshold — every other test in this file
    relies on that — and flips BOTH families to bundles when the
    group-count estimate exceeds it, without touching the parameters."""
    out = str(tmp_path / "auto_small")
    params = PipelineParams(
        data_id="da", run_id="ra", data_paths=[cube_path], dest_root=out,
        time_resolutions=("month",), sink_bundle_threshold=0,
    )
    results = run_pipeline(spark, params)
    root = os.path.join(out, "da/ra")
    # tiles bundled
    assert glob.glob(f"{root}/tiles/month/bundle-*.bundle")
    assert not glob.glob(f"{root}/tiles/month/*/*.tile")
    idx = glob.glob(f"{root}/tiles/month/bundle-*.idx.json")
    assert sum(len(json.load(open(i))) for i in idx) == results["tiles_month"]
    # regional timeseries bundled
    assert glob.glob(f"{root}/regional-timeseries/month/bundle-*.bundle")
    assert not glob.glob(
        f"{root}/regional-timeseries/month/*/level-0/*.csv"
    )
    # default threshold on the same cube keeps reference layout
    # (test_run_pipeline_artifacts pins that), so nothing more to assert.


def test_per_feature_qualifier_gating(spark, tmp_path):
    """The R4 gate is per-feature: the same qualifier stays broken out
    for a low-cardinality feature while suppressed for one whose
    cardinality blows the cap (reference apply_qualifier_thresholds)."""
    import pandas as pd

    rows = []
    for i in range(60):
        feature = "smallq" if i % 2 else "bigq"
        rows.append(
            {
                "timestamp": _ms(2022, 1 + i % 2, 1 + i % 25),
                "country": "Kenya",
                "admin1": f"adm{i % 2}",
                "feature": feature,
                "value": float(i),
                # smallq sees 2 distinct values; bigq sees ~30
                "qual1": "qa" if feature == "smallq" and i % 4 == 1
                else ("qb" if feature == "smallq" else f"v{i}"),
            }
        )
    path = str(tmp_path / "gate_cube.parquet")
    pd.DataFrame(rows).to_parquet(path)

    out = str(tmp_path / "gated")
    params = PipelineParams(
        data_id="dg", run_id="rg", data_paths=[path], dest_root=out,
        time_resolutions=("month",), compute_tiles=False,
        qualifier_max_count=10,
    )
    results = run_pipeline(spark, params)
    root = os.path.join(out, "dg/rg")
    # per-feature counts recorded
    assert results["qualifier_counts"]["smallq"]["qual1"] <= 10
    assert results["qualifier_counts"]["bigq"]["qual1"] > 10
    # qualifier artifacts exist for the small feature only
    assert glob.glob(f"{root}/regional/month/smallq/level-0/qualifiers/qual1/*.csv")
    assert not glob.glob(f"{root}/regional/month/bigq/level-0/qualifiers/**/*.csv")
    assert glob.glob(f"{root}/qualifiers/month/smallq/qual1/*.csv")
    assert not glob.glob(f"{root}/qualifiers/month/bigq/**/*.csv")
    # inventories still cover every detected qualifier for every feature
    assert glob.glob(f"{root}/raw/bigq/info/qualifiers/qual1.json")


def test_selected_output_tasks(spark, cube_path, tmp_path):
    """Reference OutputTasks selection: only the named families run, and
    partial runs do not record results.json."""
    out = str(tmp_path / "selected")
    params = PipelineParams(
        data_id="d5", run_id="r5", data_paths=[cube_path], dest_root=out,
        time_resolutions=("month",),
        selected_output_tasks=("compute_global_timeseries",
                               "compute_regional_stats"),
    )
    results = run_pipeline(spark, params)
    root = os.path.join(out, "d5/r5")
    assert glob.glob(f"{root}/timeseries/month/*/global.csv")
    assert glob.glob(f"{root}/extrema/month/*/level-0.json")
    # unselected families absent
    assert not glob.glob(f"{root}/regional/month/**/*.csv")
    assert not glob.glob(f"{root}/regional-timeseries/**")
    assert not glob.glob(f"{root}/tiles/**")
    # partial run → no results.json, but the return value is intact
    assert not os.path.exists(os.path.join(root, "results.json"))
    assert results["output_agg_values"]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown output tasks"):
        run_pipeline(spark, PipelineParams(
            data_id="d6", run_id="r6", data_paths=[cube_path], dest_root=out,
            selected_output_tasks=("compute_bogus",),
        ))


def test_pipeline_on_reference_e2e_fixture(spark, tmp_path):
    """Run the full pipeline on the REFERENCE's own e2e fixture
    (/root/reference/tests/data/geo-test-data.parquet — the input of
    tests/test_data_pipeline.py::test_model) and assert the same artifact
    the reference smoke asserts exists (the Ethiopia country timeseries),
    plus cross-check its monthly values against DuckDB on the raw file."""
    import csv as _csv

    import duckdb

    src = "/root/reference/tests/data/geo-test-data.parquet"
    out = str(tmp_path / "ref_fixture")
    params = PipelineParams(
        data_id="geo-test-data", run_id="test-run", data_paths=[src],
        dest_root=out, time_resolutions=("month",),
    )
    results = run_pipeline(spark, params)
    assert results["rows"] == 40
    root = os.path.join(out, "geo-test-data/test-run")

    # reference smoke asserts .../regional/country/timeseries/default/
    # Ethiopia.csv exists; our layout: regional-timeseries/month/<feature>/
    # level-0/Ethiopia.csv
    eth = glob.glob(f"{root}/regional-timeseries/month/feature1/level-0/Ethiopia.csv")
    assert eth

    # value cross-check: monthly s_sum_t_sum for Ethiopia == DuckDB on the
    # raw fixture (temporal mean per (month, regions, coords) summed)
    with open(eth[0]) as f:
        got = {int(r["timestamp"]): float(r["s_sum_t_sum"])
               for r in _csv.DictReader(f)}
    con = duckdb.connect()
    want = {
        int(ts): float(v)
        for ts, v in con.execute(f"""
            WITH t AS (
              SELECT feature, country, admin1, admin2, admin3, lat, lng,
                     epoch_ms(date_trunc('month', epoch_ms(timestamp))) AS ts,
                     SUM(value) AS t_sum
              FROM '{src}'
              WHERE feature = 'feature1'
              GROUP BY ALL
            )
            SELECT ts, SUM(t_sum) FROM t
            WHERE country = 'Ethiopia' GROUP BY ts
        """).fetchall()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k]), k


def test_pipeline_checkpoint_mode(spark, cube_path, tmp_path):
    """checkpoint_dir swaps cache() for reliable checkpoints: artifacts
    identical to a cached run, checkpoint files actually written."""
    import filecmp

    out_a = str(tmp_path / "cached")
    out_b = str(tmp_path / "ckpt_run")
    ckpt = str(tmp_path / "ckpt_store")
    common = dict(data_paths=[cube_path], time_resolutions=("month",),
                  compute_tiles=False)
    run_pipeline(spark, PipelineParams(
        data_id="dc", run_id="rc", dest_root=out_a, **common))
    run_pipeline(spark, PipelineParams(
        data_id="dc", run_id="rc", dest_root=out_b, checkpoint_dir=ckpt,
        **common))
    # checkpoint store was used
    assert glob.glob(f"{ckpt}/**/rdd-*", recursive=True)
    # identical artifact trees, byte-for-byte
    a_files = sorted(
        os.path.relpath(p, out_a)
        for p in glob.glob(f"{out_a}/**/*", recursive=True)
        if os.path.isfile(p)
    )
    b_files = sorted(
        os.path.relpath(p, out_b)
        for p in glob.glob(f"{out_b}/**/*", recursive=True)
        if os.path.isfile(p)
    )
    assert a_files == b_files and a_files
    for rel in a_files:
        assert filecmp.cmp(os.path.join(out_a, rel),
                           os.path.join(out_b, rel), shallow=False), rel


def test_pipeline_on_reference_indicator_fixture(spark, tmp_path):
    """Mirror the reference's indicator e2e smoke
    (tests/test_data_pipeline.py::test_indicator): run on its
    acled-test.bin fixture (real parquet under a .bin name) and assert
    the artifact it asserts — the admin1 'Ethiopia__Gambela Region'
    yearly timeseries — with a DuckDB value cross-check."""
    import csv as _csv

    import duckdb

    src = "/root/reference/tests/data/acled-test.bin"
    out = str(tmp_path / "acled")
    params = PipelineParams(
        data_id="ACLED", run_id="indicator", data_paths=[src],
        dest_root=out, time_resolutions=("year",), compute_tiles=False,
    )
    results = run_pipeline(spark, params)
    assert results["rows"] == 5606
    root = os.path.join(out, "ACLED/indicator")
    target = (f"{root}/regional-timeseries/year/fatalities/level-1/"
              "Ethiopia__Gambela Region.csv")
    assert os.path.exists(target)
    with open(target) as f:
        got = {int(r["timestamp"]): float(r["s_sum_t_sum"])
               for r in _csv.DictReader(f)}
    con = duckdb.connect()
    want = {
        int(ts): float(v)
        for ts, v in con.execute(f"""
            WITH t AS (
              SELECT country, admin1, admin2, admin3, lat, lng,
                     epoch_ms(date_trunc('year', epoch_ms(timestamp))) AS ts,
                     SUM(value) AS t_sum
              FROM read_parquet('{src}')
              GROUP BY ALL
            )
            SELECT ts, SUM(t_sum) FROM t
            WHERE country = 'Ethiopia' AND admin1 = 'Gambela Region'
            GROUP BY ts
        """).fetchall()
    }
    assert got.keys() == want.keys() and got
    for k in want:
        assert got[k] == pytest.approx(want[k]), k


def test_grouped_csv_bundles_match_per_file_sink(spark, cube_path, tmp_path):
    """Bundle+index grouped-CSV sink: every indexed entry is byte-equal
    to the per-file sink's artifact for the same group."""
    import json as _json

    from slow_tortoise_spark.operators.regional import (
        regional_aggregation_all_levels,
    )
    from slow_tortoise_spark.operators.temporal import temporal_aggregation
    from slow_tortoise_spark.sinks.writers import (
        FileWriter,
        write_grouped_csv,
        write_grouped_csv_bundles,
    )

    from slow_tortoise_spark.operators.validate import validate_and_fix
    from slow_tortoise_spark.sources.reader import read_datacube

    df, _ = validate_and_fix(read_datacube(spark, [cube_path]))
    regional = regional_aggregation_all_levels(
        temporal_aggregation(df, "month")
    ).withColumnRenamed("region_id", "id")

    out_files = str(tmp_path / "files")
    n_files = write_grouped_csv(
        regional, ["feature", "level", "id"],
        path_fn=lambda k: f"rt/{k['feature']}/L{k['level']}/{k['id']}.csv",
        writer=FileWriter(out_files), sort_cols=["timestamp"],
    )

    out_bundles = str(tmp_path / "bundles")
    n_groups = write_grouped_csv_bundles(
        regional, ["feature", "level", "id"],
        key_fn=lambda k: f"rt/{k['feature']}/L{k['level']}/{k['id']}.csv",
        bundle_path_fn=lambda pid: f"rt-bundles/part-{pid:05d}",
        writer=FileWriter(out_bundles), sort_cols=["timestamp"],
    )
    assert n_groups == n_files > 0

    seen = 0
    for ipath in glob.glob(f"{out_bundles}/rt-bundles/*.idx.json"):
        blob = open(ipath[: -len(".idx.json")] + ".bundle", "rb").read()
        for key, (off, ln) in _json.load(open(ipath)).items():
            body = blob[off:off + ln]
            assert body == open(os.path.join(out_files, key), "rb").read(), key
            seen += 1
    assert seen == n_files


def test_pipeline_csv_bundle_sink(spark, cube_path, tmp_path):
    """csv_sink='bundles' replaces the per-region timeseries files with
    bundle+index objects covering the same groups."""
    import json as _json

    out = str(tmp_path / "csvbundles")
    params = PipelineParams(
        data_id="d7", run_id="r7", data_paths=[cube_path], dest_root=out,
        time_resolutions=("month",), compute_tiles=False, csv_sink="bundles",
    )
    run_pipeline(spark, params)
    root = os.path.join(out, "d7/r7")
    idxs = glob.glob(f"{root}/regional-timeseries/month/bundle-*.idx.json")
    assert idxs
    assert not glob.glob(f"{root}/regional-timeseries/month/*/level-0/*.csv")
    keys = set()
    for i in idxs:
        keys.update(_json.load(open(i)))
    # qualifier-gated per-region breakdowns still write per-file
    assert any("/level-0/" in k and k.endswith(".csv") for k in keys)


def test_grouped_sinks_accept_dotted_column_names(spark, tmp_path):
    """Pivoted qualifier values like '1.0' become column names with dots;
    PySpark's applyInPandas resolves plain strings as multi-part paths, so
    the sinks must shim them (round-4 regression: run_local qualifier
    pivot on a constant-1.0 weight column crashed every grouped sink)."""
    import json as _json

    from slow_tortoise_spark.operators.pivot import qualifier_timeseries_pivot
    from slow_tortoise_spark.sinks.writers import (
        FileWriter,
        write_grouped_csv,
        write_grouped_csv_bundles,
        write_grouped_json,
    )

    df = spark.createDataFrame(
        [("f1", 1000, "1.0", 2.0), ("f1", 2000, "1.0", 3.0),
         ("f2", 1000, "2.5", 4.0)],
        "feature string, timestamp long, q string, s_sum double",
    )
    wide = qualifier_timeseries_pivot(df, "q", "s_sum")
    assert any("." in c for c in wide.columns)  # the hazard is present

    out = str(tmp_path / "dotted")
    n = write_grouped_csv(
        wide, ["feature"],
        path_fn=lambda k: f"csv/{k['feature']}.csv",
        writer=FileWriter(out), sort_cols=["timestamp"],
    )
    assert n == 2
    header = open(f"{out}/csv/f1.csv").read().splitlines()[0]
    assert "1.0" in header  # artifact keeps the original dotted header

    n_b = write_grouped_csv_bundles(
        wide, ["feature"],
        key_fn=lambda k: f"csv/{k['feature']}.csv",
        bundle_path_fn=lambda pid: f"bundles/part-{pid:05d}",
        writer=FileWriter(out), sort_cols=["timestamp"],
    )
    assert n_b == 2
    for ipath in glob.glob(f"{out}/bundles/*.idx.json"):
        blob = open(ipath[: -len(".idx.json")] + ".bundle", "rb").read()
        for key, (off, ln) in _json.load(open(ipath)).items():
            assert blob[off:off + ln] == open(
                os.path.join(out, key), "rb").read(), key

    n_j = write_grouped_json(
        wide, ["feature"],
        path_fn=lambda k: f"json/{k['feature']}.json",
        writer=FileWriter(out),
        payload_fn=lambda pdf: sorted(pdf.columns.tolist()),
    )
    assert n_j == 2
    cols = _json.load(open(f"{out}/json/f1.json"))
    assert "1.0" in cols and "2.5" in cols


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("failing", ["write_grouped_csv", "regional_extrema"])
def test_pipeline_releases_caches_on_every_path(spark, cube_path, tmp_path,
                                                monkeypatch, failing):
    """A run that fails in a queued sink or in an eager driver action
    still drains its sink pool and unpersists every frame it cached,
    then re-raises; a normal run leaves nothing cached either."""
    from slow_tortoise_spark import pipeline

    spark.catalog.clearCache()
    params = PipelineParams(
        data_id="dr", run_id="rr", data_paths=[cube_path],
        dest_root=str(tmp_path / "ok"), time_resolutions=("month",),
    )
    run_pipeline(spark, params)
    assert _cache_empty(spark)

    def boom(*_args, **_kwargs):
        raise RuntimeError(f"{failing} failed")

    monkeypatch.setattr(pipeline, failing, boom)
    params.dest_root = str(tmp_path / "failed")
    with pytest.raises(RuntimeError, match=f"{failing} failed"):
        run_pipeline(spark, params)
    assert _cache_empty(spark)


def test_repeated_run_compiles_no_new_classes(spark, cube_path, tmp_path):
    """The session's codegen cache holds a whole run's generated classes:
    a second run over the same cube Janino-compiles nothing."""
    import time

    from slow_tortoise_spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES)
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiled() -> int:
        return metrics.METRIC_SOURCE_CODE_SIZE().getCount()

    # the counter counts: an expression no earlier plan used compiles
    before = compiled()
    spark.range(3).selectExpr(f"id * {time.time_ns()} AS x").collect()
    assert compiled() > before

    params = PipelineParams(
        data_id="dg", run_id="rg", data_paths=[cube_path],
        dest_root=str(tmp_path / "first"), time_resolutions=("month",),
    )
    run_pipeline(spark, params)
    params.dest_root = str(tmp_path / "second")
    before = compiled()
    run_pipeline(spark, params)
    assert compiled() == before


def _tree_digest(root: str) -> dict[str, str]:
    import hashlib

    out = {}
    for path in glob.glob(f"{root}/**/*", recursive=True):
        if os.path.isfile(path):
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(
                    fh.read()).hexdigest()
    return out


def test_concurrent_sinks_are_deterministic_and_inherit_job_group(
        spark, cube_path, tmp_path):
    """Sinks overlap on the driver pool, yet two runs write identical
    artifact trees (results.json included), every job of a run lands in
    the caller's job group, and the pool threads inherit tags without
    pyspark's fallback warning."""
    import warnings

    sc = spark.sparkContext

    def job_ids() -> set[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc._jsc.sc().statusStore().jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    digests = []
    for i in range(2):
        out = str(tmp_path / f"run{i}")
        group = f"pipeline-run-{i}"
        seen = job_ids()
        sc.setJobGroup(group, "concurrent sink test")
        try:
            with warnings.catch_warnings(record=True) as caught:
                warnings.simplefilter("always")
                results = run_pipeline(spark, PipelineParams(
                    data_id="dj", run_id="rj", data_paths=[cube_path],
                    dest_root=out, time_resolutions=("month", "year"),
                ))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert not [w for w in caught
                    if "Tags will not be inherited" in str(w.message)]
        run_jobs = job_ids() - seen
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert run_jobs and run_jobs <= set(
            sc.statusTracker().getJobIdsForGroup(group))
        assert results["tiles_month"] > 0 and results["tiles_year"] > 0
        digests.append(_tree_digest(out))
    assert digests[0] == digests[1]
    assert any(p.endswith("results.json") for p in digests[0])
    assert any("/qualifiers/" in p for p in digests[0])


# ---------------------------------------------------------------------------
# The group walker behind every grouped sink
# ---------------------------------------------------------------------------


def _same_partition_keys(spark, n: int = 2) -> list[str]:
    """``n`` group keys that hash to one shuffle partition, so a sink's
    repartition on them puts their groups side by side in one task."""
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    by_bucket: dict[int, list[str]] = {}
    for r in spark.createDataFrame([(f"k{i}",) for i in range(64)], "g string") \
            .selectExpr("g", f"pmod(hash(g), {parts}) AS b").collect():
        by_bucket.setdefault(r["b"], []).append(r["g"])
    return next(keys[:n] for keys in by_bucket.values() if len(keys) >= n)


def test_grouped_sink_converts_each_group_by_itself(spark, tmp_path):
    """An integer column that is null in a neighbouring group of the same
    partition still renders as an integer: each group gets the dtypes
    ``applyInPandas`` would give it, not those of a whole batch."""
    from slow_tortoise_spark.sinks.writers import FileWriter, write_grouped_csv

    full, empty = _same_partition_keys(spark)
    df = spark.createDataFrame(
        [(full, 1, 100), (full, 2, 7), (empty, 1, None)],
        "g string, t long, x long")
    out = str(tmp_path / "dtypes")
    n = write_grouped_csv(df, ["g"], path_fn=lambda k: f"{k['g']}.csv",
                          writer=FileWriter(out), sort_cols=["t"])
    assert n == 2
    assert open(f"{out}/{full}.csv").read() == "t,x\n1,100\n2,7\n"
    assert open(f"{out}/{empty}.csv").read() == "t,x\n1,\n"


def test_grouped_sink_carries_groups_across_arrow_batches(spark, tmp_path):
    """With two-row Arrow batches most groups straddle batches: each is
    still written once, with all its rows, byte-identical to a run at the
    default batch size."""
    from slow_tortoise_spark.sinks.writers import (
        FileWriter,
        write_grouped_csv,
        write_grouped_json,
    )

    keys = _same_partition_keys(spark, 3)
    rows = [(g, t, float(t) / 3) for i, g in enumerate(keys)
            for t in range(2 * i + 1)] + [(None, 0, 0.5), (None, 1, 1.5)]
    df = spark.createDataFrame(rows, "g string, t long, v double")

    def write(out: str) -> tuple[int, int]:
        return (
            write_grouped_csv(df, ["g"], path_fn=lambda k: f"csv/{k['g']}.csv",
                              writer=FileWriter(out), sort_cols=["t"]),
            write_grouped_json(df, ["g"], path_fn=lambda k: f"json/{k['g']}.json",
                               writer=FileWriter(out),
                               payload_fn=lambda pdf: sorted(pdf["t"].tolist())),
        )

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = spark.conf.get(conf)
    assert write(str(tmp_path / "default")) == (4, 4)
    spark.conf.set(conf, "2")
    try:
        assert write(str(tmp_path / "small")) == (4, 4)
    finally:
        spark.conf.set(conf, default)
    small = _tree_digest(str(tmp_path / "small"))
    assert small == _tree_digest(str(tmp_path / "default")) and len(small) == 8
    assert json.load(open(tmp_path / "small" / "json" / f"{keys[2]}.json")) == [
        0, 1, 2, 3, 4]


def test_grouped_sinks_on_empty_input_write_nothing(spark, tmp_path):
    from slow_tortoise_spark.sinks.writers import (
        FileWriter,
        write_grouped_csv,
        write_grouped_csv_bundles,
        write_grouped_json,
    )

    df = spark.createDataFrame([], "g string, t long")
    writer = FileWriter(str(tmp_path / "empty"))
    assert write_grouped_csv(df, ["g"], lambda k: "x.csv", writer) == 0
    assert write_grouped_json(df, ["g"], lambda k: "x.json", writer,
                              payload_fn=len) == 0
    assert write_grouped_csv_bundles(df, ["g"], key_fn=str,
                                     bundle_path_fn=lambda pid: f"b{pid}",
                                     writer=writer) == 0
    assert not os.path.exists(tmp_path / "empty")


# ---------------------------------------------------------------------------
# Whole-run parity and round trips
# ---------------------------------------------------------------------------

DIGEST = os.path.join(os.path.dirname(__file__), "data",
                      "pipeline_tree_digest.json")


def _weighted_cube(path: str) -> str:
    """A weighted cube over two years: five features, two countries with
    three admin1 each, coordinates, and two qualifiers whose values
    differ by feature (so pivoted qualifier columns are null for some
    features)."""
    import pandas as pd

    rows = []
    for i in range(240):
        feature = f"f{i % 5}"
        rows.append({
            "timestamp": _ms(2019 + i % 2, 1 + i % 12, 1 + i % 27),
            "country": ("Ethiopia", "Kenya")[i % 2],
            "admin1": f"adm{i % 3}",
            "admin2": None,
            "admin3": None,
            "lat": 10.0 + (i % 11) * 0.013,
            "lng": 40.0 + (i % 7) * 0.017,
            "feature": feature,
            "value": float((i * 37) % 101) / 4,
            "w": 1.0 + (i % 4),
            "qual1": ("qa", "qb", "qc")[i % (2 + i % 5 // 3)],
            "qual2": f"{feature}-{i % 2}",
        })
    pd.DataFrame(rows).to_parquet(path)
    return path


def _parity_params(cube: str, out: str) -> PipelineParams:
    return PipelineParams(
        data_id="dp", run_id="rp", data_paths=[cube], dest_root=out,
        weight_column="w", time_resolutions=("month", "year"),
    )


def test_pipeline_tree_matches_parent_digest(spark, tmp_path):
    """A weighted month+year run with qualifiers open and tiles on
    writes, byte for byte, the tree pinned in
    ``tests/data/pipeline_tree_digest.json`` (sha256 of every file,
    results.json included).  The fixture was written by the code before
    the sinks moved onto the group walker; a deliberate change of any
    artifact rewrites it with ``json.dump(_tree_digest(out), fh,
    indent=1, sort_keys=True)`` in the same commit."""
    cube = _weighted_cube(str(tmp_path / "cube.parquet"))
    out = str(tmp_path / "tree")
    run_pipeline(spark, _parity_params(cube, out))
    with open(DIGEST) as fh:
        expected = json.load(fh)
    actual = _tree_digest(out)
    assert sorted(actual) == sorted(expected)
    assert {p for p in actual if actual[p] != expected[p]} == set()


#: Spark jobs of one ``_pipeline_jobs`` run on ``cube_path``, counted
#: when the grouped sinks moved onto the group walker; the code before
#: that ran ``PARENT_JOBS``.
PIPELINE_JOBS = 48
PARENT_JOBS = 61


def _pipeline_jobs(spark, cube: str, out: str) -> int:
    """Spark jobs of one run in the benchmark's shape: month only, the
    qualifier gate closed, tiles on."""
    sc = spark.sparkContext
    group = f"pipeline-jobs-{os.path.basename(out)}"
    sc.setJobGroup(group, "pipeline job count")
    try:
        run_pipeline(spark, PipelineParams(
            data_id="dc", run_id="rc", data_paths=[cube], dest_root=out,
            time_resolutions=("month",), qualifier_max_count=0,
        ))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_pipeline_job_count_is_pinned(spark, cube_path, tmp_path):
    """Round trips bound the datacube run, so its Spark job count is
    pinned: a change that adds a job fails here, a change that saves one
    lowers ``PIPELINE_JOBS``."""
    assert _pipeline_jobs(spark, cube_path, str(tmp_path / "jobs")) \
        <= PIPELINE_JOBS < PARENT_JOBS
