"""Pluggable artifact writers (reference ops S4–S9, S7/S8 sinks).

The reference materializes many small artifacts (one CSV per region, one
protobuf per tile) to S3/Minio or local disk from inside worker-side
``groupby().apply`` lambdas. The Spark-native equivalent: executors write
from one ``mapInArrow`` pass, through a destination object small enough
to pickle.  Every grouped sink runs on one group walker (``_walk_groups``)
and the tile sink on its per-partition pass (``_each_partition``); each
partition returns one count row that the driver sums from ``collect()``.
The layout is one argument, ``bundle_path_fn``: without it each artifact
is one object, with it each partition's artifacts are one bundle plus an
index keyed by the paths they would have had.

Writers:
    FileWriter  — local filesystem (dirs auto-created)
    S3Writer    — any S3-compatible store via boto3 (import-gated; one
                  client per executor process, lazily created)
    NullWriter  — no-op, for profiling compute without the sink

Path conventions follow the reference's `{data_id}/{run_id}/...` layout
(/root/reference/doc/minio-folder-structure.md).
"""

from __future__ import annotations

import json
import os


class FileWriter:
    """S5: write bytes/str to a local path, creating directories."""

    def __init__(self, root: str):
        self.root = root

    def write(self, body: bytes | str, rel_path: str) -> None:
        path = os.path.join(self.root, rel_path)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        mode = "wb" if isinstance(body, (bytes, bytearray)) else "w"
        with open(path, mode) as f:
            f.write(body)


class NullWriter:
    """S6: swallow everything (profiling sink)."""

    def __init__(self, *_args, **_kwargs):
        pass

    def write(self, body: bytes | str, rel_path: str) -> None:
        pass


class S3Writer:
    """S4: put_object to an S3-compatible store.

    The boto3 client is created lazily per process (executors each build
    their own after unpickling) and cached — the reference does the same
    per Dask worker.  ``client_kwargs`` pass through to
    ``boto3.client('s3', ...)`` (credentials, region) so executors need
    no ambient AWS config — the whole writer state must survive pickling
    into Python workers.
    """

    def __init__(
        self,
        bucket: str,
        endpoint_url: str | None = None,
        client_kwargs: dict | None = None,
    ):
        self.bucket = bucket
        self.endpoint_url = endpoint_url
        self.client_kwargs = client_kwargs or {}
        self._client = None

    def __getstate__(self):
        state = self.__dict__.copy()
        state["_client"] = None
        return state

    @property
    def client(self):
        if self._client is None:
            import boto3  # optional dependency, only needed for S3 runs

            self._client = boto3.client(
                "s3", endpoint_url=self.endpoint_url, **self.client_kwargs
            )
        return self._client

    def write(self, body: bytes | str, rel_path: str) -> None:
        if isinstance(body, str):
            body = body.encode()
        self.client.put_object(Bucket=self.bucket, Key=rel_path, Body=body)


WRITE_TYPES = {"file": FileWriter, "s3": S3Writer, "null": NullWriter}


# ---------------------------------------------------------------------------
# Grouped sinks: one Arrow group walker
# ---------------------------------------------------------------------------


def _each_partition(df, emit_partition) -> int:
    """Run ``emit_partition(partition_id, batches, to_pandas) -> int`` once
    per partition of ``df`` in one ``mapInArrow`` job.  ``batches`` are the
    partition's Arrow record batches; ``to_pandas(rows)`` converts a table
    or batch column by column the way PySpark converts an ``applyInPandas``
    group (same dtypes, structs as dicts).  Each partition yields one count
    row; the driver returns their sum from ``collect()``.  ``mapInArrow``
    resolves columns by plain name (``"1.0"`` would be a nested path), so
    they cross into Python under positional names."""
    import pyarrow as pa

    names = df.columns
    timezone = df.sparkSession.conf.get("spark.sql.session.timeZone")

    def run(batches):
        import pandas as pd
        from pyspark import TaskContext
        from pyspark.sql.pandas.serializers import ArrowStreamPandasSerializer

        convert = ArrowStreamPandasSerializer(timezone, False, False).arrow_to_pandas

        def to_pandas(rows):
            frame = pd.concat([convert(c, i) for i, c in enumerate(rows.itercolumns())],
                              axis=1)
            frame.columns = names
            return frame

        named = (pa.RecordBatch.from_arrays(b.columns, names=names) for b in batches)
        n = emit_partition(TaskContext.get().partitionId(), named, to_pandas)
        yield pa.RecordBatch.from_arrays([pa.array([n], pa.int64())], ["n"])

    positional = df.toDF(*[f"_{i}" for i in range(len(names))])
    return sum(r["n"] for r in positional.mapInArrow(run, "n long").collect())


def _split_groups(batches, keys: list[str]):
    """Yield each group of a key-sorted stream of Arrow record batches as
    one ``pa.Table``; a group that straddles batches is carried until its
    last row arrives.  Nulls equal nulls and NaN equals NaN, as in Spark's
    grouping."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    carried: list = []
    for batch in batches:
        if not batch.num_rows:
            continue
        # the carried group's last row leads, so a cut at 0 closes it
        lead = carried[-1].slice(carried[-1].num_rows - 1) if carried else batch.slice(0, 0)
        rows = pa.Table.from_batches([lead, batch])
        n = rows.num_rows
        same = np.ones(n - 1, bool)
        for k in keys:
            prev, cur = rows.column(k).slice(0, n - 1), rows.column(k).slice(1)
            eq = pc.or_(pc.fill_null(pc.equal(prev, cur), False),
                        pc.and_(pc.is_null(prev), pc.is_null(cur)))
            if pa.types.is_floating(prev.type):
                eq = pc.or_(eq, pc.fill_null(pc.and_(pc.is_nan(prev), pc.is_nan(cur)), False))
            same &= eq.to_numpy()
        start = 0
        for cut in (np.flatnonzero(~same) + 1 - lead.num_rows).tolist():
            if cut:
                carried.append(batch.slice(start, cut - start))
            yield pa.Table.from_batches(carried)
            carried, start = [], cut
        carried.append(batch.slice(start))
    if carried:
        yield pa.Table.from_batches(carried)


def _walk_groups(df, group_cols: list[str], emit) -> int:
    """The group walker behind every grouped sink: ``repartition`` on the
    group columns puts each group whole in one partition,
    ``sortWithinPartitions`` makes its rows adjacent, and one
    ``mapInArrow`` pass cuts the batches at the group boundaries.
    ``emit(partition_id, groups) -> int`` consumes the partition's ``(key
    dict, pandas frame)`` pairs.  Each group is converted by itself, so it
    gets the dtypes ``applyInPandas`` would give it, and one group, not one
    partition, is the unit of Python memory.  Returns the summed counts."""
    from pyspark.sql import functions as F

    keys = [F.col("`" + c.replace("`", "``") + "`") for c in group_cols]

    def emit_partition(pid, batches, to_pandas):
        frames = map(to_pandas, _split_groups(batches, group_cols))
        return emit(pid, (({c: pdf[c].iloc[0] for c in group_cols}, pdf)
                          for pdf in frames))

    return _each_partition(
        df.repartition(*keys).sortWithinPartitions(*keys), emit_partition)


def _write_artifacts(writer, pid: int, artifacts, bundle_path_fn=None) -> int:
    """Write one partition's ``(path, body)`` artifacts: one object each,
    or with ``bundle_path_fn`` one ``<bundle_path_fn(pid)>.bundle`` object
    plus a ``.idx.json`` index ({path: [offset, len]}), nothing when there
    are none.  A bundle entry is the per-file artifact: its key is the
    path it would have had, its bytes are that file's bytes.  Returns the
    number of artifacts."""
    if bundle_path_fn is None:
        n = 0
        for path, body in artifacts:
            writer.write(body, path)
            n += 1
        return n
    bodies = {path: body.encode() if isinstance(body, str) else body
              for path, body in artifacts}
    if bodies:
        index, offset = {}, 0
        for path, body in bodies.items():
            index[path] = [offset, len(body)]
            offset += len(body)
        base = bundle_path_fn(pid)
        writer.write(b"".join(bodies.values()), base + ".bundle")
        writer.write(json.dumps(index), base + ".idx.json")
    return len(bodies)


def _write_groups(df, group_cols: list[str], path_fn, writer, body_fn,
                  bundle_path_fn=None) -> int:
    """One artifact per group, ``body_fn(pdf)`` at ``path_fn(key dict)``,
    written by ``_write_artifacts``."""
    return _walk_groups(df, group_cols, lambda pid, groups: _write_artifacts(
        writer, pid, ((path_fn(key), body_fn(pdf)) for key, pdf in groups),
        bundle_path_fn))


def write_grouped_csv(
    df,
    group_cols: list[str],
    path_fn,
    writer,
    sort_cols: list[str] | None = None,
    bundle_path_fn=None,
) -> int:
    """S7-style sink: one CSV artifact per distinct group, without the
    group columns.

    ``path_fn(group_key_dict) -> rel_path``.  Runs on the group walker,
    so each group is serialized exactly once, executor-side.  Returns the
    number of groups.  ``sort_cols`` orders rows inside each artifact (a
    stable sort; group row order otherwise follows shuffle partitioning,
    which varies with cluster layout — sorted artifacts are byte-stable
    across runs).

    ``bundle_path_fn(partition_id) -> path`` is the scale path: each
    partition's groups go into ONE bundle object plus a JSON index
    instead of one object per group, so the reference's many-small-files
    problem (tens of thousands of regional-timeseries CSVs) becomes
    O(partitions) store objects.  A serving layer reads
    ``<bundle>.idx.json`` ({per-file path: [offset, len]}) and
    range-reads the bundle.
    """
    value_cols = [c for c in df.columns if c not in group_cols]

    def body(pdf):
        if sort_cols:
            pdf = pdf.sort_values(sort_cols, kind="mergesort")
        return pdf[value_cols].to_csv(index=False)

    return _write_groups(df, group_cols, path_fn, writer, body, bundle_path_fn)


def write_json(obj, rel_path: str, writer) -> None:
    """S9: driver-side JSON artifact (small data: run metadata, lists)."""
    writer.write(json.dumps(obj, default=str), rel_path)


def write_grouped_json(df, group_cols: list[str], path_fn, writer,
                       payload_fn) -> int:
    """Executor-side JSON artifacts, one per distinct group.

    The streaming analogue of ``write_json`` for payloads that scale with
    the data (per-feature region inventories, qualifier value lists):
    ``payload_fn(pdf) -> obj`` shapes the JSON body from the group's rows
    on the group walker, and the write happens on the executor — group
    contents never transit the driver, so driver memory stays flat no
    matter how many distinct values a feature has.  Returns the number of
    artifacts written.
    """
    return _write_groups(df, group_cols, path_fn, writer,
                         lambda pdf: json.dumps(payload_fn(pdf), default=str))


def _tile_artifacts(batches, to_pandas, path_fn, debug: bool = False):
    """Yield ``(path_fn(row dict), body)`` per tile row: the tile's
    protobuf bytes, or with ``debug`` its human-readable dict repr."""
    from slow_tortoise_spark.sinks.tile_proto import encode_tile

    for batch in batches:
        pdf = to_pandas(batch)
        for values in pdf.itertuples(index=False, name=None):
            row = dict(zip(pdf.columns, values))
            tile = row["tile"]
            bins = {
                b["bin"]: (b["s_sum_t_sum"], b["s_sum_t_mean"], float(b["weight"]))
                for b in row["bins"]
            }
            if debug:
                body = str({
                    "coord": {"z": tile["z"], "x": tile["x"], "y": tile["y"]},
                    "total_bins": row["total_bins"],
                    "bins": bins,
                })
            else:
                body = encode_tile(tile["z"], tile["x"], tile["y"],
                                   row["total_bins"], bins)
            yield path_fn(row), body


def write_tiles(tiles_df, path_fn, writer, debug: bool = False,
                bundle_path_fn=None) -> int:
    """S8: serialize + write one protobuf per tile row, executor-side.

    ``tiles_df`` is the output of operators.tiles.tiles_for_level /
    tiles_all_levels; ``path_fn(row_dict) -> rel_path``.  ``debug=True``
    writes the human-readable dict repr instead of protobuf bytes (the
    reference's ``save_tile(debug=True)`` ``.txt`` variant,
    /root/reference/flows/common.py:291-309) — pair it with a ``.txt``
    path convention in ``path_fn``.  Tile bytes never reach the driver:
    each partition returns one count.

    ``bundle_path_fn(partition_id) -> path`` packs each partition's tiles
    into ONE bundle object plus a JSON index ({per-file path: [offset,
    len]}), as ``write_grouped_csv`` does: the reference's per-tile
    layout was upload-bound at high precision (~400k objects), bundling
    turns that into O(partitions) objects.
    """
    return _each_partition(tiles_df, lambda pid, batches, to_pandas: _write_artifacts(
        writer, pid, _tile_artifacts(batches, to_pandas, path_fn, debug),
        bundle_path_fn))


def write_webdataset_shards(
    df,
    path_fn,
    writer,
    key_col: str = "doc_id",
    text_col: str = "text",
    meta_cols: list[str] | None = None,
    shard_size: int = 1000,
) -> int:
    """Training-loader sink: pack documents into WebDataset-style tar
    shards (the public webdataset convention — each sample is a run of
    files sharing a basename: ``{key}.txt`` payload + ``{key}.json``
    metadata; loaders stream shards sequentially, so one tar per ~1k
    samples beats a million tiny objects for exactly the reason the
    tile/CSV bundle sinks exist).

    Shard membership is ``key // shard_size`` — a pure projection, so
    the same corpus always packs into the same shards regardless of
    cluster layout (sparse keys make small shards; deterministic beats
    dense here).  One shuffle groups each shard's rows; each tar is
    built in memory (samples sorted by key, zeroed mtimes) making shard
    bytes reproducible run-to-run.  ``path_fn(shard_id) -> rel path``.
    Returns the number of samples written; a ``manifest.json``
    ({shard path: sample count}) is written beside the shards.
    """
    import io
    import json as _json
    import tarfile

    import pandas as pd
    from pyspark.sql import functions as F

    meta_cols = list(meta_cols or [])

    def emit(key, pdf):
        shard_id = int(key[0])
        pdf = pdf.sort_values(key_col, kind="mergesort")
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tar:
            for _, row in pdf.iterrows():
                base = str(row[key_col])
                body = str(row[text_col]).encode()
                meta = _json.dumps(
                    {c: row[c] for c in meta_cols}, default=str
                ).encode()
                for suffix, payload in ((".txt", body), (".json", meta)):
                    info = tarfile.TarInfo(base + suffix)
                    info.size = len(payload)
                    info.mtime = 0
                    tar.addfile(info, io.BytesIO(payload))
        rel = path_fn(shard_id)
        writer.write(buf.getvalue(), rel)
        return pd.DataFrame({"shard": [rel], "n": [len(pdf)]})

    shards = (
        # integer DIV, not float division: double arithmetic silently
        # mis-shards keys past 2^53
        df.withColumn(
            "_shard", F.expr(f"`{key_col}` DIV {int(shard_size)}")
        )
        .groupBy("_shard")
        .applyInPandas(emit, schema="shard string, n long")
        .collect()
    )
    manifest = {r["shard"]: r["n"] for r in shards}
    # manifest lands beside the shards (path_fn's directory), so two
    # shard sets written through one writer root (train/ and val/, say)
    # keep separate inventories instead of clobbering a fixed key
    manifest_rel = os.path.join(
        os.path.dirname(path_fn(0)), "manifest.json"
    )
    write_json(manifest, manifest_rel, writer)
    return sum(manifest.values())
