"""Self-tests of the benchmark (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]

import gen  # noqa: E402
import run  # noqa: E402
from layers import PER_LAYER  # noqa: E402
from workloads import CatalogQueries, Workload, tree_digest  # noqa: E402


class ArtifactWorkload(Workload):
    """Writes a small artifact tree per op; op number ``corrupt`` (0 is
    the warm-up op) flips one byte of one artifact."""

    name = "artifacts"

    def __init__(self, work, corrupt):
        super().__init__(None, None, str(work))
        self.corrupt, self.n = corrupt, 0

    def run_op(self, call):
        os.makedirs(os.path.join(self.out, "tiles"))
        for i in range(3):
            body = bytearray(f"tile {i}\n".encode() * 4)
            if self.n == self.corrupt and i == 1:
                body[0] ^= 1
            with open(os.path.join(self.out, "tiles", f"{i}.tile"), "wb") as fh:
                fh.write(body)
        self.n += 1
        return tree_digest(self.out)


def test_corrupted_artifact_lowers_ok_ratio(tmp_path):
    clean = run._measure(None, ArtifactWorkload(tmp_path / "a", corrupt=-1), 0, False)
    assert clean["correct"] and clean["metrics"]["ok_ratio"]["value"] == 1.0
    bad = run._measure(None, ArtifactWorkload(tmp_path / "b", corrupt=2), 0, False)
    assert bad["failed"] == 1 and not bad["correct"]
    assert bad["metrics"]["ok_ratio"]["value"] == (bad["attempted"] - 1) / bad["attempted"]


@pytest.fixture(scope="module")
def catalog(tmp_path_factory):
    """A CatalogQueries whose first pass is replaced by the DuckDB
    oracles' own rows, over tiny seeded tables."""
    import duckdb

    from slow_tortoise_spark.queries import ORACLE_SQL, VERIFIER_ORACLE_SQL
    from workloads import HEADLINE_QUERIES

    rng = np.random.default_rng(3)
    tables = gen.star_tables(rng, 0.001)
    tables["events"] = gen.events_table(rng, 2_000, 150)
    tables["documents"] = gen.documents_table(rng, 200)
    tables["embeddings"] = gen.embeddings_table(rng, 200)
    w = CatalogQueries.__new__(CatalogQueries)
    Workload.__init__(w, None, None, str(tmp_path_factory.mktemp("catalog")))
    w.sf_dir = gen.write_tables(tables, os.path.join(w.work, "inputs"))
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{w.sf_dir}/{t}.parquet'")
    oracles = {**VERIFIER_ORACLE_SQL, **ORACLE_SQL}
    rows = {}
    for name in HEADLINE_QUERIES:
        rel = con.sql(oracles[name])
        rows[name] = (list(rel.columns), rel.fetchall())
    return w, rows


def test_catalog_oracle_check_accepts_matching_rows(catalog):
    w, rows = catalog
    w.problems = []
    w.first_check(rows)
    assert w.problems == []


def test_corrupted_query_row_fails_the_run(catalog):
    w, rows = catalog
    name = "pricing_summary"
    cols, good = rows[name]
    first = list(good[0])
    first[-1] = first[-1] + 1
    w.problems = []
    w.first_check({**rows, name: (cols, [tuple(first), *good[1:]])})
    assert w.problems == [f"catalog: {name} != oracle"]

    class Corrupted(ArtifactWorkload):
        def first_check(self, result):
            super().first_check(result)
            self.problems.extend(w.problems)

    res = run._measure(None, Corrupted(w.work + "/run", corrupt=-1), 0, False)
    assert res["failed"] == res["attempted"]
    assert res["metrics"]["ok_ratio"]["value"] == 0.0


def test_every_metric_name_is_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert declared_e2e == run.END_TO_END
    assert declared_layer == PER_LAYER
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert all(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", u)
               for u in [*declared_e2e.values(), *declared_layer.values()])


def test_printed_end_to_end_names_match(tmp_path):
    res = run._measure(None, ArtifactWorkload(tmp_path, corrupt=-1), 0, False)
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.END_TO_END


def test_seed_changes_inputs():
    def tables(seed):
        rng = np.random.default_rng(seed)
        t = gen.star_tables(rng, 0.001)
        t["events"] = gen.events_table(rng, 1_000, 100)
        t["documents"] = gen.documents_table(rng, 100)
        t["embeddings"] = gen.embeddings_table(rng, 100)
        return t

    a, a_again, b = tables(1), tables(1), tables(2)
    assert all(a[name].equals(a_again[name]) for name in a)
    changed = [name for name in a if not a[name].equals(b[name])]
    # region is a fixed dimension; every generated table changes
    assert sorted(changed) == sorted(set(a) - {"region"})
