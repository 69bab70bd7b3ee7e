"""Catalog-contract guards: the driver consumes queries()/oracle_sql()
blindly, so structural drift (a query without an oracle, a duplicate
key across tiers, an oracle emitting int128) must fail HERE, not in the
driver's correctness run."""

from __future__ import annotations

import hashlib
import json
import os

SNAPSHOT = os.path.join(os.path.dirname(__file__), "data", "catalog_snapshot.json")


def _catalog_snapshot() -> dict:
    """The four catalog dicts reduced to JSON: driver keys in order, the
    defining ``module.qualname`` of every callable, and the sha256 of
    every oracle SQL string."""
    from slow_tortoise_spark.queries import (
        ORACLE_SQL,
        QUERIES,
        VERIFIER_ORACLE_SQL,
        VERIFIER_QUERIES,
    )

    def fns(d):
        return {k: f"{f.__module__}.{f.__qualname__}" for k, f in d.items()}

    def shas(d):
        return {k: hashlib.sha256(s.encode()).hexdigest() for k, s in d.items()}

    return {
        "QUERIES_ORDER": list(QUERIES),
        "QUERIES": fns(QUERIES),
        "ORACLE_SQL": shas(ORACLE_SQL),
        "VERIFIER_QUERIES": fns(VERIFIER_QUERIES),
        "VERIFIER_ORACLE_SQL": shas(VERIFIER_ORACLE_SQL),
    }


def test_catalog_snapshot():
    """Catalog membership, tier, order, callables and oracle text are
    pinned by ``tests/data/catalog_snapshot.json``.  Moving a query
    between tiers or editing an oracle is a deliberate change: rewrite
    the fixture with ``json.dump(_catalog_snapshot(), fh, indent=1,
    sort_keys=True)`` in the same commit."""
    with open(SNAPSHOT) as fh:
        assert _catalog_snapshot() == json.load(fh)


def test_driver_catalog_is_complete_and_capped():
    import __spark_entry__ as e
    from slow_tortoise_spark.queries import (
        VERIFIER_ORACLE_SQL,
        VERIFIER_QUERIES,
    )

    q = e.queries()
    o = e.oracle_sql()
    assert len(q) == 50  # the driver's hard cap — exactly filled
    assert set(q) == set(o), (
        set(q) ^ set(o)
    )  # every driver query is hash-checked
    assert set(VERIFIER_QUERIES) == set(VERIFIER_ORACLE_SQL)
    # the tiers never overlap (a key in both would shadow silently)
    assert not set(q) & set(VERIFIER_QUERIES)
    # every entry is callable / SQL text
    assert all(callable(f) for f in q.values())
    assert all(isinstance(s, str) and s.strip() for s in o.values())

    # membership is declared once: 50 unique driver names, and every
    # family entry lands in exactly one tier (none silently shadowed)
    from slow_tortoise_spark.queries.catalog import DRIVER_CATALOG, FAMILIES

    assert len(DRIVER_CATALOG) == len(set(DRIVER_CATALOG)) == 50
    assert list(q) == list(DRIVER_CATALOG)
    sizes = [len(f.ENTRIES) for f in FAMILIES]
    assert sum(sizes) == 150 == len(q) + len(VERIFIER_QUERIES), sizes
    # each family declares only the queries it defines
    misplaced = {
        name: (fam.__name__, fn.__module__)
        for fam in FAMILIES
        for name, (fn, _) in fam.ENTRIES.items()
        if fn.__module__ != fam.__name__
    }
    assert not misplaced, misplaced


def test_rotation_staleness_invariant():
    """Formal rotation-fairness contract (round-9 verdict item 7): with
    129 queries and a 50-slot driver catalog, rotation must guarantee
    every query keeps earning driver-side CORRECTNESS rows.  Two rules,
    checked against the recorded CORRECTNESS_r*.json history:

    1. A query that has NEVER had a driver row must be IN the current
       catalog (it gets its first row next driver run) — the
       csv_roundtrip/jsonl_roundtrip gap class can't reopen.
    2. Every query NOT in the current catalog must have a driver row
       within the last 5 recorded rounds (50 slots / ~27 rotations per
       round cycle all 129 queries well inside that window).  A new
       tier landing mid-round must rotate in immediately or it trips
       rule 1; a query parked in the verifier tier trips rule 2 when
       its rest exceeds the cycle length.
    """
    import glob
    import json
    import os

    import __spark_entry__ as e
    from slow_tortoise_spark.queries import VERIFIER_QUERIES

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds = {}
    for f in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        rnd = int(f.rsplit("_r", 1)[1].split(".")[0])
        with open(f) as fh:
            rows = json.load(fh)
        for name, res in rows.items():
            if res.get("hash_match") or res.get("rows_match"):
                rounds.setdefault(name, set()).add(rnd)
    assert rounds, "no CORRECTNESS_r*.json recorded yet"
    latest = max(r for s in rounds.values() for r in s)
    catalog = set(e.queries())
    never = {
        q for q in (catalog | set(VERIFIER_QUERIES)) if q not in rounds
    }
    assert never <= catalog, (
        f"never driver-checked AND not in catalog: {never - catalog}"
    )
    stale = {
        q: max(rounds[q])
        for q in VERIFIER_QUERIES
        if q in rounds and max(rounds[q]) < latest - 4
    }
    assert not stale, (
        f"verifier queries >5 rounds without a driver row "
        f"(latest recorded r{latest}): {stale}"
    )


def test_no_oracle_emits_int128(spark):
    """DuckDB widens SUM(BIGINT) to HUGEINT, which hash-mismatches
    Spark's BIGINT even for identical values (the dup_ngram_stats
    lesson).  Describe every oracle against empty views and reject
    int128 output columns outright."""
    import duckdb

    import __spark_entry__ as e
    from slow_tortoise_spark.queries import VERIFIER_ORACLE_SQL

    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'"
        )
    bad = {}
    for name, sql in {**e.oracle_sql(), **VERIFIER_ORACLE_SQL}.items():
        try:
            cols = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception:
            continue  # non-describable oracles fail louder elsewhere
        hug = [c[0] for c in cols if "HUGEINT" in (c[1] or "").upper()]
        if hug:
            bad[name] = hug
    assert not bad, f"int128 oracle columns: {bad}"
