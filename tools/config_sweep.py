"""Catalog-wide config-invariance sweep: run every catalog + verifier
query under perturbed Spark configs and assert the RESULT VALUES are
identical to the baseline run.

Why this exists: the ANSI sweep proves expressions are well-defined
under strict evaluation; the oracle harness proves values against an
independent engine AT ONE CONFIG.  Neither catches a result that
silently depends on the execution topology — a per-partition ordinal
leaking into output, a sample keyed off partition count, a float
aggregate whose rounding no longer absorbs a different merge order, an
AQE-only plan shape a query accidentally relies on.  On a real cluster
every one of these knobs differs from the test box, so any query whose
values move with them is wrong at 100 TB even though it is green here.

Perturbations (all runtime-settable, applied per pass on one session):
  baseline   — engine defaults (AQE on, 8 shuffle partitions here)
  aqe_off    — spark.sql.adaptive.enabled=false
  parts_7    — spark.sql.shuffle.partitions=7 (odd, non-power-of-2)
  no_bcast   — spark.sql.autoBroadcastJoinThreshold=-1 (hint-free
               queries fall back to shuffle joins)

Every query's result is reduced to the same canonical form the oracle
harness hashes (column-name-sorted, stringified, row-sorted multiset)
and compared to baseline.  A mismatch names the query and the config.

Usage: python tools/config_sweep.py [sf_dir] [query ...]
(no query names = the whole catalog)
Prints one JSON line: {"queries": N, "configs": [...], "failed": {...},
"mismatched": {...}} — both maps empty is a clean sweep.  Exit 1 else.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_CONFIGS: dict[str, dict[str, str]] = {
    "baseline": {},
    "aqe_off": {"spark.sql.adaptive.enabled": "false"},
    "parts_7": {"spark.sql.shuffle.partitions": "7"},
    "no_bcast": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    # The r15 planner-lever candidate (OPTIMIZATION_r14 "not yet" #5):
    # shuffled-hash instead of sort-merge wherever the planner may pick.
    # Combined with no_bcast it exercises SHJ on joins that otherwise
    # broadcast, so value-invariance here clears the lever's risk.
    "prefer_shj": {"spark.sql.join.preferSortMergeJoin": "false",
                   "spark.sql.autoBroadcastJoinThreshold": "-1"},
}

#: session defaults the perturbations override (restored between passes)
_RESTORE = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.autoBroadcastJoinThreshold": "10485760",
    "spark.sql.join.preferSortMergeJoin": "true",
}


def _canon_hash(df) -> str:
    """The oracle harness's canonicalization, reduced to one digest:
    column-name-sorted cells, repr-stringified (exact float repr — the
    same bit-identity the DuckDB comparison demands), rows sorted."""
    cols = df.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = df.collect()

    def cell(v):
        return "∅" if v is None else repr(v)

    canon = sorted(tuple(cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update(repr(cols).encode())
    for row in canon:
        h.update(repr(row).encode())
    return h.hexdigest()


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args.pop(0) if args and os.path.isdir(args[0]) else \
        "/root/testdata/sf0.001"
    only = set(args)

    from slow_tortoise_spark.operators.cachectl import (
        release_unscoped,
    )
    from slow_tortoise_spark.queries import QUERIES, VERIFIER_QUERIES
    from slow_tortoise_spark.session import get_spark

    spark = get_spark(app_name="config_sweep", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    cat = {**VERIFIER_QUERIES, **QUERIES}
    if only:
        cat = {k: v for k, v in cat.items() if k in only}

    hashes: dict[str, dict[str, str]] = {}
    failed: dict[str, str] = {}
    for cfg_name, overrides in _CONFIGS.items():
        for k, v in _RESTORE.items():
            spark.conf.set(k, v)
        for k, v in overrides.items():
            spark.conf.set(k, v)
        hashes[cfg_name] = {}
        for name, fn in sorted(cat.items()):
            try:
                hashes[cfg_name][name] = _canon_hash(fn(spark, sf_dir))
                print(f"ok   [{cfg_name}] {name}", file=sys.stderr)
            except Exception as exc:
                msg = f"{type(exc).__name__}: {exc}"
                failed[f"{cfg_name}/{name}"] = msg[:400]
                print(f"FAIL [{cfg_name}] {name}: {msg[:200]}",
                      file=sys.stderr)
            finally:
                release_unscoped()

    mismatched: dict[str, list[str]] = {}
    base = hashes["baseline"]
    for cfg_name in _CONFIGS:
        if cfg_name == "baseline":
            continue
        for name, digest in hashes[cfg_name].items():
            if name in base and digest != base[name]:
                mismatched.setdefault(name, []).append(cfg_name)

    print(json.dumps({
        "queries": len(cat),
        "configs": list(_CONFIGS),
        "failed": failed,
        "mismatched": mismatched,
    }))
    return 1 if failed or mismatched else 0


if __name__ == "__main__":
    raise SystemExit(main())
