"""Catalog-wide input-layout-invariance sweep: re-stage every testdata
table as a MULTI-FILE parquet directory (repartition(k)) and assert
every catalog + verifier query returns canonically identical values to
the single-file baseline.

Why this exists alongside tools/config_sweep.py: that sweep perturbs
the EXECUTION topology (AQE, shuffle partitions, join strategy); this
one perturbs the INPUT topology.  On a cluster no table arrives as one
file — scans start from many splits, with different initial partition
counts, row orders within partitions, and fan_out no-op behavior (it
skips the repartition at >= parallelism/2 input partitions, so the
multi-file path exercises the branch the single-file testdata never
does).  Any query whose values move with the file count is leaking
physical layout into results — the monotonically_increasing_id class
of hazard this engine confines to salt terms that never reach output.

Usage: python tools/layout_sweep.py [sf_dir] [k_files]
Prints one JSON line: {"queries": N, "k_files": k, "failed": {...},
"mismatched": [...]} — empty failed + mismatched is a clean sweep.
Exit 1 otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_TABLES = ("region nation customer supplier part orders lineitem events "
           "documents embeddings").split()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from slow_tortoise_spark.operators.cachectl import (
        release_unscoped,
    )
    from slow_tortoise_spark.queries import QUERIES, VERIFIER_QUERIES
    from slow_tortoise_spark.session import get_spark
    from slow_tortoise_spark.sources.reader import read_table
    from tools.config_sweep import _canon_hash

    spark = get_spark(app_name="layout_sweep", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    staged = tempfile.mkdtemp(prefix="layout_sweep_")
    failed: dict[str, str] = {}
    mismatched: list[str] = []
    try:
        # Re-stage every table as k files.  repartition is a full
        # shuffle, so row-to-file assignment ALSO changes, not just the
        # file count — the stronger perturbation.
        for t in _TABLES:
            df = read_table(spark, f"{sf_dir}/{t}.parquet")
            df.repartition(k).write.mode("overwrite").parquet(
                os.path.join(staged, f"{t}.parquet")
            )

        cat = {**VERIFIER_QUERIES, **QUERIES}
        for name, fn in sorted(cat.items()):
            try:
                base = _canon_hash(fn(spark, sf_dir))
                release_unscoped()
                alt = _canon_hash(fn(spark, staged))
                if alt != base:
                    mismatched.append(name)
                    print(f"MISMATCH {name}", file=sys.stderr)
                else:
                    print(f"ok   {name}", file=sys.stderr)
            except Exception as exc:
                msg = f"{type(exc).__name__}: {exc}"
                failed[name] = msg[:400]
                print(f"FAIL {name}: {msg[:200]}", file=sys.stderr)
            finally:
                release_unscoped()
    finally:
        shutil.rmtree(staged, ignore_errors=True)

    print(json.dumps({
        "queries": len(cat),
        "k_files": k,
        "failed": failed,
        "mismatched": mismatched,
    }))
    return 1 if failed or mismatched else 0


if __name__ == "__main__":
    raise SystemExit(main())
