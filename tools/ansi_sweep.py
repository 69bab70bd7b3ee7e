"""Catalog-wide ANSI-mode sweep: execute every catalog + verifier query
with ``spark.sql.ansi.enabled=true`` and report any that throw.

Why this exists: the default (non-ANSI) evaluator silently wraps
integer overflow, returns NULL on bad casts, and ignores
division-by-zero — so a latent overflow (the round-8 `_salt_expr` find)
runs green in every oracle comparison yet throws
``ArithmeticException`` the moment a production cluster enables ANSI
(Spark 4 ships it ON by default).  The oracle harness proves VALUES;
this sweep proves the expressions are well-defined under strict
evaluation.  A query is a finding if it raises under ANSI — either the
expression needs an overflow-free rewrite (pmod/XOR mixes, widened
accumulators) or, where non-ANSI semantics are load-bearing (e.g.
try_cast-style coercion), the lenient call must be explicit
(``try_*`` functions) instead of relying on the global flag.

Usage: python tools/ansi_sweep.py [sf_dir]
Prints one JSON line: {"queries": N, "failed": {name: error}} — empty
"failed" is a clean sweep.  Exit 1 on any failure.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from slow_tortoise_spark.operators.cachectl import (
        release_unscoped,
    )
    from slow_tortoise_spark.queries import QUERIES, VERIFIER_QUERIES
    from slow_tortoise_spark.session import get_spark

    spark = get_spark(app_name="ansi_sweep", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    failed: dict[str, str] = {}
    cat = {**VERIFIER_QUERIES, **QUERIES}
    for name, fn in sorted(cat.items()):
        try:
            n = fn(spark, sf_dir).count()
            print(f"ok   {name}: {n} rows", file=sys.stderr)
        except Exception as exc:
            msg = f"{type(exc).__name__}: {exc}"
            failed[name] = msg[:400]
            print(f"FAIL {name}: {msg[:200]}", file=sys.stderr)
        finally:
            release_unscoped()
    print(json.dumps({"queries": len(cat), "failed": failed}))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
