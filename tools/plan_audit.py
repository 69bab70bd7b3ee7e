"""Repo-wide physical-plan audit: build every catalog + verifier query
at a small SF and grep the executed plan for anti-patterns —
CartesianProduct, row-at-a-time Python (BatchEvalPython), and
Arrow-batch Python outside the known justified set.  test_plans.py pins
specific shapes per query; this tool is the blanket sweep that catches
a NEW query regressing the repo-wide guarantees.

Usage: python tools/plan_audit.py [sf_dir]
Prints one JSON line: {"queries": N, "flagged": {...}} — empty flagged
is a clean audit.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: queries whose plans legitimately contain ArrowEvalPython (documented
#: pandas_udf tiers: unicodedata NFC; media codecs never enter the
#: catalog, they are pipeline-only)
ARROW_OK = {"nfc_normalize"}

#: queries whose plans legitimately contain FlatMapGroupsInPandas (the
#: r15 BLAS candidate prune — similarity._blas_bound_pairs: one blocked
#: X @ X.T per bucket replaces Σ|bucket|² interpreted per-pair cosine
#: folds; the exact JVM rescore of survivors keeps results
#: bit-identical)
#: plus the pre-existing packing tier (packing.pack_sequences_nosplit:
#: next-fit packing is inherently sequential per bucket — documented
#: applyInPandas since the r14 build wave)
GROUPED_ARROW_OK = {"embedding_near_dups", "semdedup_pairs",
                    "semdedup_auto", "pack_sequences_nosplit"}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from slow_tortoise_spark.operators.cachectl import (
        release_unscoped,
    )
    from slow_tortoise_spark.queries import QUERIES, VERIFIER_QUERIES
    from slow_tortoise_spark.session import get_spark

    spark = get_spark(app_name="plan_audit", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    flagged: dict[str, list[str]] = {}
    cat = {**VERIFIER_QUERIES, **QUERIES}
    for name, fn in sorted(cat.items()):
        try:
            plan = (
                fn(spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString()
            )
        except Exception as exc:  # a query that cannot even plan is a flag
            flagged[name] = [f"plan-error: {type(exc).__name__}: {exc}"[:200]]
            continue
        finally:
            release_unscoped()
        hits = []
        if "CartesianProduct" in plan:
            hits.append("CartesianProduct")
        if "BatchEvalPython" in plan:
            hits.append("BatchEvalPython (row-at-a-time Python)")
        if "ArrowEvalPython" in plan and name not in ARROW_OK:
            hits.append("ArrowEvalPython (undocumented pandas_udf)")
        if ("FlatMapGroupsInPandas" in plan
                and name not in GROUPED_ARROW_OK):
            hits.append("FlatMapGroupsInPandas (undocumented "
                        "applyInPandas)")
        if hits:
            flagged[name] = hits
    print(json.dumps({"queries": len(cat), "flagged": flagged}))
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
