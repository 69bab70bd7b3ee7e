"""The query catalog, declared once.

Each family module declares ``ENTRIES``: query name -> (Spark callable,
DuckDB oracle SQL), holding only the queries that module defines.  This
module merges them and splits the result into two tiers:

* the driver tier (``QUERIES`` / ``ORACLE_SQL``): the names listed in
  ``DRIVER_CATALOG``, in that order — the driver hash-checks at most 50;
* the verifier tier (``VERIFIER_QUERIES`` / ``VERIFIER_ORACLE_SQL``):
  every other entry, checked locally by ``tests/oracle_harness.py``.

To add a query, define ``q_<name>`` and its oracle SQL in the family
module and add one ``"<name>": (q_<name>, <sql>)`` line to that module's
``ENTRIES``; it joins the verifier tier.  To move a query between tiers,
edit ``DRIVER_CATALOG`` (keep it at 50 names).  Either way, rewrite
``tests/data/catalog_snapshot.json`` in the same change.  No other
module reads or writes the four dicts built here.
"""
from __future__ import annotations

from slow_tortoise_spark.queries import (
    datacube,
    extended,
    snapshot,
    star,
    tiles,
    training,
    verifier_base,
    verifier_core,
    verifier_iterative,
    verifier_scalarops,
    verifier_stats,
)
from slow_tortoise_spark.queries._shared import (
    Callable,
    DataFrame,
    SparkSession,
)

FAMILIES = (
    star, datacube, tiles, training, extended, verifier_base, verifier_core,
    verifier_iterative, verifier_scalarops, verifier_stats, snapshot,
)

ENTRIES: dict[str, tuple[Callable, str]] = {
    name: entry for family in FAMILIES for name, entry in family.ENTRIES.items()
}

DRIVER_CATALOG: tuple[str, ...] = (
    "grid_stats", "harmonized_union", "pricing_summary", "sessionize_batch",
    "unigram_logprob", "weighted_agg", "bpe_encode", "cms_token_counts",
    "latest_orders", "mad_outliers", "nfc_normalize", "resample_ffill",
    "sq_topk", "stream_stream_join", "tfidf_terms", "token_budget_select",
    "profile_table", "region_revenue", "skew_report", "token_stats",
    "validate_coercion", "pack_sequences_append", "token_budget_mix",
    "token_budget_epochs", "anti_join", "approx_distinct", "bm25_rank",
    "bpe_pairs", "bpe_train", "containment_pairs", "contamination",
    "cube_agg", "dedup_drop", "dedup_exact_docs", "embedding_near_dups",
    "event_sequences", "harmonic_centrality", "hyperplane_lsh_buckets",
    "incremental_dedup", "ivfpq_rerank", "ivfpq_topk", "jaccard_pairs_naive",
    "jsonl_roundtrip", "k_core", "lsh_edit_funnel", "minhash_signatures",
    "pagerank_graph", "pii_redact", "pack_sequences_epochs",
    "pack_sequences_nosplit",
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    name: ENTRIES[name][0] for name in DRIVER_CATALOG
}
ORACLE_SQL: dict[str, str] = {name: ENTRIES[name][1] for name in DRIVER_CATALOG}

VERIFIER_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    name: fn for name, (fn, _) in ENTRIES.items() if name not in QUERIES
}
VERIFIER_ORACLE_SQL: dict[str, str] = {
    name: sql for name, (_, sql) in ENTRIES.items() if name not in QUERIES
}
