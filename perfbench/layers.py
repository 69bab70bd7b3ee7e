"""The per-layer metrics a traced run reports, named ``layer.call.metric``
after the library's modules.  Every traced run prints every name; a
layer a workload never enters reads 0.  README.md says which
end-to-end metric each should move, on which workload."""

from __future__ import annotations

import statistics

from workloads import HEADLINE_QUERIES

#: spans whose self time is reported as ``<span>.s``
SELF_TIME_SPANS = (
    "sources.read_datacube",
    "sources.read_table",
    "operators.validate.validate_and_fix",
    "operators.temporal.temporal_aggregation",
    "operators.regional.regional_aggregation_all_levels",
    "operators.extrema.regional_extrema",
    "operators.tiles.subtile_aggregation",
    "operators.tiles.tiles_all_levels",
    "operators.tiles.grid_stats",
    "operators.summary.qualifier_counts",
    "operators.summary.rows_per_feature",
    "operators.summary.output_summary",
    "operators.pivot.qualifier_timeseries_pivot",
    "sinks.write_grouped_csv",
    "sinks.write_grouped_json",
    "sinks.write_json",
    "sinks.write_tiles",
    "operators.dedup.minhash_lsh_candidates",
    "operators.dedup.jaccard_pairs_auto",
    "operators.dedup.simhash64",
    "operators.similarity.brute_force_topk",
    "operators.skew.salted_aggregation",
    "operators.timejoin.asof_join",
    "operators.timejoin.rolling_time_agg",
)

#: spans whose call count is reported as ``<span>.calls``
CALL_COUNT_SPANS = (
    "sinks.write_grouped_csv",
    "sinks.write_grouped_json",
    "sinks.write_json",
    "sinks.write_tiles",
)

_MB = 1024.0 * 1024.0

#: name -> unit, in report order
PER_LAYER: dict[str, str] = {
    "session.jobs_per_op": "count",
    "session.sql_executions_per_op": "count",
    "session.stages_per_op": "count",
    "session.tasks_per_op": "count",
    "session.shuffle_write_mb_per_op": "MB",
    "session.spill_mb_per_op": "MB",
    "session.input_mb_per_op": "MB",
    "session.driver_gc_s_per_op": "s",
    **{f"{s}.s": "s" for s in SELF_TIME_SPANS},
    **{f"{s}.calls": "count" for s in CALL_COUNT_SPANS},
    "sinks.files_per_op": "count",
    "sinks.bytes_per_op": "B",
    **{f"queries.{q}.{m}": u for q in HEADLINE_QUERIES
       for m, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))},
    "host.spin_s": "s",
    "trace.untraced_op_p50_s": "s",
    "trace.traced_op_p50_s": "s",
    "trace.overhead_s": "s",
}


def _op_values(op: dict) -> dict[str, float]:
    spans, spark = op["spans"], op["spark"]
    v = {
        "session.jobs_per_op": op["jobs"],
        "session.sql_executions_per_op": spark["sql_executions"],
        "session.stages_per_op": spark["stages"],
        "session.tasks_per_op": spark["tasks"],
        "session.shuffle_write_mb_per_op": spark["shuffle_write_bytes"] / _MB,
        "session.spill_mb_per_op": spark["spill_bytes"] / _MB,
        "session.input_mb_per_op": spark["input_bytes"] / _MB,
        "session.driver_gc_s_per_op": spark["gc_s"],
        "sinks.files_per_op": op["files"],
        "sinks.bytes_per_op": op["bytes"],
    }
    for s in SELF_TIME_SPANS:
        v[f"{s}.s"] = spans.get(s, {}).get("self_s", 0.0)
    for s in CALL_COUNT_SPANS:
        v[f"{s}.calls"] = spans.get(s, {}).get("calls", 0)
    for q in HEADLINE_QUERIES:
        build = spans.get(f"queries.{q}.build", {})
        run = spans.get(f"queries.{q}.exec", {})
        v[f"queries.{q}.build_s"] = build.get("s", 0.0)
        v[f"queries.{q}.exec_s"] = run.get("s", 0.0)
        v[f"queries.{q}.jobs"] = build.get("jobs", 0) + run.get("jobs", 0)
    return v


def layer_metrics(traced_ops: list[dict], all_ops: list[dict],
                  untraced_p50: float) -> dict[str, tuple[float, str]]:
    """Median over the traced ops of each per-layer value, plus the host
    witness over every op and the tracing overhead."""
    per_op = [_op_values(op) for op in traced_ops]
    traced_p50 = statistics.median(op["wall"] for op in traced_ops)
    out = {name: (statistics.median(v[name] for v in per_op), PER_LAYER[name])
           for name in per_op[0]}
    out["host.spin_s"] = (statistics.median(op["spin"] for op in all_ops), "s")
    out["trace.untraced_op_p50_s"] = (untraced_p50, "s")
    out["trace.traced_op_p50_s"] = (traced_p50, "s")
    out["trace.overhead_s"] = (traced_p50 - untraced_p50, "s")
    return {name: out[name] for name in PER_LAYER}
