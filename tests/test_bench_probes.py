"""bench.py, the one timing harness for catalog queries.

The probe tests are pure Python: they pin the host-noise witnesses and
the contamination arms added after the r14 variance record (a 23.4 s
suite — 2.7x the sealed floor, identical code — printed
``contaminated: false`` because load accounting cannot see host-level
oversubscription).  ``test_run_bench_record`` drives the harness itself
on the session Spark fixture.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import (  # noqa: E402
    _cpu_probe,
    _host_noise_arm,
    _mem_probe,
    _par_probe,
    _par_probe_arm,
    _probe_stats,
    run_bench,
)


def test_probes_return_positive_seconds():
    c = _cpu_probe()
    m = _mem_probe()
    assert 0.0 < c < 30.0
    assert 0.0 < m < 30.0


def test_par_probe_runs_in_subprocess():
    p = _par_probe()
    # 0.0 is the documented "no data" fallback; a real reading is
    # positive and bounded.
    assert 0.0 <= p < 60.0
    assert p != 0.0, "parallel probe subprocess failed on this box"


def test_probe_stats_shape_and_order():
    stats = _probe_stats([0.3, 0.1, 0.2, 0.15, 0.25])
    assert set(stats) == {"min", "med", "max"}
    assert stats["min"] == 0.1
    assert stats["med"] == 0.2
    assert stats["max"] == 0.3
    assert stats["min"] <= stats["med"] <= stats["max"]


def test_host_noise_arm_needs_sustained_variance():
    """The contaminated arm fires on sorted(probes)[-3] >= 2*min: a
    single blip (GC pause, page fault) must NOT flag a clean run; three
    elevated probes of 18 must.  Below 3 probes (a short query list)
    the arm gives no verdict instead of raising."""
    arm = _host_noise_arm
    quiet = [0.08] * 18
    assert not arm(quiet)
    one_blip = [0.08] * 17 + [0.30]
    assert not arm(one_blip)
    two_blips = [0.08] * 16 + [0.30, 0.25]
    assert not arm(two_blips)
    slow_window = [0.08] * 15 + [0.23, 0.21, 0.19]
    assert arm(slow_window)
    uniformly_slow_half = [0.08] * 9 + [0.20] * 9
    assert arm(uniformly_slow_half)
    assert not arm([0.08])
    assert not arm([0.08, 0.30])


def test_parallel_throughput_arm():
    """The par-probe arm fires on an >=1.8x before/after shift and
    stays silent on steady-box noise (~1.1-1.3x) or a failed probe."""
    arm = _par_probe_arm

    assert not arm(0.26, 0.29)          # steady-box noise
    assert not arm(0.26, 0.33)          # 1.27x, still noise
    assert arm(0.478, 0.251)            # the observed contended start
    assert arm(0.25, 0.50)              # contended end, same verdict
    assert not arm(0.0, 0.26)           # failed probe: no verdict
    assert not arm(0.26, 0.0)


def test_run_bench_record(spark, sf_dir, tmp_path):
    """The record main() prints, for a two-query run: the driver-contract
    keys, a full layer split per query, no stale sidecar cross-read,
    one plan file per query, and nothing left cached or checkpointed."""
    from slow_tortoise_spark.operators.cachectl import (
        tracked_checkpoint_count,
    )

    names = ["pricing_summary", "jaccard_pairs"]
    base = tracked_checkpoint_count()
    rec = run_bench(spark, sf_dir, names, plans_dir=str(tmp_path))
    for key in ("metric", "value", "unit", "queries", "sf",
                "load_1m_before", "load_1m_after", "self_load_est",
                "cpu_probe_sec", "mem_probe_sec", "par_probe_sec",
                "contaminated", "layers", "head"):
        assert key in rec, key
    assert "isolated_sidecar_value" not in rec
    assert list(rec["queries"]) == names
    assert isinstance(rec["contaminated"], bool)
    for q in names:
        lay = rec["layers"][q]
        assert set(lay) == {"build_s", "exec_s", "jobs", "first_s"}
        assert lay["jobs"] >= 1
        # min(build) + min(exec) <= min(build + exec); each of the three
        # figures is rounded to the millisecond, so allow 1.5 ms
        assert lay["build_s"] + lay["exec_s"] <= rec["queries"][q] + 0.0015
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert tracked_checkpoint_count() == base
    files = sorted(os.listdir(tmp_path))
    assert files == sorted(f"{q}.txt" for q in names)
    for f in files:
        assert os.path.getsize(tmp_path / f) > 0


def test_warm_headline_builds_launch_no_jobs(spark, sf_dir):
    """The benchmark's warm ops rest on ``memo.remembered``: once a
    headline query has been built and run, building it again launches no
    Spark job and adds no entry to the store, and all four sites that
    remember (table frames, partition counts, pair prices, the query
    vector) are in it.  With the store emptied, the builds launch jobs
    again (the price and query-vector collects), so the pin has teeth."""
    from bench import BENCH_QUERIES
    from slow_tortoise_spark import memo
    from slow_tortoise_spark.operators.cachectl import release_unscoped
    from slow_tortoise_spark.queries import QUERIES, VERIFIER_QUERIES

    sc = spark.sparkContext
    catalog = {**VERIFIER_QUERIES, **QUERIES}

    def build(name, tag):
        group = f"memo-pin-{tag}-{name}"
        sc.setJobGroup(group, name)
        try:
            df = catalog[name](spark, sf_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # job events reach the status store through the async listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return df, len(sc.statusTracker().getJobIdsForGroup(group))

    memo._STORE.clear()
    try:
        for name in BENCH_QUERIES:
            build(name, "first")[0].write.format("noop") \
                .mode("overwrite").save()
            release_unscoped()
        first = set(memo._STORE)
        warm = {name: build(name, "warm")[1] for name in BENCH_QUERIES}
        assert warm == dict.fromkeys(BENCH_QUERIES, 0)
        assert set(memo._STORE) == first
        assert {key if isinstance(key, str) else key[0]
                for _, key, _ in first} == {
            "read_table", "fan_out", "pair_price", "query_vec"}
        memo._STORE.clear()
        cold = {name: build(name, "cold")[1] for name in BENCH_QUERIES}
        assert sum(cold.values()) > 0, cold
    finally:
        release_unscoped()
