"""Benchmark harness, the one timing path for catalog queries.

    python bench.py [--plans DIR] [query ...]

Runs the 18 headline queries (or the named ones, from ``QUERIES`` or
``VERIFIER_QUERIES``) at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
"sf": ..., "layers": {...}, "head": ..., <load and probe fields>,
"contaminated": ...}.  For a scaled run, point $SPARK_GRAFT_SF_DIR at
the copy from tools/make_sf_scale.py.

Each query is materialized with a noop-format write, which computes
EVERY output column and row without collecting to the driver (a count()
lets Catalyst prune map-only projections, windows and sorts: round 4
measured window_running at 0.58 s as a count vs 4.5 s fully computed).
The session is warmed first so JVM startup isn't attributed to the
first query.  ``queries[q]`` is the min-of-3 wall of build plus write;
``layers[q]`` splits it into ``build_s`` and ``exec_s`` (each the min
over the reps), ``jobs`` (every Spark job of the last rep, eager build
jobs included) and ``first_s`` (rep 0's wall).  ``--plans DIR`` writes
each query's ``explain("formatted")`` to ``DIR/<query>.txt``.  After
each query its operator caches and checkpoints are released, outside
timing, so a sweep over the whole catalog stays bounded.

Fixed host-noise witnesses run between timed regions: a CPU spin after
each query (``cpu_probe_sec``), a 64 MB memory-bandwidth probe after
every third query (``mem_probe_sec``), and an 8-way parallel spin in a
fresh subprocess before and after the suite (``par_probe_sec``).  Load
averages cannot witness HOST-level oversubscription (cycles or the
memory bus slow down with no guest-visible load or steal); the probes
can.  Load above a core-scaled threshold, sustained CPU-probe variance
and a parallel-throughput shift each set ``contaminated``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: Headline set: one per operator family, weighted toward the heavy ones.
BENCH_QUERIES = [
    "pricing_summary",      # scan + hash agg
    "top_orders",           # fact-fact join + topk
    "region_revenue",       # 6-table join
    "window_running",       # big window
    "global_timeseries",    # two-stage datacube agg
    "regional_rollup",      # ROLLUP all levels
    "regional_extrema",     # window min/max + ties
    "qualifier_pivot",      # pivot
    "tile_rollup",          # tile geometry + agg
    "grid_stats",           # exploded zooms
    "minhash_lsh_pairs",    # dedup scale path
    "jaccard_pairs",        # dedup exact path
    "simhash",              # bit-math fingerprints
    "ann_cosine_topk",      # similarity scan
    "token_stats",          # text metrics
    "asof_join",            # union+window as-of join
    "rolling_window",       # time-range window frames
    "salted_agg",           # two-phase skew aggregation
]


def _tree_cpu_seconds() -> float:
    """utime+stime (seconds) of this process and every live
    descendant, via /proc.  The Spark JVM is an unreaped CHILD
    process, so ``os.times()``'s children fields (populated only at
    wait()) miss essentially all of a bench run's CPU — this walks
    the ppid tree instead.  Returns 0.0 off Linux (the verdict then
    degrades to the load_before check alone)."""
    try:
        clk = float(os.sysconf("SC_CLK_TCK"))
        stats: dict[int, tuple[int, float]] = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as fh:
                    rest = fh.read().rsplit(")", 1)[1].split()
                # post-comm fields: [0]=state [1]=ppid [11]=utime [12]=stime
                stats[int(p)] = (
                    int(rest[1]),
                    (int(rest[11]) + int(rest[12])) / clk,
                )
            except (OSError, IndexError, ValueError):
                continue
        tree = {os.getpid()}
        grew = True
        while grew:
            grew = False
            for pid, (ppid, _) in stats.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        return sum(stats[p][1] for p in tree if p in stats)
    except (OSError, ValueError):
        return 0.0


def _cpu_probe() -> float:
    """Fixed pure-Python spin (~0.1 s on an uncontended core): a direct
    witness of the guest's EFFECTIVE CPU speed, which load averages
    cannot see (the same loop measured 0.08 s in quiet windows and
    0.23 s in windows where identical-code suite totals went 12.4 →
    28.9 s, r14 variance record).  Runs OUTSIDE the timed region."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    return time.perf_counter() - t0


def _mem_probe() -> float:
    """Fixed memory-bandwidth witness: 64 MB memset + memcpy + scan
    (~192 MB of traffic, ~0.11 s here).  Complements _cpu_probe — a
    register-bound spin cannot see a co-tenant saturating the host's
    memory bus, which slows shuffle/scan-heavy suites while the spin
    stays fast.  Recorded for adjudication only; not wired into the
    contaminated verdict."""
    t0 = time.perf_counter()
    ba = bytearray(64 * 1024 * 1024)
    b = bytes(ba)
    b.count(255)
    return time.perf_counter() - t0


#: run in a FRESH subprocess (never fork the threaded bench process):
#: 8 processes spinning concurrently witness aggregate parallel
#: throughput — the dimension the single-threaded probes miss when the
#: host oversubscribes vCPUs (observed: a 16 s suite window, 45% above
#: floor, with perfectly stable 0.08 s spins and 0.11 s mem probes).
_PAR_PROBE_SCRIPT = """
import multiprocessing as mp, time
def spin(_):
    x = 0
    for i in range(4_000_000):
        x += i
    return x
if __name__ == "__main__":
    t0 = time.perf_counter()
    with mp.Pool(8) as p:
        p.map(spin, range(8))
    print(time.perf_counter() - t0)
"""


def _par_probe() -> float:
    """8-way parallel spin wall-seconds (~0.26 s uncontended here), or
    0.0 if the subprocess fails (the field then reads as 'no data')."""
    try:
        out = subprocess.run(
            [sys.executable, "-c", _PAR_PROBE_SCRIPT],
            capture_output=True, text=True, timeout=60,
        )
        return round(float(out.stdout.strip()), 4)
    except (OSError, ValueError, subprocess.SubprocessError):
        return 0.0


def _probe_stats(probes: list[float]) -> dict[str, float]:
    s = sorted(probes)
    return {
        "min": round(s[0], 4),
        "med": round(s[len(s) // 2], 4),
        "max": round(s[-1], 4),
    }


def _host_noise_arm(probes: list[float]) -> bool:
    """The 3rd-slowest CPU probe at ≥2× the fastest means the cycle rate
    moved for a sustained part of the run (one GC/page-fault blip can
    spike only the max) — the r14 false-negative case where a 23.4 s
    total printed clean with load ≈ 0.  Fewer than 3 probes (a short
    query list) give no verdict from this arm."""
    return len(probes) >= 3 and sorted(probes)[-3] >= 2.0 * min(probes)


def _par_probe_arm(before: float, after: float) -> bool:
    """An ≥1.8× before/after shift in the 8-way probe means aggregate
    host capacity moved mid-run (measured alongside first-queries 3×
    their floor with BOTH scalar probes stable); probe noise on a
    steady box is ~1.1–1.3×.  0.0 = subprocess failed, no verdict."""
    return (min(before, after) > 0.0
            and max(before, after) >= 1.8 * min(before, after))


def _git_head() -> str | None:
    """``git rev-parse HEAD`` of this checkout, or None outside one."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)), timeout=30,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _make_session(sf_dir: str):
    from slow_tortoise_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="slow_tortoise_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    # Warm up the JVM, codegen compiler, and parquet reader paths so
    # one-time costs aren't attributed to the first query. (Data still
    # flows from files on every query; only process state is warmed.)
    spark.range(1000).selectExpr("sum(id)").collect()
    from slow_tortoise_spark.sources.reader import read_table

    for t in ("lineitem", "orders", "customer", "events", "documents",
              "embeddings", "nation", "region", "supplier"):
        read_table(spark, f"{sf_dir}/{t}.parquet").limit(1).collect()
    return spark


def run_suite(spark, sf_dir: str, names: list[str],
              plans_dir: str | None = None):
    """One suite pass over ``names``: min-of-3 noop-write timing per
    query plus its layer split.  Returns (timings, layers, cpu_probes,
    mem_probes); the probes run between timed regions, one CPU spin per
    query and one memory probe per three queries."""
    from slow_tortoise_spark.operators.cachectl import (
        release_unscoped,
    )
    from slow_tortoise_spark.queries import QUERIES, VERIFIER_QUERIES

    sc = spark.sparkContext
    catalog = {**VERIFIER_QUERIES, **QUERIES}
    timings: dict[str, float] = {}
    layers: dict[str, dict] = {}
    probes: list[float] = []
    mprobes: list[float] = []
    for name in names:
        fn = catalog[name]
        walls: list[float] = []
        builds: list[float] = []
        execs: list[float] = []
        # min-of-3: the first iteration absorbs cold page-cache + codegen
        # for this query's tables (measured: first isolated suite run 15.0s
        # vs 11.4s steady state), the min over the rest damps shared-
        # machine jitter — the round-3 18.1s record was contention, not a
        # plan regression (same code measured 11.4s alone).
        for rep in range(3):
            # the job group tags every job of the rep, eager build jobs
            # included; it is set and cleared outside the timed region
            group = f"bench-{name}-{rep}"
            sc.setJobGroup(group, name)
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            # noop write: computes every column (windows, regexes, sorts
            # survive in the plan — count() would prune them) yet ships
            # nothing to the driver and writes nothing to disk.
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            walls.append(t2 - t0)
            builds.append(t1 - t0)
            execs.append(t2 - t1)
        timings[name] = round(min(walls), 3)
        probes.append(_cpu_probe())
        if len(probes) % 3 == 1:
            mprobes.append(_mem_probe())
        n = df.count()  # row count for the report only — untimed
        print(f"# {name}: {timings[name]}s ({n} rows)", file=sys.stderr)
        if plans_dir:
            plan = sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as fh:
                fh.write(plan)
        release_unscoped()
        # job events reach the status store through the async listener
        # bus; drain it before counting the last rep's group
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        layers[name] = {
            "build_s": round(min(builds), 3),
            "exec_s": round(min(execs), 3),
            "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
            "first_s": round(walls[0], 3),
        }
    return timings, layers, probes, mprobes


def run_bench(spark, sf_dir: str, names: list[str] | None = None,
              plans_dir: str | None = None) -> dict:
    """The bench record: one suite pass over ``names`` (default the
    headline set) with load, probe and contamination fields around it."""
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)
    # 1-min load average before/after makes contamination self-
    # documenting: a run overlapping other work (the r07/r09 pattern —
    # +22% "regressions" that vanished on a quiet box) carries its own
    # adjudication in the recorded JSON line.  Load ≥ the threshold
    # before this process starts its own work means other runnable tasks
    # already held cores, so the timings measure contention, not plans.
    load_before = round(os.getloadavg()[0], 2)
    cpu0, t0 = _tree_cpu_seconds(), time.time()
    # Sample the tree's CPU every ~15 s so the self-load estimate covers
    # only the TRAILING minute (the 1-min EMA is dominated by the last
    # ~60 s; a run-average would over-count a front-loaded suite's share
    # and mask contention that began mid-run).
    samples: list[tuple[float, float]] = [(t0, cpu0)]
    stop = threading.Event()

    def _sample_loop():
        while not stop.wait(15.0):
            samples.append((time.time(), _tree_cpu_seconds()))

    sampler = threading.Thread(target=_sample_loop, daemon=True)
    sampler.start()
    par_before = _par_probe()
    timings, layers, probes, mprobes = run_suite(
        spark, sf_dir, list(names or BENCH_QUERIES), plans_dir)
    par_after = _par_probe()
    stop.set()
    sampler.join(timeout=2.0)
    # snapshot: after a join timeout the sampler may still append
    samples = list(samples)
    load_after = round(os.getloadavg()[0], 2)
    t_end, cpu_end = time.time(), _tree_cpu_seconds()
    samples.append((t_end, cpu_end))
    # Our OWN suite inflates load_1m_after, so the after-sample enters
    # the verdict net of a measured estimate of this tree's contribution
    # to the final EMA: CPU-seconds the tree burned in the TRAILING ~60 s
    # (earliest sample at/after t_end−60 — a window ⊆ the last minute,
    # so the delta can only UNDER-count), divided by 60.  The net value
    # leans toward flagging, never toward missing contention, and both
    # raw loads plus the estimate are recorded for adjudication.
    target = t_end - 60.0
    ref_cpu = min(
        (s for s in samples if s[0] >= target), key=lambda s: s[0]
    )[1]
    self_load = round((cpu_end - ref_cpu) / 60.0, 2)
    # threshold scales with core count both ways; 0.5 only absorbs
    # scheduler noise on tiny boxes
    threshold = max(0.5, 0.1 * (os.cpu_count() or 32))
    return {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "layers": layers,
        "head": _git_head(),
        "load_1m_before": load_before,
        "load_1m_after": load_after,
        "self_load_est": self_load,
        # Effective-CPU-speed witnesses (see _cpu_probe): load accounting
        # cannot see host-level oversubscription, so the probe stats are
        # recorded alongside it.
        "cpu_probe_sec": _probe_stats(probes),
        "mem_probe_sec": _probe_stats(mprobes),
        "par_probe_sec": {"before": par_before, "after": par_after},
        "contaminated": (
            load_before > threshold
            or (load_after - self_load) > threshold
            or _host_noise_arm(probes)
            or _par_probe_arm(par_before, par_after)
        ),
    }


def main() -> None:
    from slow_tortoise_spark.queries import QUERIES, VERIFIER_QUERIES

    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--plans", metavar="DIR",
                        help="write each query's formatted plan here")
    parser.add_argument("names", nargs="*", metavar="query",
                        help="catalog or verifier query names "
                             "(default: the headline set)")
    args = parser.parse_args()
    unknown = [n for n in args.names
               if n not in QUERIES and n not in VERIFIER_QUERIES]
    if unknown:
        parser.error(f"unknown queries: {', '.join(unknown)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _make_session(sf_dir)
    print(json.dumps(run_bench(spark, sf_dir, args.names, args.plans)))


if __name__ == "__main__":
    main()
